"""Custom stateful streaming operator via ``applyInPandasWithState``.

Built-in windowed aggregations (streaming/windows.py) cover the
declarative cases; this is the escape hatch for *imperative* per-key
state machines — fraud counters, session enrichment, CDC merge,
anything where the update rule is code, not an aggregate expression.

Operators here, both in output mode "update" (each micro-batch folds
its rows into the key's state and emits the updated snapshot, so the
sink always holds the latest per-user row):

- :func:`running_user_totals` — state = (event count, value sum);
- :func:`user_type_profile` — per-user event-type profile.

Spark 4's transformWithState is not used: its Python state-server
protocol imports ``google.protobuf``, which is not a dependency of
this package, so an operator on it could not run where the package
does.

Mechanics worth knowing at 100 TB:

- state lives in the state store, partitioned by the grouping key:
  one shuffle on user_id per batch, state co-located with its key's
  executor. State size = O(distinct users) x 16 bytes — bounded.
- the pandas function receives ALL rows of one key in the batch as
  Arrow batches; per-batch work is vectorized numpy.
- timeouts (GroupStateTimeout) GC idle keys; we keep NoTimeout since
  user totals are meant to live forever.
- the UDF closure is shipped by value (nested def) so external
  drivers run it without this package on executor PYTHONPATH.

Differential check: with trigger=availableNow over a static file the
final emitted snapshot per user must equal the batch groupBy — the
same stream≡batch discipline as the windowing tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
PROFILE_SCHEMA = (
    "user_id long, n_events long, n_types long, top_type string, top_type_n long"
)
STATE_SCHEMA = "n long, total double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Stateful per-user (count, sum(value)) maintained across
    micro-batches; emits the updated snapshot for keys seen in each
    batch."""

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total_value": round(total, 2)}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_type_profile(events: DataFrame) -> DataFrame:
    """Per-user event-type profile: total events, distinct types and
    the dominant type (max count, lexicographic tie) with its count.
    Emits an updated snapshot for every user seen in a micro-batch.

    State: parallel arrays (types, counts) + total — GroupState offers
    one struct blob, so the whole profile is read-modify-written per
    batch; its size is O(distinct types per user).
    """

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        if state.exists:
            types, counts, n = state.get
            tally = dict(zip(list(types), [int(c) for c in counts]))
            n = int(n)
        else:
            tally, n = {}, 0
        for pdf in pdfs:
            n += len(pdf)
            for t, c in pdf["event_type"].value_counts().items():
                tally[t] = tally.get(t, 0) + int(c)
        state.update((list(tally.keys()), list(tally.values()), n))
        top_n = max(tally.values())
        top_type = min(t for t, c in tally.items() if c == top_n)
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "n_types": len(tally),
                    "top_type": top_type,
                    "top_type_n": top_n,
                }
            ]
        )

    return events.select("user_id", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=PROFILE_SCHEMA,
        stateStructType="types array<string>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
