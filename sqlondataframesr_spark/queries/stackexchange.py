"""The reference's SIX original queries on its OWN schema.

`queries/reference.py` transposes the six tasks onto the driver's
synthetic star schema (that is what the external correctness gate
checks). THIS module is the direct parity artifact: the same
Users/Posts/Votes/Comments/Badges tables the reference loads
(RDataFramesSQL.Rmd:61-67; column contract in FIXTURES.md §A), the
same six query shapes (Rmd:75-81, 176-181, 289-298, 396-412, 522-532,
613-627), a deterministic fixture generator reproducing the data
characteristics the queries depend on (multi-year votes, NULL-bearing
FavoriteCount/OwnerUserId/Age/Location/UserId, self-referential Posts,
badge counts straddling the HAVING band), and a DuckDB oracle per task
over the very same CSVs.

Dialect decisions (SURVEY.md §4):

- SQLite's bare-column argmax (``SELECT Title, MAX(Count) .. GROUP
  BY Year`` returning Title *from the max row*) is rewritten as a
  ``row_number()`` window — and because SQLite picks an *arbitrary*
  max row on ties, we pin the deterministic refinement
  ``ORDER BY value DESC, Id ASC`` on BOTH engines.
- Task 4's SELECT-alias-in-WHERE (``WHERE Difference > 50``) is
  inlined into a post-projection filter.
- ``STRFTIME('%Y', CreationDate)`` (string year) maps to
  ``date_format(to_date(...), 'yyyy')`` — string on both sides.

Scale notes: identical posture to the transposed forms — filters
before joins (pushdown does it anyway), single keyed shuffle per
aggregate, window argmax partitions by the group key, top-k lowers to
TakeOrderedAndProject.
"""

from __future__ import annotations

import csv
import os
import random
import weakref
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.dialect import dual
from ..materialize import materialize
from ..sources.io import read_csv
from ..tmpcache import cache_dir, write_once

SCHEMAS = {
    "Users": "Id INT, DisplayName STRING, Age INT, Location STRING, Reputation INT",
    "Posts": (
        "Id INT, Title STRING, PostTypeId INT, ParentId INT, Score INT,"
        " OwnerUserId INT, FavoriteCount INT, AcceptedAnswerId INT, AnswerCount INT"
    ),
    "Votes": "Id INT, PostId INT, VoteTypeId INT, CreationDate STRING",
    "Comments": "Id INT, PostId INT, UserId INT, Score INT",
    "Badges": "Id INT, UserId INT, Name STRING, Class INT",
    "Tags": "Id INT, TagName STRING, Count INT",
    "PostLinks": "Id INT, PostId INT, RelatedPostId INT, LinkTypeId INT",
}

_BADGE_NAMES = [f"badge_{i}" for i in range(24)]
_LOCATIONS = ["Warsaw", "Lisbon", "Kyoto", "Quito", "Tunis", "Oslo"]


def generate_fixture(out_dir: str, seed: int = 42, scale: float = 1.0) -> dict[str, str]:
    """Write a deterministic Stack-Exchange-shaped CSV dump.

    Pure ``random.Random(seed)`` — same bytes on every run/platform.
    Shapes per FIXTURES.md §A: answers point at questions (ParentId),
    questions at accepted answers; NULL density on the columns whose
    NULL paths the reference exercises.

    ``scale`` multiplies every table's row count; scale=1 preserves
    the historical byte-identical fixture (same rng draw order).
    scale=100 reproduces the magnitude of the reference's real
    travel.stackexchange.com dump (RDataFramesSQL.Rmd:26-33 — ~400k
    votes, ~85k posts; BASELINE.md's per-task medians were measured
    there), which is what bench.py times the literal tasks against.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}

    def write(name: str, header: list[str], rows: list[list]) -> None:
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(rows)
        paths[name] = path

    n_users, n_questions, n_answers = (
        int(150 * scale), int(400 * scale), int(450 * scale)
    )
    users = [
        [
            uid,
            f"user {uid}",
            rng.randint(18, 80) if rng.random() > 0.3 else None,
            rng.choice(_LOCATIONS) if rng.random() > 0.2 else None,
            rng.randint(1, 20000),
        ]
        for uid in range(1, n_users + 1)
    ]
    write("Users", ["Id", "DisplayName", "Age", "Location", "Reputation"], users)

    questions = []
    for qid in range(1, n_questions + 1):
        questions.append(
            [
                qid,
                f"question title {qid}",
                1,
                None,
                rng.randint(-5, 60),
                rng.randint(1, n_users) if rng.random() > 0.05 else None,
                rng.randint(0, 40) if rng.random() > 0.4 else None,
                None,  # AcceptedAnswerId patched below
                0,
            ]
        )
    answers = []
    q_answers: dict[int, list[int]] = {}
    for i in range(n_answers):
        aid = n_questions + 1 + i
        parent = rng.randint(1, n_questions)
        answers.append(
            [
                aid,
                None,
                2,
                parent,
                rng.randint(-5, 120),
                rng.randint(1, n_users) if rng.random() > 0.05 else None,
                None,
                None,
                None,
            ]
        )
        q_answers.setdefault(parent, []).append(aid)
    for q in questions:
        aids = q_answers.get(q[0])
        if aids and rng.random() > 0.3:
            q[7] = rng.choice(aids)  # accepted answer
        q[8] = len(aids or [])
    write(
        "Posts",
        [
            "Id",
            "Title",
            "PostTypeId",
            "ParentId",
            "Score",
            "OwnerUserId",
            "FavoriteCount",
            "AcceptedAnswerId",
            "AnswerCount",
        ],
        questions + answers,
    )

    votes = [
        [
            vid,
            rng.randint(1, n_questions + n_answers),
            rng.choice([1, 2, 2, 2, 3, 5]),
            f"{rng.randint(2015, 2019)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        ]
        for vid in range(1, int(4000 * scale) + 1)
    ]
    write("Votes", ["Id", "PostId", "VoteTypeId", "CreationDate"], votes)

    comments = [
        [
            cid,
            rng.randint(1, n_questions + n_answers),
            rng.randint(1, n_users) if rng.random() > 0.1 else None,
            rng.randint(-2, 15),
        ]
        for cid in range(1, int(1500 * scale) + 1)
    ]
    write("Comments", ["Id", "PostId", "UserId", "Score"], comments)

    badges = [
        [
            bid,
            rng.randint(1, n_users),
            rng.choice(_BADGE_NAMES),
            rng.choice([1, 1, 2, 3]),
        ]
        for bid in range(1, int(500 * scale) + 1)
    ]
    write("Badges", ["Id", "UserId", "Name", "Class"], badges)

    # loaded-but-never-queried parity tables (RDataFramesSQL.Rmd:62, 65)
    write("Tags", ["Id", "TagName", "Count"], [[1, "travel", 10]])
    write("PostLinks", ["Id", "PostId", "RelatedPostId", "LinkTypeId"], [[1, 1, 2, 1]])
    return paths


#: SparkSession -> {data_dir: {name: DataFrame}}. Caches the ANALYZED
#: RELATIONS (driver-side plan construction: file listing + schema
#: binding — 7 spark.read.csv calls cost a measured ~0.22 s of driver
#: RPC round-trips), NOT data: every action still re-scans the CSVs.
#: This is the exact analogue of the reference's protocol — the Rmd
#: read.csv-loads its data.frames ONCE at document start and
#: microbenchmark() times queries over the loaded frames
#: (RDataFramesSQL.Rmd:61-67 vs :139-152) — so repeated task
#: invocations (bench runs, repeated driver checks) must not re-pay
#: relation construction that the baseline's timed region never
#: contained. Keyed WEAKLY by the SparkSession itself — not by
#: applicationId — because BOTH the cached DataFrames and temp views
#: are per-session state: a spark.newSession() shares the appId but
#: has its own catalog and cannot execute another session's plans
#: (code-review r8). A stopped/collected session simply drops out.
_se_cache: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)
#: SparkSession -> cache key whose tables currently own that session's
#: temp-view names (a dir switch OR file regeneration must re-register).
_se_views_dir: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def _se_cache_key(data_dir: str) -> tuple:
    """(data_dir, (mtime_ns, size) x7): a cached relation pins file
    metadata (InMemoryFileIndex captures file lengths at first read),
    so regenerating fixture CSVs in a live session MUST miss the cache
    — stale lengths would silently truncate later scans (r8 ADVICE).
    os.stat x7 is ~10 us vs the ~0.22 s relation construction saved."""
    sig = []
    for name in SCHEMAS:
        try:
            st = os.stat(os.path.join(data_dir, f"{name}.csv"))
            sig.append((st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append(None)
    return (data_dir, tuple(sig))


def load_se(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """read.csv x7 + view registration — the reference's load step."""
    per = _se_cache.setdefault(spark, {})
    key = _se_cache_key(data_dir)
    out = per.get(key)
    if out is None:
        # drop superseded entries for the same dir (regenerated files)
        for stale in [k for k in per if k[0] == data_dir]:
            del per[stale]
        out = {
            name: read_csv(
                spark, os.path.join(data_dir, f"{name}.csv"), schema=schema
            )
            for name, schema in SCHEMAS.items()
        }
        per[key] = out
    if _se_views_dir.get(spark) != key:
        for name, df in out.items():
            df.createOrReplaceTempView(name)
        _se_views_dir[spark] = key
    return out


def task1_upvotes_per_year(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:75-81 — per year, the question with the most upvotes.

    Argmax form: the per-year winner rides a partial-aggregating
    ``max_by(_, struct(Count, -Id))`` groupBy — the same single-shuffle
    rewrite the transposed q1 uses (operators/argmax.py) — NOT a
    ``Window.partitionBy("Year")``, whose ~15 year-partitions would
    serialize the row_number onto 15 tasks at 100x scale (VERDICT r6
    item 5). Ties break to the smallest post Id, matching the previous
    window's ``orderBy(desc(Count), asc(Id))``; TASK1_ORACLE pins the
    output either way.
    """
    t = load_se(spark, data_dir)
    up_per_year = (
        t["Votes"]
        .filter(F.col("VoteTypeId") == 2)
        .withColumn("Year", F.date_format(F.to_date("CreationDate", "yyyy-MM-dd"), "yyyy"))
        .groupBy("PostId", "Year")
        .agg(F.count(F.lit(1)).alias("Count"))
    )
    joined = (
        t["Posts"].filter(F.col("PostTypeId") == 1)
        .join(up_per_year, F.col("Id") == F.col("PostId"))
    )
    ord_struct = F.struct(F.col("Count"), (-F.col("Id")).alias("nid"))
    return (
        joined.groupBy("Year")
        .agg(
            F.max("Count").alias("Count"),
            F.max_by("Title", ord_struct).alias("Title"),
        )
        .select("Title", "Year", "Count")
        .orderBy("Year")
    )


TASK1_ORACLE = """
WITH UpVotesPerYear AS (
  SELECT PostId, strftime(CAST(CreationDate AS DATE), '%Y') AS Year, COUNT(*) AS Count
  FROM Votes WHERE VoteTypeId = 2 GROUP BY PostId, Year
),
j AS (
  SELECT p.Id, p.Title, u.Year, u.Count,
         row_number() OVER (PARTITION BY u.Year ORDER BY u.Count DESC, p.Id) AS rn
  FROM Posts p JOIN UpVotesPerYear u ON p.Id = u.PostId
  WHERE p.PostTypeId = 1
)
SELECT Title, Year, Count FROM j WHERE rn = 1 ORDER BY Year
"""


def task2_top_favorited_users(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:176-181 — top-10 users by total favorites, with each user's
    most-favorited question (argmax, NULLs skipped by SUM/MAX)."""
    t = load_se(spark, data_dir)
    q = t["Posts"].filter(F.col("PostTypeId") == 1)
    # Single-shuffle argmax (VERDICT r6 item 5): SUM + MAX + the argmax
    # Title all ride ONE partial-aggregating groupBy via max_by over a
    # (FavoriteCount, -Id) struct — no row_number window, no second
    # shuffle. NULL FavoriteCount structs compare smallest in Spark's
    # struct ordering, which is exactly the previous window's
    # desc_nulls_last placement; an all-NULL group falls back to the
    # smallest Id, same as the window's asc(Id) tie-break.
    # TASK2_ORACLE pins the output either way.
    ord_struct = F.struct(F.col("FavoriteCount"), (-F.col("Id")).alias("nid"))
    per_user = (
        q.groupBy("OwnerUserId")
        .agg(
            F.sum("FavoriteCount").alias("FavoriteTotal"),
            F.max_by("Title", ord_struct).alias("MostFavoriteQuestion"),
            F.max("FavoriteCount").alias("MostFavoriteQuestionLikes"),
        )
    )
    return (
        t["Users"].join(per_user, F.col("Id") == F.col("OwnerUserId"))
        .select(
            "DisplayName", "Age", "Location",
            "FavoriteTotal", "MostFavoriteQuestion", "MostFavoriteQuestionLikes",
        )
        .orderBy(F.desc_nulls_last("FavoriteTotal"), F.asc("DisplayName"))
        .limit(10)
    )


TASK2_ORACLE = """
WITH ranked AS (
  SELECT OwnerUserId, Title, FavoriteCount,
         row_number() OVER (PARTITION BY OwnerUserId
                            ORDER BY FavoriteCount DESC NULLS LAST, Id) AS rn
  FROM Posts WHERE PostTypeId = 1
),
per_user AS (
  SELECT OwnerUserId,
         CAST(SUM(FavoriteCount) AS BIGINT) AS FavoriteTotal,
         MAX(CASE WHEN rn = 1 THEN Title END) AS MostFavoriteQuestion,
         MAX(FavoriteCount) AS MostFavoriteQuestionLikes
  FROM ranked GROUP BY OwnerUserId
)
SELECT u.DisplayName, u.Age, u.Location,
       p.FavoriteTotal, p.MostFavoriteQuestion, p.MostFavoriteQuestionLikes
FROM Users u JOIN per_user p ON u.Id = p.OwnerUserId
ORDER BY p.FavoriteTotal DESC NULLS LAST, u.DisplayName
LIMIT 10
"""


def task3_top_positive_answer_counts(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:289-298 — top-10 questions by count of positively-scored
    answers (derived table self-join)."""
    t = load_se(spark, data_dir)
    # Posts feeds both sides of the self-join, but each branch prunes
    # to 2-3 columns — two pruned CSV scans beat a full-width cache
    # (measured: materialize() here was 0.40 -> 0.47 s at scale=100)
    posts2 = (
        t["Posts"]
        .filter((F.col("PostTypeId") == 2) & (F.col("Score") > 0))
        .groupBy("ParentId")
        .agg(F.count(F.lit(1)).alias("PositiveAnswerCount"))
    )
    return (
        t["Posts"].alias("p")
        .join(posts2.alias("p2"), F.col("p.Id") == F.col("p2.ParentId"))
        .select(F.col("p.Id").alias("Id"), "p.Title", "p2.PositiveAnswerCount")
        .orderBy(F.desc("PositiveAnswerCount"), F.asc("Id"))
        .limit(10)
    )


TASK3_ORACLE = """
WITH Posts2 AS (
  SELECT ParentId, COUNT(*) AS PositiveAnswerCount
  FROM Posts WHERE PostTypeId = 2 AND Score > 0 GROUP BY ParentId
)
SELECT p.Id, p.Title, Posts2.PositiveAnswerCount
FROM Posts p JOIN Posts2 ON p.Id = Posts2.ParentId
ORDER BY Posts2.PositiveAnswerCount DESC, p.Id
LIMIT 10
"""


def task4_best_vs_accepted(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:396-412 — questions whose best answer beats the accepted
    answer by > 50 (3-way self-join; alias-in-WHERE inlined)."""
    t = load_se(spark, data_dir)
    # Posts feeds three branches (best / questions / accepted) — one
    # parsed scan, two cache reads, instead of three CSV parses
    posts = materialize(t["Posts"])
    best = (
        posts.filter(F.col("PostTypeId") == 2)
        .groupBy("ParentId")
        .agg(F.max("Score").alias("MaxScore"))
    )
    questions = posts.filter(F.col("PostTypeId") == 1).select(
        F.col("Id").alias("QId"), "Title", "AcceptedAnswerId"
    )
    accepted = posts.select(F.col("Id").alias("AId"), F.col("Score").alias("AcceptedScore"))
    return (
        best.join(questions, F.col("ParentId") == F.col("QId"))
        .join(accepted, F.col("AcceptedAnswerId") == F.col("AId"))
        .withColumn("Difference", F.col("MaxScore") - F.col("AcceptedScore"))
        .filter(F.col("Difference") > 50)
        .select("Title", "MaxScore", "AcceptedScore", "Difference")
        .orderBy(F.desc("Difference"), F.asc("Title"))
    )


TASK4_ORACLE = """
WITH BestAnswers AS (
  SELECT ParentId, MAX(Score) AS MaxScore
  FROM Posts WHERE PostTypeId = 2 GROUP BY ParentId
)
SELECT q.Title, b.MaxScore, a.Score AS AcceptedScore,
       b.MaxScore - a.Score AS Difference
FROM BestAnswers b
JOIN Posts q ON b.ParentId = q.Id AND q.PostTypeId = 1
JOIN Posts a ON q.AcceptedAnswerId = a.Id
WHERE b.MaxScore - a.Score > 50
ORDER BY Difference DESC, q.Title
"""


def task5_comment_scores(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:522-532 — top-10 questions by the owner's own comment score
    total (composite-key join)."""
    t = load_se(spark, data_dir)
    cmt = (
        t["Comments"]
        .groupBy("PostId", "UserId")
        .agg(F.sum("Score").alias("CommentsTotalScore"))
    )
    return (
        t["Posts"].filter(F.col("PostTypeId") == 1)
        .join(
            cmt,
            (F.col("Id") == F.col("PostId")) & (F.col("OwnerUserId") == F.col("UserId")),
        )
        .select("Title", "CommentsTotalScore")
        .orderBy(F.desc("CommentsTotalScore"), F.asc("Title"))
        .limit(10)
    )


TASK5_ORACLE = """
WITH CmtTotScr AS (
  SELECT PostId, UserId, CAST(SUM(Score) AS BIGINT) AS CommentsTotalScore
  FROM Comments GROUP BY PostId, UserId
)
SELECT p.Title, c.CommentsTotalScore
FROM Posts p
JOIN CmtTotScr c ON p.Id = c.PostId AND p.OwnerUserId = c.UserId
WHERE p.PostTypeId = 1
ORDER BY c.CommentsTotalScore DESC, p.Title
LIMIT 10
"""


def task6_valuable_badges(spark: SparkSession, data_dir: str) -> DataFrame:
    """Rmd:613-627 — users holding gold badges whose name has 2..10
    gold awards (IN-subquery; multi-column DISTINCT).

    Plan (r10 rewrite, ~25% faster at se_scale=100): the IN-subquery
    lowers to ONE scan of Badges + a per-Name count window (the old
    aggregate + left-semi shape scanned/parsed Badges twice), the
    DISTINCT runs on the 1-column UserId set BEFORE touching Users
    (u.Id is the primary key, so dedup-then-join equals the SQL's
    5-column DISTINCT row-for-row — pinned by the driver oracle), and
    the qualifying-user set broadcasts into a semi-join on Users.
    Scale: |gold_users| <= 10 x |badge-name vocabulary| BY the 2..10
    filter, so the broadcast is bounded by construction; the window's
    per-Name grouping is bounded by the hottest badge's award count
    (a vocabulary-bounded dimension, not corpus-scaling — the
    partial-agg form is the fallback if a corpus breaks that)."""
    t = load_se(spark, data_dir)
    w = Window.partitionBy("Name")
    gold_users = (
        t["Badges"].filter(F.col("Class") == 1)
        .select("Name", "UserId")
        .withColumn("n", F.count(F.lit(1)).over(w))
        .filter(F.col("n").between(2, 10))
        .select("UserId")
        .distinct()
    )
    return (
        t["Users"].alias("u")
        .join(
            F.broadcast(gold_users),
            F.col("u.Id") == F.col("UserId"),
            "left_semi",
        )
        .select("Id", "DisplayName", "Reputation", "Age", "Location")
        .orderBy("Id")
    )


TASK6_ORACLE = """
SELECT DISTINCT u.Id, u.DisplayName, u.Reputation, u.Age, u.Location
FROM Users u
JOIN Badges b ON u.Id = b.UserId
WHERE b.Class = 1
  AND b.Name IN (
    SELECT Name FROM Badges WHERE Class = 1
    GROUP BY Name HAVING COUNT(*) BETWEEN 2 AND 10
  )
ORDER BY u.Id
"""


TASKS = {
    "task1_upvotes_per_year": (task1_upvotes_per_year, TASK1_ORACLE),
    "task2_top_favorited_users": (task2_top_favorited_users, TASK2_ORACLE),
    "task3_top_positive_answer_counts": (task3_top_positive_answer_counts, TASK3_ORACLE),
    "task4_best_vs_accepted": (task4_best_vs_accepted, TASK4_ORACLE),
    "task5_comment_scores": (task5_comment_scores, TASK5_ORACLE),
    "task6_valuable_badges": (task6_valuable_badges, TASK6_ORACLE),
}


# --- driver-gate registration (VERDICT r3 item 6) -------------------
#
# The six tasks above are the reference's LITERAL workload; until
# round 4 they ran only in pytest. The external gate calls
# queries()[name](spark, sf_dir) and runs oracle_sql()[name] in a
# DuckDB that has only the star-schema parquet views — so the driver
# wrappers ignore sf_dir (this workload ships its own schema) and
# point BOTH engines at one deterministic fixture: byte-stable CSVs
# (seed pinned, random.Random) generated under the system temp dir
# by tmpcache.write_once, so a concurrent driver/pytest/bench process
# never reads a half-written file. The oracle SQL is made
# self-contained by prefixing CTE views over read_csv_auto of the
# same CSVs — identical bytes feed both engines, same differential
# contract as tests/test_stackexchange.py.


def fixture_dir(scale: float = 1.0) -> str:
    """Generate (once) and return the shared deterministic fixture.

    The cache directory is keyed by an md5 of the GENERATOR'S SOURCE
    plus (seed, scale) — a generator edit can never silently reuse
    stale CSVs (VERDICT r4 item 8; the old hand-bumped ``_v1`` suffix
    relied on a human remembering to bump it). scale=100 is the
    bench-time reference-magnitude fixture; the driver gate stays on
    scale=1.
    """
    import inspect

    # normalize scale (ADVICE r5): 100 and 100.0 must key the same
    # dir or an int/float caller regenerates an identical fixture
    d = cache_dir(
        "se_fixture", inspect.getsource(generate_fixture), 42, f"{float(scale):g}"
    )
    return write_once(d, partial(generate_fixture, scale=scale))


#: The literal task outputs carry SQL NULLs (reference parity — the
#: pytest suite checks those verbatim), but the driver's row sort
#: can't order None against ints, and every other driver-gate query
#: is NULL-free by convention. The DRIVER wrappers therefore coalesce
#: the nullable output columns to typed sentinels on BOTH engines —
#: same rows, same information, sortable cells.
_NULL_SENTINELS: dict[str, dict[str, object]] = {
    "task2_top_favorited_users": {
        "Age": -1,
        "Location": "<NULL>",
        "MostFavoriteQuestion": "<NULL>",
        "MostFavoriteQuestionLikes": -1,
    },
    "task6_valuable_badges": {"Age": -1, "Location": "<NULL>"},
}


def _driver_task(name: str, task_fn):
    sentinels = _NULL_SENTINELS.get(name, {})

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
        df = task_fn(spark, fixture_dir())
        for col, sub in sentinels.items():
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(sub)))
        # DuckDB's read_csv_auto infers 64-bit ints; our explicit CSV
        # schema uses 32-bit. Values are identical — widen so a strict
        # schema comparison can't flag a width difference.
        for col, dtype in df.dtypes:
            if dtype == "int":
                df = df.withColumn(col, F.col(col).cast("long"))
        return df

    return run


def _self_contained(name: str, oracle: str) -> str:
    d = fixture_dir()
    views = ",\n".join(
        f"{vname} AS (SELECT * FROM read_csv_auto('{d}/{vname}.csv', header=true))"
        for vname in SCHEMAS
    )
    body = oracle.strip()
    # merge with the task's own WITH clause if it has one
    if body.upper().startswith("WITH "):
        body = f"WITH {views},\n{body[5:]}"
    else:
        body = f"WITH {views}\n{body}"
    sentinels = _NULL_SENTINELS.get(name)
    if sentinels:
        reps = ", ".join(
            f"COALESCE({col}, {sub!r}) AS {col}" if isinstance(sub, str)
            else f"COALESCE({col}, {sub}) AS {col}"
            for col, sub in sentinels.items()
        )
        body = f"SELECT * REPLACE ({reps}) FROM (\n{body}\n) _t"
    return body


QUERIES = {f"se_{name}": _driver_task(name, fn) for name, (fn, _) in TASKS.items()}


# oracle-only: ``_self_contained`` calls ``fixture_dir()``, which
# generates the CSV fixture under the temp dir, so it runs only when
# registry.oracles() renders it — importing the package must not touch
# the filesystem (same discipline as multimodal/media.py)
TEMPLATES = {
    f"se_{name}": dual(partial(_self_contained, name, sql)) for name, (_fn, sql) in TASKS.items()
}
