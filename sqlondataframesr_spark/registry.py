"""Central registry: collects every query module's ``QUERIES``, renders
its ``TEMPLATES`` into the DuckDB oracles and the Spark-SQL duals, and
collects its ``SQL_PREREQS``. ``__spark_entry__`` re-exports these for
the driver."""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from .functions.dialect import DUCK, SPARK

_MODULES = [import_module(f"{__package__}.{path}") for path in (
    "operators.affinity", "llm.annrecall", "queries.reference", "queries.extensions",
    "queries.stackexchange", "queries.tpch_shapes", "queries.quality", "llm.text", "llm.bloom",
    "llm.bm25", "llm.bpe", "llm.decontam", "llm.dedup", "llm.diversity", "llm.dsir", "llm.hybrid",
    "llm.incremental", "llm.linear", "llm.lm", "llm.minhash", "llm.pca", "llm.pq", "llm.reteval",
    "llm.semdedup", "llm.simhash", "llm.similarity", "llm.sampling", "llm.contrastive",
    "llm.corpus", "llm.curation", "llm.pipeline", "streaming.windows", "streaming.dedup_sink",
    "multimodal.media", "sources.binary", "operators.grouped", "operators.growth",
    "operators.aggmerge", "operators.asof", "operators.concentration", "operators.graph",
    "operators.hypertable", "operators.journeys", "operators.rangejoin", "operators.salt",
    "operators.scd", "operators.er", "operators.features", "operators.privacy", "operators.stats",
    "operators.survival", "operators.forensics", "operators.timeseries", "operators.sessionize",
    "operators.sketches", "operators.udtf",
)]


def _collect(attr: str, value: Callable = lambda v: v) -> dict:
    """Every module's ``attr`` dict, each value mapped through ``value``;
    a ``None`` result (an oracle-only query's Spark side) is left out."""
    out: dict = {}
    for mod in _MODULES:
        entries = {n: value(v) for n, v in getattr(mod, attr, {}).items()}
        dup = set(entries) & set(out)
        if dup:
            raise ValueError(f"duplicate query names across modules: {dup}")
        out.update((n, v) for n, v in entries.items() if v is not None)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect("QUERIES")


def oracles() -> dict[str, str]:
    return _collect("TEMPLATES", DUCK.render)


def spark_sql() -> dict[str, str]:
    return _collect("TEMPLATES", SPARK.render)


def sql_prereqs() -> dict[str, Callable[[], None]]:
    """Per-query setup hooks a runner must invoke BEFORE executing the
    corresponding ``spark_sql()`` text (ADVICE r6): a SQL dual that
    reads a generated fixture (e.g. the binaryFile blob dir) cannot
    rely on the fluent form having run first. Runners do::

        registry.sql_prereqs().get(name, lambda: None)()
        spark.sql(registry.spark_sql()[name])

    Kept separate from spark_sql() so collecting the SQL surface stays
    free of filesystem side effects (test_import_side_effects)."""
    return _collect("SQL_PREREQS")
