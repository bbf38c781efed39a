"""Vector math over ``array<float|double>`` columns — pure Spark SQL
expressions (codegen'd JVM-side, no UDF in the hot path).

Shared by the similarity-search and embedding-dedup operators; kept as
SQL-text builders (not Column objects) so they compose into both
`F.expr` call sites and generated SQL strings.
"""

from __future__ import annotations

from .dialect import Dialect
from .rounding import r6_sql


def to_double(col: str = "embedding") -> str:
    """Cast array<float> → array<double> once, before any arithmetic."""
    return f"transform({col}, x -> cast(x as double))"


def l2_norm(v: str) -> str:
    return f"sqrt(aggregate({v}, 0D, (a, x) -> a + x * x))"


def cosine(d: Dialect, a: str, b: str, na: str, nb: str, dim: int) -> str:
    """Cosine of two ``dim``-long lists from precomputed norms, rounded
    for cross-engine comparability (see llm/similarity.py determinism
    notes). The dot product is an indexed left-to-right sum in DuckDB
    and a ``zip_with`` fold in Spark (:meth:`Dialect.zip_sum`: same
    order, so the same double); ``F.expr`` call sites take the
    ``SPARK`` rendering.

    The norm product is NULLIF-guarded: a zero-norm vector (possible
    for sliced prefixes, e.g. the Matryoshka 16-dim head) must yield
    NULL on EVERY engine. Spark's non-ANSI x/0 is already NULL, but
    DuckDB's default ieee_floating_point_ops yields inf/nan — which
    sorts FIRST under DESC NULLS LAST and silently diverges the
    shortlist. nullif pins both engines to NULL (r8 ADVICE item).

    Rounding spelling (r11, skew-exposed): ``round(x, 6)`` is NOT
    engine-portable near decimal ties — Spark rounds the double's
    decimal representation (BigDecimal HALF_UP) while DuckDB scales in
    float, and the skew tree's dense cluster produced 58 cosines where
    the two differ in the 6th decimal (0.995578 vs 0.995577). The
    :func:`~.rounding.r6_sql` spelling uses only IEEE-754
    multiply/add/floor/divide — each correctly rounded and therefore
    bit-identical on both engines for every input."""
    return r6_sql(f"{d.zip_sum(a, b, dim)} / nullif({na} * {nb}, 0)")
