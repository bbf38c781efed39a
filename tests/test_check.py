"""check.compare_rows holds every value to the driver's hash rule: a
float is its ``repr(round(v, 12))``, any other value keeps its type.
No SparkSession needed."""

from __future__ import annotations

import pytest

from sqlondataframesr_spark.check import compare_rows


@pytest.mark.parametrize(
    "left, right, equal",
    [
        (1.0, 1.0000001, False),
        (0.1 + 0.2, 0.3, True),
        (1, 1.0, False),
        (float("nan"), float("nan"), True),
        ([0.5, 1.0], [0.5, 1.0000001], False),
        ([0.1 + 0.2], [0.3], True),
    ],
    ids=["1e-7-apart", "bit-noise", "int-vs-float", "nan", "nested-apart",
         "nested-bit-noise"],
)
def test_compare_rows_float_rule(left, right, equal):
    problems = compare_rows(["x"], [(left,)], ["x"], [(right,)])
    assert (not problems) is equal, problems
