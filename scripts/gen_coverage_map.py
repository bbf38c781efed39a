"""Generate the per-query gate-coverage map in COVERAGE.md (VERDICT r9
item 8): one row per registered query, one column per evidence gate, so
a judge sees in one place which checks back each query instead of
cross-referencing five log files.

Columns (evidence sources, newest round of each):
- driver:   name appears green in the newest CORRECTNESS_r*.json (the
            external driver's ~50-query sample).
- matrix:   name matches in the newest round's DRIVER_SIM_r*_*.txt
            full differential logs (every registered query vs DuckDB).
- empty:    name is "ok" in the newest EMPTYCHECK_r*.txt zero-row sweep.
- plan:     name appears in tests/test_plans.py (plan-shape pinned).
- property: name's implementing function appears in
            tests/test_properties.py (hypothesis property-tested).
- dual:     query's TEMPLATES value renders a Spark-SQL form, listed in
            registry.spark_sql() (fluent≡SQL tested).

The map is regenerated by `python scripts/gen_coverage_map.py` (writes
COVERAGE.md in place between the markers); tests/test_docs_counts.py
re-generates it in memory and fails if the committed section is stale.

Evidence-round pinning (VERDICT r10 item 1): the generated header
records exactly which evidence rounds the map was built from, and the
staleness test regenerates against those *recorded* rounds rather than
the newest glob. An external-driver artifact written after the final
commit (e.g. CORRECTNESS_r11.json landing post-commit) therefore can
never retroactively redden a shipped tree; only a registry/test change
without a regeneration run fails the guard.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BEGIN = "<!-- COVERAGE-MAP:BEGIN (generated by scripts/gen_coverage_map.py; do not edit by hand) -->"
END = "<!-- COVERAGE-MAP:END -->"


def _newest(pattern: str, pin: str | None = None) -> list[str]:
    """Files of the newest round matching `pattern`, or of the pinned
    round when `pin` (e.g. "r10") is given."""
    rx = re.compile(pattern)
    hits = [(m.group(1), f) for f in os.listdir(ROOT) if (m := rx.match(f))]
    if pin is not None:
        return sorted(f for r, f in hits if r == pin)
    if not hits:
        return []
    top = max(r for r, _ in hits)
    return sorted(f for r, f in hits if r == top)


def _matrix_names(pin: str | None = None) -> tuple[set[str], str]:
    files = _newest(r"DRIVER_SIM_(r\d+)_.*\.txt$", pin)
    names: set[str] = set()
    for f in files:
        with open(os.path.join(ROOT, f), errors="replace") as fh:
            text = fh.read().replace("\r", "\n")
        names |= {
            m.group(1)
            for m in re.finditer(r"^(\S+) \d+ match$", text, re.M)
        }
        names |= {
            m.group(1)
            for m in re.finditer(r"^(\S+) rows-only: \d+$", text, re.M)
        }
    m = re.match(r"DRIVER_SIM_(r\d+)_", files[0]) if files else None
    return names, (m.group(1) if m else "-")


def _driver_names(pin: str | None = None) -> tuple[set[str], str]:
    files = _newest(r"CORRECTNESS_(r\d+)\.json$", pin)
    if not files:
        return set(), "-"
    with open(os.path.join(ROOT, files[-1])) as fh:
        d = json.load(fh)
    ok = {
        k
        for k, v in d.items()
        if v.get("rows_match") and v.get("schema_match") and v.get("hash_match", True)
    }
    return ok, files[-1].removesuffix(".json").split("_")[1]


def _empty_names(pin: str | None = None) -> tuple[set[str], str]:
    files = _newest(r"EMPTYCHECK_(r\d+)\.txt$", pin)
    if not files:
        return set(), "-"
    with open(os.path.join(ROOT, files[-1]), errors="replace") as fh:
        text = fh.read().replace("\r", "\n")
    ok = {m.group(1) for m in re.finditer(r"^(\S+) ok$", text, re.M)}
    return ok, files[-1].removesuffix(".txt").split("_")[1]


def _test_mentions(path: str) -> str:
    with open(os.path.join(ROOT, path)) as fh:
        return fh.read()


def generate(pins: dict[str, str] | None = None) -> str:
    """Build the map section. `pins` fixes the evidence rounds (keys
    "driver"/"matrix"/"empty", values like "r10"); None = newest."""
    from sqlondataframesr_spark import registry

    pins = pins or {}
    queries = sorted(registry.queries())
    fn_names = {n: registry.queries()[n].__name__ for n in queries}
    duals = set(registry.spark_sql())
    driver, driver_round = _driver_names(pins.get("driver"))
    matrix, matrix_round = _matrix_names(pins.get("matrix"))
    empty, empty_round = _empty_names(pins.get("empty"))
    plans_text = _test_mentions("tests/test_plans.py") + _test_mentions(
        "tests/test_operators.py"
    )
    props_text = _test_mentions("tests/test_properties.py")

    def yn(flag: bool) -> str:
        return "x" if flag else "-"

    lines = [
        BEGIN,
        "",
        f"Per-query gate coverage ({len(queries)} queries; evidence rounds: "
        f"driver={driver_round}, matrix={matrix_round}, empty={empty_round}; "
        "plan/property = referenced in tests/test_plans.py+test_operators.py / "
        "tests/test_properties.py; dual = Spark-SQL form in registry.spark_sql()).",
        "",
        "| query | driver | matrix | empty | plan | property | dual |",
        "|---|---|---|---|---|---|---|",
    ]
    for n in queries:
        fn = fn_names[n]
        lines.append(
            f"| {n} | {yn(n in driver)} | {yn(n in matrix)} | {yn(n in empty)} "
            f"| {yn(n in plans_text or fn in plans_text)} "
            f"| {yn(n in props_text or fn in props_text)} | {yn(n in duals)} |"
        )
    counts = {
        "driver": sum(1 for n in queries if n in driver),
        "matrix": sum(1 for n in queries if n in matrix),
        "empty": sum(1 for n in queries if n in empty),
        "dual": sum(1 for n in queries if n in duals),
    }
    lines += [
        "",
        f"Totals: driver {counts['driver']}/{len(queries)}, "
        f"matrix {counts['matrix']}/{len(queries)}, "
        f"empty-sweep {counts['empty']}/{len(queries)}, "
        f"dual {counts['dual']}/{len(queries)}.",
        "",
        END,
    ]
    return "\n".join(lines)


def parse_pins(committed_section: str) -> dict[str, str]:
    """Recover the evidence rounds recorded in a committed map section,
    so the staleness guard can regenerate against the same rounds."""
    m = re.search(
        r"evidence rounds: driver=(\S+), matrix=(\S+), empty=(\S+);",
        committed_section,
    )
    if not m:
        return {}
    return {
        k: v
        for k, v in zip(("driver", "matrix", "empty"), m.groups())
        if v != "-"
    }


def main() -> int:
    path = os.path.join(ROOT, "COVERAGE.md")
    with open(path) as fh:
        text = fh.read()
    section = generate()
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END, 1)[1]
        text = pre + section + post
    else:
        text = text.rstrip() + "\n\n## Per-query gate map\n\n" + section + "\n"
    with open(path, "w") as fh:
        fh.write(text)
    print("COVERAGE.md map regenerated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
