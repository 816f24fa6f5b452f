#!/usr/bin/env python
"""Generate SCALE.md: measured physical-plan properties for every
registered query — shuffle (Exchange) count, broadcast joins,
sort-merge joins, cartesians, whole-stage-codegen spans, and whether
the parquet scan got pushed filters. Derived from .explain output at
sf0.001, not claimed by hand; re-run after planner-affecting changes:

    python tools/plan_report.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestors_spark.doctor import plan_stats
from data_ingestors_spark.queries import all_queries
from data_ingestors_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# SCALE — measured plan properties (auto-generated)

Generated by `tools/plan_report.py` from `.explain("formatted")` at
sf0.001 (plan SHAPE is scale-invariant; AQE may merge/split exchanges
at runtime). Columns:

- **exch** — `Exchange` operators in the plan: each is one shuffle.
- **bhj / smj** — broadcast-hash vs sort-merge join count.
- **cart** — `CartesianProduct` / broadcast-nested-loop joins (only
  deliberate bounded ones should ever show a nonzero here).
- **wsc** — WholeStageCodegen spans visible pre-execution. AQE-wrapped
  plans report 0 here (codegen ids materialize at runtime); the
  codegen audit in tests/test_plans.py asserts the executed spans.
- **push** — a parquet scan carries PushedFilters (predicate reached
  the reader).

Queries that drive iterative jobs (`dedup_clusters`) or Python
stages (`robust_stats`) list the plan of their FINAL
frame; their scale notes live in the operator docstrings.

| query | exch | bhj | smj | cart | wsc | push |
|---|---|---|---|---|---|---|
"""

# per-query footnote markers appended to the push cell (kept in the
# generator so regeneration preserves them; tools/plans_check.py
# strips the marker when parsing)
_PUSH_FOOTNOTES = {"strip_dup_spans": "¹"}

FOOTER = """
¹ `strip_dup_spans` bench timing uses `.count()` as the action, and
Catalyst prunes the projection-only span rewrite out of the counted
plan — the recorded seconds under-measure the real rewrite work
(BASELINE.md §r10 methodology caveat). Correctness is unaffected: the
DuckDB oracle collects and hashes the rewritten values.
"""


def main() -> None:
    spark = get_spark("plan-report")
    rows = []
    for name, fn in sorted(all_queries().items()):
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            s = plan_stats(df)
        except Exception as e:  # pragma: no cover - report generator
            rows.append(f"| {name} | — | — | — | — | — | error: {str(e)[:40]} |")
            continue
        wsc = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        push = "yes" if s["push"] else "—"
        push += _PUSH_FOOTNOTES.get(name, "")
        rows.append(
            f"| {name} | {s['exch']} | {s['bhj']} | {s['smj']} | {s['cart']} | {wsc} | {push} |"
        )
        print(f"# {name}", file=sys.stderr)

    out = HEADER + "\n".join(rows) + "\n" + FOOTER
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
