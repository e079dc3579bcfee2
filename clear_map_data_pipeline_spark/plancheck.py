"""Plan-quality audit: summarize the physical plan of every registered
query — exchanges, joins, windows, scans, pushed filters, Python
boundaries — so shuffle regressions are visible at a glance.

    python -m clear_map_data_pipeline_spark.plancheck [sf_dir] [name ...]

Prints one line per query plus a total.  The per-property assertions
that gate CI live in tests/test_plan.py; this tool is the exploratory
companion (run it after adding an operator, look for surprising
exchange counts or SortMergeJoins where a broadcast was expected).
"""

from __future__ import annotations

import contextlib
import io
import re
import sys


def plan_summary(df) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # count detail headers ("(7) Exchange") only — operators also appear
    # in the tree rendering, which would double every count
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", p)),
        "bcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", p)),
        "smj": len(re.findall(r"\(\d+\) SortMergeJoin", p)),
        "bnlj": len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)),
        "windows": len(re.findall(r"\(\d+\) Window\b", p)),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", p)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", p)),
        "python_eval": len(
            re.findall(
                r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas)",
                p,
            )
        ),
        "codegen_spans": len(re.findall(r"WholeStageCodegen", p)),
    }


def main(argv: list[str]) -> None:
    from .registry import load_all
    from .session import get_spark

    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    only = set(argv[2:])
    spark = get_spark("clearmap-plancheck")
    header = (
        f"{'query':34s} {'exch':>4} {'bhj':>4} {'smj':>4} {'bnlj':>4} "
        f"{'win':>4} {'scan':>4} {'push':>4} {'py':>3}"
    )
    print(header)
    print("-" * len(header))
    for name, qd in sorted(load_all().items()):
        if only and name not in only:
            continue
        if name.startswith("st_"):  # streaming queries execute on build
            print(f"{name:34s} (streaming: skipped — plans are per-microbatch)")
            continue
        try:
            s = plan_summary(qd.builder(spark, sf_dir))
            print(
                f"{name:34s} {s['exchanges']:>4} {s['bcast_joins']:>4} "
                f"{s['smj']:>4} {s['bnlj']:>4} {s['windows']:>4} "
                f"{s['scans']:>4} {s['pushed_filters']:>4} {s['python_eval']:>3}"
            )
        except Exception as e:  # keep auditing the rest
            print(f"{name:34s} ERROR {type(e).__name__}: {str(e)[:60]}")


if __name__ == "__main__":
    main(sys.argv)
