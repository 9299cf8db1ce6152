#!/usr/bin/env python
"""Capture plans of driver queries into a directory.

Usage:
  python tools/capture_plans.py [--out DIR] <suffix> [query ...]
      .explain('formatted') of each query (default: the bench HEADLINE
      set) into DIR/<query>_<suffix>.txt; DIR defaults to plans/r15.
  python tools/capture_plans.py --all-batch --out DIR [query ...]
      the optimized logical plan of every batch driver query (every
      __spark_entry__.queries() entry except the streaming ones) into
      DIR/<query>.txt, with expression ids (``#123``) and plan ids
      (``plan_id=7``) normalised — two captures of different commits
      then compare with one ``diff -r``.

Queries are planned, not executed: the only Spark jobs are the ones a
query runs eagerly while its plan is built.  The base tables come from
$SPARK_GRAFT_SF_DIR (default: the sf0.1 directory bench.py uses).
"""
from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalise_ids(plan: str) -> str:
    """Strip the per-session counters from a plan string: expression
    ids and Spark Connect-style plan ids differ between two runs of
    the same query, everything else in an optimized plan does not."""
    return _PLAN_ID.sub("plan_id=?", _EXPR_ID.sub("#?", plan))


def _formatted(df) -> str:
    if df.isStreaming:
        # streaming frames can't explain('formatted') pre-start the
        # same way; capture the analyzed/optimized text form
        return df._jdf.queryExecution().toString()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _optimized(df) -> str:
    return normalise_ids(df._jdf.queryExecution().optimizedPlan()
                         .toString())


def main():
    ap = argparse.ArgumentParser(
        description=__doc__.strip().splitlines()[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="\n".join(__doc__.strip().splitlines()[1:]))
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r15"),
                    help="output directory (created if missing)")
    ap.add_argument("--all-batch", action="store_true",
                    help="every batch driver query, optimized plans "
                         "with normalised ids, files named <query>.txt")
    ap.add_argument("suffix", nargs="?",
                    help="file-name suffix (required without "
                         "--all-batch)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.all_batch and args.suffix is not None:
        # no suffix in this mode: the first positional is a query name
        args.queries.insert(0, args.suffix)
        args.suffix = None
    if not args.all_batch and args.suffix is None:
        ap.error("a suffix is required without --all-batch")

    import __spark_entry__ as entrymod
    from flink_dsl_spark import get_session

    queries = entrymod.queries()
    if args.all_batch:
        streaming = set(entrymod._stream_queries())
        names = args.queries or [n for n in queries if n not in streaming]
        render, fname = _optimized, "{}.txt"
    else:
        import bench
        names = args.queries or list(bench.HEADLINE)
        render, fname = _formatted, "{}_" + args.suffix + ".txt"
    spark = get_session("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        fn = queries.get(name)
        if fn is None:
            print(f"skip {name}: not in queries()")
            continue
        try:
            txt = render(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — record the failure
            txt = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
            if args.all_batch:
                txt = normalise_ids(txt)
        out = fname.format(name)
        with open(os.path.join(args.out, out), "w") as f:
            f.write(txt)
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
