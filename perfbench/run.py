#!/usr/bin/env python3
"""fsql-spark benchmark: one seeded workload, timed, then checked.

    python3 perfbench/run.py --workload interactive --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout.  The program under test is the
checkout's own ``flink_dsl_spark`` package (plus ``__spark_entry__`` for
the analytic queries); base tables are the read-only testdata parquet
files under ``$FSQL_TESTDATA`` (default: the parent of bench.py's
scale-factor directory, ``$SPARK_GRAFT_SF_DIR``).  Everything
the run writes goes under ``.perfbench/`` in the checkout.

A run: start Spark on ``local[<cores>]``, set the workload up five
times (median = ``setup_s``), an untimed warm-up, then whole passes
until ``--seconds`` of measured time are used and the workload's
minimum pass count is reached, then an untimed DuckDB
oracle pass over every output.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the layers (see tracing.py) and reports the
per-layer metrics instead.  Per-operation rows, per-layer numbers and
spans go to one side file, written at the end.  The last stdout line is
the JSON result; the exit code is 0 only when every output matched and
no operation failed.

``--tiny`` shrinks every workload for the smoke test (smoke.py);
``--inject-wrong`` corrupts one expected result so the smoke test can
show the oracle catches it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
# A run with a pass during which other tenants used more than this many
# cores is flagged contaminated: such load slows every operation of a
# pass alike (by 30-80% at 0.4-0.7 cores, measured on 4 cores)
AMBIENT_LIMIT = 0.25


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (this Python
    process, the JVM, Python workers), sampled every 0.5 s as the sum of
    their proportional set sizes, so pages shared after a fork (the
    Python daemon forks its workers) count once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        st = f.read()
                    parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
        tree, grew = {os.getpid()}, True
        while grew:
            new = {c for c, pp in parent.items() if pp in tree} - tree
            tree |= new
            grew = bool(new)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) * 1024 for ln in f
                                  if ln.startswith("Pss:"))
            except (OSError, ValueError, StopIteration):
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop_evt.wait(0.5)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(5)
        return self.peak / 2**20


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit: its gateway exits when
    its stdin closes, and takes the Python daemon and workers with it."""
    from pyspark import SparkContext
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def _pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(samples, setups, passes) -> dict:
    """Latency percentiles pool every operation; the geometric mean is
    over operation keys (template, query, stream) of each key's median,
    so a key weighs the same whatever its latency."""
    from workloads import geomean
    ms = [s["ms"] for s in samples]
    by_key: dict[str, list[float]] = {}
    for s in samples:
        by_key.setdefault(s["key"], []).append(s["ms"])
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_ms_p50": (statistics.median(ms), "ms"),
        "op_ms_p90": (_pct(ms, 90), "ms"),
        "ops_per_s": (len(ms) / sum(passes), "1/s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_geomean_ms": (geomean([statistics.median(v)
                                      for v in by_key.values()]), "ms"),
    }


def compile_geomean(samples) -> float:
    """Time for ``sql()`` / the API chain to return a DataFrame: the
    geometric mean over operation keys of each key's median."""
    from workloads import geomean
    by_key: dict[str, list[float]] = {}
    for s in samples:
        if s["compile_ms"] is not None:
            by_key.setdefault(s["key"], []).append(s["compile_ms"])
    return geomean([statistics.median(v) for v in by_key.values()])


def oracle_pass(ctx, sf_dir: str | None, inject_wrong: bool) -> dict:
    """Replay the workload's oracle steps in DuckDB; count mismatches."""
    import oracle
    con = oracle.connect(sf_dir)
    compared, wrong = 0, []
    for step in ctx.checks:
        if step[0] == "exec":
            con.execute(step[1])
            continue
        _, label, got, sql = step
        exp = con.execute(sql).df()
        if inject_wrong and compared == 0:
            exp = exp.iloc[1:] if len(exp) else exp.assign(_extra=1)
        compared += 1
        why = oracle.mismatch(got, exp)
        if why is not None:
            wrong.append(f"{label}: {why}")
    con.close()
    return {"compared": compared, "wrong": wrong}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "analytic", "stream", "dml"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args(argv)

    for need in ("flink_dsl_spark/__init__.py", "__spark_entry__.py",
                 "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}: run from a "
                         "source checkout")
    sys.path[:0] = [ROOT, HERE]
    import bench
    data_dir = (os.environ.get("FSQL_TESTDATA")
                or os.path.dirname(bench.SF_DIR.rstrip("/")))
    if not os.path.isdir(os.path.join(data_dir, "sf0.1")):
        return _fail(f"testdata not found at {data_dir}")

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata file in /tmp: the run writes inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
                             f"-Dderby.system.home={work} -XX:-UsePerfData",
    })
    os.chdir(work)          # spark-warehouse, metastore_db land here
    try:
        return _run(args, data_dir, work, out_dir, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, data_dir: str, work: str, out_dir: str, cores: int) -> int:
    from bench import _ambient_cores, _cpu_snapshot
    from tracing import PER_LAYER, NullTracer, Tracer
    from workloads import WORKLOADS, Ctx, T

    rss = RssSampler()
    rss.start()
    t0 = T()
    from flink_dsl_spark import get_session
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = T() - t0
    tracer = Tracer(spark) if args.trace else NullTracer()
    tracer.instrument()
    ctx = Ctx(spark=spark, tracer=tracer, data_dir=data_dir,
              work_dir=work, seed=args.seed, tiny=args.tiny)
    failed, error = 0, None
    setups, passes, measured_s = [], [], 0.0
    pass_ambient = []                   # other tenants' cores, per pass
    phases = {"session": session_s}
    try:
        wl = WORKLOADS[args.workload](ctx)
        for _ in range(1 if args.tiny else SETUPS):
            t0 = T()
            wl.setup()
            setups.append(T() - t0)
        t0 = T()
        wl.warm()
        phases["warm"] = T() - t0
        ctx.samples.clear()
        ctx.batches.clear()
        tracer.reset()
        start = T()
        while not passes or not args.tiny and (
                len(passes) < wl.min_passes or T() - start < args.seconds):
            snap, t0 = _cpu_snapshot(), T()
            wl.run_pass()
            passes.append(T() - t0)
            amb = _ambient_cores(snap, _cpu_snapshot())
            pass_ambient.append(amb["ambient_cores"] if amb else 0.0)
        measured_s = T() - start
        if hasattr(wl, "collect_checks"):
            wl.collect_checks()
    except Exception:          # noqa: BLE001 — report the run, then fail
        failed, error = 1, traceback.format_exc()
        print(error, file=sys.stderr)
    checked = {"compared": 0, "wrong": []}
    t0 = T()
    if not failed:
        sf_dir = (None if args.workload == "stream"
                  else os.path.join(data_dir, WORKLOADS[args.workload].sf))
        checked = oracle_pass(ctx, sf_dir, args.inject_wrong)
    layers = tracer.finish(ctx.batches) if args.trace and not failed else {}
    coverage = tracer.coverage() if args.trace and not failed else None
    phases["oracle"] = T() - t0
    t0 = T()
    _stop_spark(spark)
    rss_mb = rss.stop()
    phases["stop"] = T() - t0

    attempted = len(ctx.samples) + failed
    wrong = len(checked["wrong"])
    # every measured pass is reported; a run during which other tenants
    # loaded the box is flagged, not filtered
    contaminated = any(a > AMBIENT_LIMIT for a in pass_ambient)
    e2e = (end_to_end(ctx.samples, setups, passes)
           if ctx.samples and not failed else {})
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rows = len(ctx.samples)
    stream_rows = sum(b["rows"] for b in ctx.batches)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "phases_s": {k: round(v, 3)
                                     for k, v in phases.items()},
        "setups_s": [round(s, 3) for s in setups],
        "measured_s": round(measured_s, 3), "passes": len(passes),
        "ops": rows, "failed_ratio": failed / max(1, attempted),
        "wrong_results": wrong, "outputs_checked": checked["compared"],
        "pass_ambient_cores": pass_ambient, "contaminated": contaminated,
        # printed, not BENCHMARK.json metrics: the JVM's heap grows
        # differently run to run (+-15% spread between identical runs);
        # compile time is the figure most slowed by CPU steal from other
        # guests (+50% at 0.4 cores against +25% for op_ms_p50)
        "peak_rss_mb": round(rss_mb, 1),
        "compile_ms_geomean": (compile_geomean(ctx.samples)
                               if e2e else None),
    }
    if args.workload == "stream" and measured_s:
        summary["events_per_s"] = round(stream_rows / measured_s, 1)
    side = {
        "summary": summary, "metrics": metrics,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": layers, "span_coverage": coverage,
        "passes_s": passes, "ops": ctx.samples, "batches": ctx.batches,
        "wrong": checked["wrong"], "error": error,
        "statements": tracer.records() if args.trace and not failed else [],
        "spans": tracer.spans if args.trace else [],
    }
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    side_path = os.path.join(
        out_dir, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, default=str)

    units = " ".join(f"{k}={m['value']:.6g}({m['unit']})"
                     for k, m in metrics.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={rows} passes={len(passes)} "
          f"failed_ratio={summary['failed_ratio']:.6g}(ratio) "
          f"wrong_results={wrong}(count) "
          f"contaminated={contaminated} "
          f"peak_rss_mb={rss_mb:.1f}(MB) "
          f"compile_ms_geomean={summary['compile_ms_geomean'] or 0:.6g}(ms) "
          f"side_file={os.path.relpath(side_path, ROOT)}")
    if not args.trace:        # 30 per-layer values would not fit in 2 KB
        print(units)
    for w in checked["wrong"][:5]:
        print(f"WRONG {w}")
    correct = wrong == 0 and not failed and checked["compared"] > 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
