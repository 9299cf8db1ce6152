#!/usr/bin/env python3
"""Smoke self-test for the benchmark, at tiny sizes.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json, runs ``run.py --tiny`` untraced
and traced (the hand-run ``analytic`` and ``dml`` untraced only) and
checks that:

- the run exits 0 and its last stdout line is the result JSON;
- every metric BENCHMARK.json names is printed, with its unit, in the
  JSON, and the end-to-end ones also in the human-readable line;
- the stdout stays under 2,000 characters;
- over the traced runs, every layer has a nonzero metric on some
  listed workload, and rows went through Python workers both in an LLM
  operator and in a stream.

Then it runs one workload with ``--inject-wrong`` (one expected result
corrupted) and checks that ``wrong_results`` is nonzero, ``correct`` is
false and the exit code is nonzero.  Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> tuple[int, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace",
           str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    return p.returncode, p.stdout


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    nonzero: set[str] = set()
    for workload in names + ["analytic", "dml"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            if trace and workload not in names:
                continue
            code, out = run(workload, trace)
            tag = f"{workload} trace={trace}"
            check(code == 0, f"{tag}: exit code {code}")
            check(len(out) < 2000, f"{tag}: stdout {len(out)} chars")
            result = json.loads(out.strip().splitlines()[-1])
            check(result["correct"] and result["failed"] == 0,
                  f"{tag}: correct, no failures")
            text = out.strip().splitlines()[-2]
            for m in spec[group]:
                got = result["metrics"].get(m["name"], {})
                check(got.get("unit") == m["unit"]
                      and isinstance(got.get("value"), (int, float))
                      and (trace or text.split(f"{m['name']}=")[-1]
                           .split()[0].endswith(f"({m['unit']})")),
                      f"{tag}: {m['name']} printed in {m['unit']}")
            if trace:
                nonzero |= {k for k, v in result["metrics"].items()
                            if v["value"]}
    for need in sorted({m["name"].split(".")[0] for m in spec["per_layer"]}):
        check(any(k.startswith(need + ".") for k in nonzero),
              f"layer {need} measured on a listed workload")
    for need in ("llm_ops.python_rows", "streaming.python_rows"):
        check(need in nonzero, f"{need} nonzero on a listed workload")
    code, out = run(names[0], 0, "--inject-wrong")
    result = json.loads(out.strip().splitlines()[-1])
    check(code != 0 and not result["correct"]
          and "wrong_results=0(count)" not in out,
          f"{names[0]}: a wrong expected result trips wrong_results")
    return 0


if __name__ == "__main__":
    sys.exit(main())
