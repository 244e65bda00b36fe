#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at small scale (a 2,000-row
``events`` table over 60 keys, a 330-document corpus, 300 vectors), a few
ops each, untraced and then traced.

    python3 sisbench/selftest.py            # all workloads, ~6 minutes
    python3 sisbench/selftest.py corpus     # one

Asserts, per run: exit code 0 and ``correct`` (every output check passed);
every ``end_to_end`` metric of BENCHMARK.json present with its unit in the
untraced run and every ``per_layer`` metric in the traced run; the tail
latency printed with its percentile and sample count, and the failure
ratio and rows per second printed; no tracing wrapper
installed during the untraced run and some during the traced one.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--scale", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exit {p.returncode}:\n"
                             f"{p.stdout[-2000:]}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def check(workload: str, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res, out = run_one(workload, trace)
        assert res["correct"] and res["failed"] == 0, res
        assert res["attempted"] >= 1, res
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, f"{workload} trace={trace}: {got} != {want}"
        wrapped = int(re.search(r"^wrappers_during_run (\d+)$", out, re.M)[1])
        assert (wrapped > 0) == bool(trace), f"{wrapped} wrappers, trace={trace}"
        if not trace:
            assert re.search(r"latency_tail_ms .*\(p\d+ of \d+ ops\)", out), out
            # printed beside the gated metrics
            for name in ("failed_ratio", "rows_per_s"):
                assert re.search(rf"^  {name} +[\d.]+ ", out, re.M), (name, out)
        print(f"ok {workload} trace={trace} ops={res['attempted']} "
              f"wrappers={wrapped}", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    for w in names:
        check(w, spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
