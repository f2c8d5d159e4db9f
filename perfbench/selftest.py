"""Tiny-scale self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced on about 500
conversations. Asserts that each run exits 0, that every op was correct
and none failed (fail_frac 0), that the result line holds exactly the
end-to-end or per-layer metrics of BENCHMARK.json, and that the span file
holds every layer metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = 6000

# in the span file only: counts fixed by the input, and the tracer's own cost
SPAN_ONLY = ["spark.spill_mb", "violations.rows", "iceberg.rows_deleted", "stream.batches",
             "trace.overhead_s", "trace.bookkeeping_s"]


def run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--rows", str(ROWS)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                raise SystemExit(f"{workload} trace={trace}: printed {got}, expected {want}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                raise SystemExit(f"{workload} trace={trace}: {res}")
            if trace:
                path = os.path.join(ROOT, ".perfbench", "spans", f"{workload}-seed7.json")
                with open(path) as f:
                    spans = json.load(f)
                missing = (set(want) | set(SPAN_ONLY)) - set(spans["metrics"])
                if missing or not spans["spans"]:
                    raise SystemExit(f"{workload}: span file lacks {sorted(missing)} or spans")
            print(f"ok {workload} trace={trace}: fail_frac 0, {len(got)} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
