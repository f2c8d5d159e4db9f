"""Closed-loop benchmark of pandera_spark. Run from the repository root:

    python3 perfbench/run.py --workload validate_clean --seed 1 --seconds 12 --trace 0

One client issues one op at a time, back to back, for ``--seconds``
seconds, on a ``local[nproc]`` Spark session the benchmark starts itself.
Inputs are generated from ``--seed`` under ``.perfbench/`` and removed at
exit. Every op's output is checked against a reference computed in
set-up. The last line of standard output is one JSON object: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics, and a span file is written to ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP_REPS = 3  # input writes per run; setup_s takes their median
# Warm-up: the first op pays JVM class loading and JIT (12 to 18 s), and op
# time then falls for several more ops, for longer when the machine is
# busy (JIT threads share the cores). Warm up for at least WARMUP_OPS ops
# and until the op time settles: neither of the last two ops beats the
# fastest before them by more than SETTLED. WARMUP_MAX_S bounds it.
WARMUP_OPS = 4
SETTLED = 0.05
WARMUP_MAX_S = 25.0
MIN_SERIES = 3  # traced run: ops per series before the overhead is taken
# The host's other tenants take CPU from this VM ("steal" in /proc/stat).
# An op during which steal exceeds QUIET_STEAL of the machine's CPU time
# runs up to twice as long, so wall_s is the median of the quiet ops. With
# fewer than MIN_QUIET of them at the deadline, the loop runs up to
# EXTRA_S longer; then wall_s takes the MIN_QUIET ops with least steal.
QUIET_STEAL = 0.03
MIN_QUIET = 3
EXTRA_S = 6.0

ENGINE_METRICS = [  # medians over the traced ops: (name, span key, unit)
    ("spark.jobs", "jobs", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.task_gc_s", "task_gc_s", "s"),
    ("spark.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("spark.spill_mb", "spill_mb", "MB"),
    ("jvm.gc_s", "jvm_gc_s", "s"),
    ("driver.nonspark_s", "driver_nonspark_s", "s"),
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the machine's memory, between 1 and 8 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(8, total_kb // (4 * 1024 * 1024)))


def build_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers (applyInPandasWithState) import the package whatever
    # the working directory
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, so no Spark output follows the result line."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks: user .. steal, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def steal_share(ticks0: list[int]) -> float:
    """Share of the machine's CPU time taken as steal since ``ticks0``."""
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return ticks[7] / max(sum(ticks), 1)


def run_op(wl, ref, tr):
    """One op: (wall seconds, ran without raising, output correct, steal
    share during the op)."""
    ticks0, t0 = cpu_ticks(), time.perf_counter()
    try:
        with tr.span("op"):
            out = wl.op(tr)
    except Exception as e:  # a failed op is counted, not fatal
        log(f"op raised {type(e).__name__}: {e}")
        return time.perf_counter() - t0, False, False, steal_share(ticks0)
    wall, steal = time.perf_counter() - t0, steal_share(ticks0)
    ok = wl.check(out, ref)
    if not ok:
        log("op output does not match the reference")
    return wall, True, ok, steal


def quiet_median(ops: list) -> float:
    """Median wall time of the quiet ops among ``ops`` (run_op results)."""
    quiet = [w for w, _, _, st in ops if st < QUIET_STEAL]
    if len(quiet) < MIN_QUIET:
        quiet = [w for w, _, _, _ in sorted(ops, key=lambda o: o[3])[:MIN_QUIET]]
    return statistics.median(quiet)


def warm_up(wl, ref, tr) -> list:
    """Untimed ops until the op time settles; returns their run_op results."""
    warm, t0 = [], time.perf_counter()
    while True:
        warm.append(run_op(wl, ref, tr))
        walls = [w[0] for w in warm]
        settled = len(walls) >= WARMUP_OPS and min(walls[-2:]) >= (1 - SETTLED) * min(walls[:-2])
        if settled or time.perf_counter() - t0 >= WARMUP_MAX_S:
            return warm


def measure(wl, ref, tr, seconds: float, traced: bool):
    """Closed loop for ``seconds``. In the traced run ops alternate
    untraced / traced, so the tracing overhead is measured in-run, and the
    loop runs on until each series has ``MIN_SERIES`` ops; in the timed
    run it runs on, for at most ``EXTRA_S``, until ``MIN_QUIET`` ops were
    quiet. Returns the run_op results of each series and the tracer's
    own time per traced op."""
    ops = {False: [], True: []}  # run_op results, untraced and traced
    bookkeeping, i = [], 0
    deadline = time.perf_counter() + seconds
    while True:
        on = traced and i % 2 == 1
        tr.enabled, tr.op_id = on, i
        n_spans, bk0 = len(tr.spans), tr.bookkeeping_s
        ops[on].append(run_op(wl, ref, tr))
        if on:
            bookkeeping.append(tr.bookkeeping_s - bk0)
            tr.finish_spans(tr.spans[n_spans:])
        i += 1
        now = time.perf_counter()
        if traced:
            done = now >= deadline and min(map(len, ops.values())) >= MIN_SERIES
        else:
            n_quiet = sum(o[3] < QUIET_STEAL for o in ops[False])
            done = now >= deadline and (n_quiet >= MIN_QUIET or now >= deadline + EXTRA_S)
        if done:
            break
    tr.enabled = False
    return ops, bookkeeping


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="input rows instead of the workload's size")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (the transcript schema lives there)
        import pandera_spark  # noqa: F401
        from perfbench import fixtures
        from perfbench.spans import Tracer
        from perfbench.suite import Suite
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = nproc()
    spark = build_spark(work, cores)
    session_s = time.perf_counter() - t_start
    try:
        wl = WORKLOADS[args.workload](spark)
        wl.rows = args.rows or wl.rows
        t0 = time.perf_counter()
        table, cuts = fixtures.transcripts_table(wl.rows, args.seed)
        gen_s = time.perf_counter() - t0
        build_s, refs = [], []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            refs.append(wl.build(os.path.join(work, f"input-{r}"), table, cuts))
            build_s.append(time.perf_counter() - t0)
        same_inputs = all(x == refs[0] for x in refs)
        wl.path, ref = os.path.join(work, "input-0"), refs[0]
        for r in range(1, SETUP_REPS):
            shutil.rmtree(os.path.join(work, f"input-{r}"))
        del table
        tracer = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        warm = warm_up(wl, ref, tracer)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + statistics.median(build_s) + warm_s
        log(f"{args.workload}: {wl.rows} rows; set-up {setup_s:.2f} s = session "
            f"{session_s:.2f} + rows {gen_s:.2f} + write median of "
            + " ".join(f"{b:.2f}" for b in build_s)
            + " + warm-up " + " ".join(f"{w[0]:.3f}" for w in warm))
        gc.collect()  # the peak counts from the state set-up leaves
        reset_peak_rss()
        ticks0 = cpu_ticks()
        ops, bookkeeping = measure(wl, ref, tracer, args.seconds, bool(args.trace))
        rss = peak_rss_mb()
        # other tenants of the host take CPU from this one: op times move
        # with it, so the log shows it
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        steal = ticks[7] / sum(ticks)
        suite = None
        if args.trace:
            tracer.enabled, tracer.op_id = True, None
            suite = Suite(spark, wl.path, work, cores, tracer)
            suite.run()
            if suite.wrong:
                log(f"layer calls with wrong output: {suite.wrong}")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    every = ops[False] + ops[True]
    attempted = len(every)
    failed = sum(not ok for _, _, ok, _ in every)
    wrong = sum(ran and not ok for _, ran, ok, _ in every)
    walls = {k: [o[0] for o in v] for k, v in ops.items()}
    wall = quiet_median(ops[False])
    log(f"{args.workload}: {attempted} ops, fail_frac {failed / attempted:.3f}, "
        f"CPU steal {steal:.1%}; untraced op wall s (steal %): "
        + " ".join(f"{w:.3f} ({st:.0%})" for w, _, _, st in ops[False])
        + f"; median of all {statistics.median(walls[False]):.3f}, of quiet {wall:.3f}")
    if args.trace:
        op_spans = [s for s in tracer.spans if s["name"] == "op"]
        metrics = {
            name: (statistics.median(s[key] for s in op_spans), unit)
            for name, key, unit in ENGINE_METRICS
        }
        metrics["trace.overhead_s"] = (
            statistics.median(walls[True]) - statistics.median(walls[False]), "s")
        metrics["trace.bookkeeping_s"] = (statistics.median(bookkeeping), "s")
        metrics.update(suite.metrics)
        # the result line holds the per-layer metrics BENCHMARK.json names;
        # the span file holds them all
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            result_names = [m["name"] for m in json.load(f)["per_layer"]]
        log("traced op wall s: " + " ".join(f"{w:.3f}" for w in walls[True]))
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        span_file = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.write(span_file, {
            "workload": args.workload, "seed": args.seed, "rows": wl.rows,
            "warmup_wall_s": [w[0] for w in warm],
            "untraced_wall_s": walls[False], "traced_wall_s": walls[True],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        })
        log(f"span file: {span_file}")
        for k, (v, u) in metrics.items():
            log(f"  {k} = {v:.6g} {u}")
        metrics = {k: metrics[k] for k in result_names}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (wl.rows / wall, "rows/s"),
            "driver_peak_rss_mb": (rss, "MB"),
        }
        for k, (v, u) in metrics.items():
            log(f"  {k} = {v:.6g} {u}")
    log(f"  fail_frac = {failed / attempted:.6g} ratio")
    correct = (same_inputs and all(w[2] for w in warm) and wrong == 0
               and not (suite and suite.wrong))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
