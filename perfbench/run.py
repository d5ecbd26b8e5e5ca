"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_dml --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Lines before it, prefixed ``#``, are the same numbers
for people, with sample counts, warm-up drift and per-layer self times.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout; span traces are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from spans import NullTracer, SparkCounters, Tracer  # noqa: E402

#: set-up is repeated this many times per run and its median reported
SETUP_REPEATS = 3

END_TO_END = {          # name -> unit
    "setup_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
    "latency_p50_s": "s", "latency_p90_s": "s", "peak_rss_mb": "MB",
    "ok_rate": "ratio"}

PER_LAYER = {
    "lang.q_s": "s", "catalyst.plan_s": "s", "display.repr_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "commit.s": "s", "commit.bytes_written": "bytes",
    "cache.entries_after_op": "count", "cache.rdds_after_op": "count",
    "mutable.insert_s": "s", "mutable.update_s": "s", "mutable.delete_s": "s",
    "mutable.read_s": "s", "mutable.files_live": "count",
    "mutable.write_amp": "ratio",
    "stream.wave_s": "s", "stream.jobs_per_wave": "count",
    "trace.overhead_s": "s"}


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def parse_args(argv):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


#: the driver heap, through the library's own setting.  The inputs are
#: under 1 MB; with the 8 g default, G1 sized its young generation
#: differently run to run and the JVM's peak RSS spread by 0.29
#: (IQR/median over ten ingest runs), against 0.06 over five runs at
#: 2 g, with the same latencies
DRIVER_MEM = "2g"


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``;
    run local[cores] with a :data:`DRIVER_MEM` heap; let Python
    workers import the library."""
    import tempfile
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    tempfile.tempdir = tmp


def start_session():
    from preql_spark.engine import default_session
    spark = default_session()
    spark.range(1).count()          # scheduler and executors up
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    import subprocess
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reset_peak_rss(spark) -> None:
    """Start the peak-RSS count at the window: collect the JVM heap,
    then reset VmHWM of both processes to their current RSS (Linux:
    writing 5 to ``clear_refs``)."""
    spark.sparkContext._jvm.System.gc()
    for pid in ("self", jvm_pid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:     # the peak then covers set-up too
            say(f"cannot reset the peak RSS of {pid}: {e}")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run_window(wl, n: int, tr, warm: bool = False) -> dict:
    """``n`` ops with fresh workload state; op latencies exclude the
    output checks, which run between ops."""
    wl.reset(warm)
    lat, rows, failed, errors = [], 0, 0, []
    for i in range(n):
        wl.stage(i, tr)
        tr.begin_op(i)
        t0 = time.perf_counter()
        try:
            out = wl.op(i, tr)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            out, errs = None, [f"op {i} raised {type(e).__name__}: {e}"]
        lat.append(time.perf_counter() - t0)
        tr.end_op()
        if out is not None:
            errs = wl.check(i, out)
            if not errs:
                rows += wl.rows(i)
        if errs:
            failed += 1
            errors += errs
    if errs := wl.end_window():
        failed = min(n, failed + 1)
        errors += errs
    return {"lat": lat, "rows": rows, "failed": failed, "errors": errors,
            "kinds": [wl.kind(i) for i in range(n)],
            "stats": wl.window_stats()}


def end_to_end(win: dict, setup_s: float, rss: float) -> dict:
    busy = sum(win["lat"])
    n = len(win["lat"])
    return {"setup_s": setup_s, "ops_per_s": n / busy,
            "rows_per_s": win["rows"] / busy,
            "latency_p50_s": stats.median(win["lat"]),
            "latency_p90_s": stats.percentile(win["lat"], 0.9),
            "peak_rss_mb": rss, "ok_rate": 1 - win["failed"] / n}


def _med(xs) -> float:
    return stats.median(xs) if xs else 0.0


def per_layer(tr: Tracer, before: dict, traced: dict,
              after: dict) -> dict:
    ops = tr.ops
    n = len(ops)
    dur = tr.durations
    parts = lambda label: [o["parts"][label] for o in ops  # noqa: E731
                           if label in o["parts"]]
    commits = parts("commit")
    writes = parts("write")
    waves = {s["op"] for s in tr.spans if s["name"] == "stream.wave"}
    files = traced["stats"].get("files_live", [])
    user_bytes = traced["stats"].get("user_bytes", 0)
    return {
        "lang.q_s": _med(dur("lang.q")),
        "catalyst.plan_s": _med(dur("catalyst.plan")),
        "display.repr_s": _med(dur("display.repr")),
        "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "operators.construct_s": _med(dur("operators.construct")),
        "operators.construct_jobs": _med([p["jobs"]
                                          for p in parts("construct")]),
        "spark.shuffle_write_bytes":
            sum(o["shuffle_write_bytes"] for o in ops) / n,
        "spark.shuffle_read_bytes":
            sum(o["shuffle_read_bytes"] for o in ops) / n,
        "spark.spill_bytes": sum(o["spill_bytes"] for o in ops) / n,
        "spark.input_bytes": sum(o["input_bytes"] for o in ops) / n,
        "commit.s": _med([c["returned"] - c["last_job_end"]
                          for c in commits if c["last_job_end"]]),
        "commit.bytes_written": _med([c["bytes_written"] for c in commits]),
        "cache.entries_after_op": ops[-1]["cache_entries"],
        "cache.rdds_after_op": ops[-1]["cached_rdds"],
        "mutable.insert_s": _med(dur("mutable.insert_rows")
                                 + dur("mutable.insert_from")),
        "mutable.update_s": _med(dur("mutable.update")),
        "mutable.delete_s": _med(dur("mutable.delete")),
        "mutable.read_s": _med(dur("mutable.read")),
        "mutable.files_live": sum(files) / len(files) if files else 0.0,
        "mutable.write_amp": (sum(w["bytes_written"] for w in writes)
                              / user_bytes if user_bytes else 0.0),
        "stream.wave_s": _med(dur("stream.wave")),
        "stream.jobs_per_wave": _med([o["jobs"] for o in ops
                                      if o["op"] in waves]),
        "trace.overhead_s": (stats.median(traced["lat"])
                             - (stats.median(before["lat"])
                                + stats.median(after["lat"])) / 2),
    }


def report_layers(tr: Tracer) -> None:
    say("per-layer self time (traced window):")
    say(f"  {'span':30s} {'count':>6s} {'median_s':>10s} {'total_s':>10s}")
    for name, xs in sorted(tr.self_times().items()):
        say(f"  {name:30s} {len(xs):6d} {stats.median(xs):10.4f} "
            f"{sum(xs):10.3f}")


def report(title: str, metrics: dict, units: dict) -> None:
    say(title)
    for k, v in metrics.items():
        say(f"  {k:28s} {v:14.6g} {units[k]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import preql_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    configure(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        warm = run_window(wl, wl.warmup_ops, NullTracer(), warm=True)
        setup_s = session_s + stats.median(prep) + sum(warm["lat"])
        say(f"workload {args.workload} seed {args.seed}: session "
            f"{session_s:.2f}s, prepare {[round(x, 2) for x in prep]}s, "
            f"warm-up {len(warm['lat'])} ops {sum(warm['lat']):.2f}s")
        cl = wl.cycle_len
        blocks = [stats.median(warm["lat"][j:j + cl])
                  for j in range(0, len(warm["lat"]) - cl + 1, cl)]
        if len(blocks) >= 2:
            say(f"warm-up block medians {[round(b, 3) for b in blocks]}; "
                f"last drift {blocks[-1] / blocks[-2] - 1:+.1%}")

        n = wl.ops(args.seconds)
        reset_peak_rss(spark)
        if args.trace:
            # untraced, traced, untraced: the overhead estimate then
            # cancels any drift that is linear over the three windows
            half = wl.bracket_ops(n)
            before = run_window(wl, half, NullTracer())
            tr = Tracer(SparkCounters(spark))
            traced = run_window(wl, n, tr)
            after = run_window(wl, half, NullTracer())
            windows = [before, traced, after]
            untraced = {k: before[k] + after[k]
                        for k in ("lat", "rows", "failed", "kinds")}
        else:
            untraced = run_window(wl, n, NullTracer())
            windows = [untraced]
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())
        t = time.perf_counter()
        run_errs = wl.check_run()
        say(f"run checks {time.perf_counter() - t:.2f}s")
        if run_errs:        # the per-op outputs all equal the checked one
            for w in windows:
                w["failed"] = len(w["lat"])

        e2e = end_to_end(untraced, setup_s, rss)
        lat = untraced["lat"]
        say(f"untraced window: {len(lat)} ops in {sum(lat):.2f}s; p90 "
            f"from {len(lat)} samples, {stats.tail_count(len(lat), 0.9)}"
            " beyond it"
            + ("" if stats.tail_ok(len(lat), 0.9)
               else f" (fewer than {stats.MIN_TAIL}: indicative only)"))
        report("end-to-end (untraced):", e2e, END_TO_END)
        by_kind = {}
        for k, x in zip(untraced["kinds"], lat):
            by_kind.setdefault(k, []).append(x)
        say("median latency by op kind: " + ", ".join(
            f"{k} {stats.median(xs):.3f}s x{len(xs)}"
            for k, xs in by_kind.items()))
        errors = [e for w in [warm, *windows] for e in w["errors"]] \
            + run_errs
        for e in errors[:20]:
            say(f"CHECK FAILED: {e}")
        attempted = sum(len(w["lat"]) for w in windows)
        failed = sum(w["failed"] for w in windows)
        if args.trace:
            report("end-to-end (traced):",
                   end_to_end(traced, setup_s, rss), END_TO_END)
            report_layers(tr)
            layers = per_layer(tr, before, traced, after)
            report("per-layer:", layers, PER_LAYER)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tr.write(os.path.join(base, "traces",
                                  f"{args.workload}-seed{args.seed}.jsonl"))
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
