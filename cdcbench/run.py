"""CDC export benchmark: one run of one workload.

    python3 cdcbench/run.py --workload cdc_incremental --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``; per-layer metrics from a traced run with ``--trace 1``).
A traced run also writes its spans to ``.cdcbench_out/``. Everything the
run writes lives under the repository root and is removed at exit, apart
from that trace file. See DESIGN.md for the workloads, the pins and what
each metric should move.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402 — the set-up clock starts before any import
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("cdc_incremental", "cdc_full_bulk")
DRIVER_HEAP = "2g"
# a run must end within 180 s; a hang is killed just before that
DEADLINE_S = 175


def task_threads() -> int:
    """Spark's task threads: half the CPUs this process may use. The other
    half runs the client process and the JVM's driver, JIT and GC
    threads; with a task thread per CPU those queue behind the tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_environment(run_dir: Path) -> dict:
    """Pin the run-to-run variance sources (DESIGN.md, "Pins") and return
    the Spark conf that goes with them."""
    for sub in ("local", "tmp", "warehouse", "out"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(task_threads()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        "TMPDIR": str(run_dir / "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Xms{DRIVER_HEAP} -Djava.io.tmpdir={run_dir / 'tmp'}"),
    }


def layer_metrics(tr, wl) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans of a traced run: medians per call
    over the timed passes, set-up layers over the set-up repeats."""
    med = statistics.median
    timed = [s for s in tr.spans if s.start >= wl.timed_start]

    def calls(name):
        return [s for s in timed if s.name == name]

    setup = [s for s in tr.spans if s.start < wl.timed_start]
    merges = calls("txn_table.merge")
    gets, upserts = calls("watermark.get"), calls("watermark.upsert")
    runs = [s for s in timed if s.name.startswith("exports.")]
    writes = calls("csv_sink.write_users_csv")
    jobs = calls("jobs.start_export_job")
    out = {
        "session.start_s": (next(s for s in setup if s.name == "session.start").duration, "s"),
        "datagen.users_s": (med(s.duration for s in setup if s.name == "datagen.users"), "s"),
        "txn_table.create_s": (med(s.duration for s in setup if s.name == "txn_table.create"),
                               "s"),
        "txn_table.merge_s": (med(s.self_s for s in merges), "s"),
        "txn_table.merge_jobs": (med(s.jobs for s in merges), "count"),
        "txn_table.merge_files_rewritten": (med(s.info["files_touched"] for s in merges),
                                            "count"),
        "txn_table.read_s": (med(s.self_s for s in calls("txn_table.read")), "s"),
        "watermark.get_s": (med(s.self_s for s in gets), "s"),
        "watermark.get_jobs": (med(s.jobs for s in gets), "count"),
        "watermark.upsert_s": (med(s.self_s for s in upserts), "s"),
        "watermark.upsert_jobs": (med(s.jobs for s in upserts), "count"),
        "watermark.chain_files": (wl.state_files, "count"),
        "exports.self_s": (med(s.self_s for s in runs), "s"),
        "exports.jobs": (med(s.jobs for s in runs), "count"),
        "csv_sink.write_s": (med(s.self_s for s in writes), "s"),
        "csv_sink.jobs": (med(s.jobs for s in writes), "count"),
        "csv_sink.rows_per_s": (sum(s.info["rows"] for s in writes)
                                / sum(s.self_s for s in writes), "rows/s"),
        "csv_sink.bytes_per_row": (sum(s.info["bytes"] for s in writes)
                                   / sum(s.info["rows"] for s in writes), "B"),
        "jobs.self_s": (med(s.self_s for s in jobs), "s"),
        "jobs.spark_jobs_per_export": (
            sum(x.jobs for s in jobs for x in tr.subtree(s)) / len(jobs), "count"),
    }
    units = {"executor_run_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B",
             "tasks": "count"}
    for kind, roots in (("export", jobs), ("merge", merges)):
        for key, unit in units.items():
            total = sum(x.stages.get(key, 0) for s in roots for x in tr.subtree(s))
            out[f"spark.{key}.{kind}"] = (total / len(roots), unit)
    # task GC is often 0 ms over a run's few merges, so it is rolled up
    # over every timed span, per pass
    out["spark.gc_s.pass"] = (sum(s.stages.get("gc_s", 0) for s in timed)
                              / len(wl.samples.passes), "s")
    out["trace.pass_s"] = (med(wl.samples.passes), "s")
    return out


def trace_detail(tr, wl) -> dict:
    """What the trace file records beside the spans: per top-level span
    kind, the self time of each layer under it, and the accounting check
    that those self times sum to the measured export time."""
    timed_roots = [s for s in tr.spans if s.parent is None and s.start >= wl.timed_start]
    kinds: dict[str, dict] = {}
    for root in timed_roots:
        k = kinds.setdefault(root.name, {"calls": 0, "duration_s": 0.0, "self_s": {},
                                         "jobs": {}})
        k["calls"] += 1
        k["duration_s"] += root.duration
        for s in tr.subtree(root):
            layer = s.name.split(".")[0]
            k["self_s"][layer] = k["self_s"].get(layer, 0.0) + s.self_s
            k["jobs"][s.name] = k["jobs"].get(s.name, 0) + s.jobs
    return {"workload": wl.name, "seed": wl.seed, "timed_start": wl.timed_start,
            "by_root_kind": kinds}


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin,
    the pipe from this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke run for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not (ROOT / "cdc_export_system_spark" / "__init__.py").is_file():
        print(f"cdcbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    signal.alarm(DEADLINE_S)
    run_dir = ROOT / ".cdcbench_run" / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    conf = pin_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    from cdcbench.tracing import Tracer
    from cdcbench.workload import SHAPES, Workload

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    wl = Workload(args.workload, SHAPES[args.workload][args.size], args.seed, str(run_dir), conf)
    try:
        wl.setup(PROCESS_START)
        wl.warm_up()
        ready_s = time.monotonic() - PROCESS_START
        wl.measure(args.seconds)
        wl.final_check()
        if tracer:
            tracer.uninstall()
            tracer.finish(wl.spark)
            metrics = layer_metrics(tracer, wl)
            out_dir = ROOT / ".cdcbench_out"
            out_dir.mkdir(exist_ok=True)
            trace_path = out_dir / f"{args.workload}-seed{args.seed}-trace.json"
            tracer.write(str(trace_path), trace_detail(tracer, wl))
        else:
            metrics = wl.metrics()
    finally:
        if wl.spark is not None:
            shutdown(wl.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run is using it
    detail = {"ready_s": ready_s, "setup_reps_s": wl.samples.setup,
              "passes": wl.samples.passes, "merges": wl.samples.merges,
              "exports": [(kind, t) for kind, t, _ in wl.samples.exports],
              "export_tail": wl.export_tail(),
              "failures": wl.failures[:20]}
    print(f"cdcbench detail: {json.dumps(detail)}", file=sys.stderr)
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
