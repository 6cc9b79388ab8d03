"""Benchmark entry point.

    python3 perfbench/run.py --workload relational_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, builds the engine's session, warms it, runs passes of the
workload for about ``--seconds`` seconds, checks every op's output and
prints, as the last stdout line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The lines
before it repeat each metric with its unit. The full record (every op,
the run's environment, and with ``--trace 1`` the spans) is written to
``perfbench/_results/``. See README.md for what each number means.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import harness  # noqa: E402
from spans import Tracer, tail_percentile  # noqa: E402

WORKLOADS = ("relational_batch", "curation_batch", "omics_fs_jobs")
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB",
    "rows_per_s": "rows/s", "jobs_per_min": "jobs/min",
}
LAYER_UNITS = {
    "session.build_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.jobs_build": "count", "queries.eager_ops": "count",
    "engine.plan_s": "s", "engine.exec_s": "s", "engine.jobs_exec": "count",
    "engine.stages": "count", "engine.tasks": "count", "engine.failed_tasks": "count",
    "engine.shuffle_write_bytes": "bytes", "engine.spill_bytes": "bytes",
    "streaming.batches": "count", "streaming.input_rows": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_mem_bytes": "bytes",
    "streaming.outside_batch_s": "s",
    "sources.ingest_s": "s", "experiment.artifacts_s": "s",
    "fs.bbha_s": "s", "fs.fitness_evals": "count", "fs.fitness_s": "s",
    "fs.jobs_per_iteration": "count", "fs.core_busy_ratio": "ratio",
    "service.schedule_ms": "ms", "service.poll_lag_s": "s",
    "service.queue_wait_s": "s", "service.polls_per_job": "count",
}
#: a run that has not finished by then dumps its stacks and exits non-zero
WATCHDOG_S = 170


def _isolate(work: str) -> dict:
    """Keep every file the run writes inside ``work``: Python and JVM
    temp files, Spark local dirs, stream checkpoints, the warehouse,
    query scratch tables."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "ckpt", "warehouse", "scratch", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = dirs["ckpt"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM (the launcher's included) writes perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a 1g heap fills the same way in every run; at 2g, G1 heap growth made
    # peak RSS differ by a quarter from run to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return dirs


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _proc_stat(pid) -> tuple[int, int] | None:
    """(parent pid, start time in clock ticks) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def _descendants(pid: int) -> dict[int, int]:
    """Every descendant process of ``pid``, with its start time."""
    stats = {int(d): _proc_stat(d) for d in os.listdir("/proc") if d.isdigit()}
    stats = {p: st for p, st in stats.items() if st}
    out: dict[int, int] = {}
    frontier = {pid}
    while frontier:
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier and p not in out}
        out.update({p: stats[p][1] for p in frontier})
    return out


def _alive(pid: int, start: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[1] == start  # same process, not a reused pid


def _shutdown(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    children = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p, t) for p, t in children.items()):
        time.sleep(0.05)
    for p, t in children.items():
        if _alive(p, t):
            os.kill(p, signal.SIGKILL)


def _load_probe() -> float:
    """Seconds for a fixed 3M-step pure-Python loop: about 0.15 s on an
    idle 4-vCPU virtual machine, more when the host is busy."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i
    return time.perf_counter() - t


def measure(args, dirs: dict, tracer: Tracer) -> dict:
    """Generate inputs, set up, run the passes, check them; return the
    run's record (``metrics`` holds what the last stdout line reports)."""
    t_gen = time.perf_counter()
    if args.workload == "omics_fs_jobs":
        mol, clin = datagen.make_omics(args.seed, dirs["data"])
    else:
        datagen.make_tables(args.seed, dirs["data"])
    gen_s = time.perf_counter() - t_gen

    # --- set-up: program import, session, warm-up, job server ---------
    from multiomix_aws_emr_spark.queries import formats
    from multiomix_aws_emr_spark.session import build_session

    formats._SCRATCH = dirs["scratch"]  # query scratch files stay in the checkout
    t = time.perf_counter()
    with tracer.span("session.build"):
        spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    build_s = time.perf_counter() - t
    events = jobs = None
    try:
        import warmup

        if args.workload == "omics_fs_jobs":
            import omics

            with tracer.span("session.warmup"):
                warmup_s = warmup.warm_up(spark, dirs["data"], ("scans", "udf_pool"),
                                          [os.path.basename(mol), os.path.basename(clin)])
            jobs = omics.JobsWorkload(spark, mol, clin, dirs["scratch"], tracer)
            jobs.start_server()
        else:
            import queryload

            ops, parts, tables = queryload.WORKLOADS[args.workload]
            events = harness.StreamEvents(spark)
            with tracer.span("session.warmup"):
                warmup_s = warmup.warm_up(spark, dirs["data"], parts, tables, events)

            def rewarm(data_dir):
                warmup.warm_up(spark, data_dir, ("scans",), tables)

            runner = queryload.QueryRunner(spark, dirs["data"], ops, tracer, events, rewarm)
        setup_s = time.perf_counter() - T0 - gen_s

        # --- measured passes, then the output checks --------------------
        if jobs is not None:
            undo = jobs.patch() if tracer.enabled else []
            passes = harness.run_passes(jobs.run_pass, args.seconds)
            omics.unpatch(undo)
            jobs.serial_reference()
            jobs.check([r for p in passes for r in p])
            layer = jobs.layer_metrics([r for p in passes for r in p]) if tracer.enabled else {}
        else:
            passes = harness.run_passes(runner.run_pass, args.seconds)
            import check

            oracle = check.Oracle(dirs["data"], datagen.TABLES)
            for p in passes:
                runner.check(p, oracle)
            oracle.close()
            layer = queryload.layer_metrics(passes, tracer) if tracer.enabled else {}

        from pyspark import SparkContext

        peak_kb = _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(SparkContext._gateway.proc.pid)
        t_end = time.perf_counter()
    finally:
        if jobs is not None:
            jobs.stop()
        if events is not None:
            events.close()
        _shutdown(spark)

    results = [r for p in passes for r in p]
    e2e = harness.summarize(passes)
    e2e.update(setup_s=setup_s, peak_rss_mb=peak_kb / 1024.0)
    tail = tail_percentile([r.wall for r in results])
    if args.trace:
        layer.update({"session.build_s": build_s, "session.warmup_s": warmup_s})
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "workload": args.workload,
        "env": {
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "load_probe_s": _load_probe(), "loadavg_1m": os.getloadavg()[0],
            "input_gen_s": gen_s, "passes": len(passes),
            "after_passes_s": t_end - T0 - gen_s - setup_s - sum(harness.pass_wall(p) for p in passes),
            "shutdown_s": time.perf_counter() - t_end,
        },
        "metrics": metrics, "e2e": e2e, "layer": layer,
        "op_tail": {"percentile": tail[0], "value_s": tail[1], "samples": tail[2]} if tail else None,
        "error_rate": sum(1 for r in results if r.error) / len(results),
        "ops": [{"name": r.name, "start": r.start, "end": r.end, "wall_s": r.wall,
                 "error": r.error, "input_rows": r.input_rows} for r in results],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer(bool(args.trace))
    try:
        record = measure(args, _isolate(work), tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(HERE, "_results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")

    env, ops = record["env"], record["ops"]
    failed = [o for o in ops if o["error"]]
    for o in failed:
        print(f"FAILED {o['name']}: {o['error']}")
    print(f"workload={args.workload} seed={args.seed} nproc={env['nproc']} "
          f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} load_probe_s={env['load_probe_s']:.3f} "
          f"passes={env['passes']} ops={len(ops)}")
    for k, m in record["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"op_p50_s = {record['e2e']['op_p50_s']:.6g} s")
    print(f"error_rate = {record['error_rate']:.6g}")
    if record["op_tail"]:
        t = record["op_tail"]
        print(f"op_tail_s = p{t['percentile']} {t['value_s']:.6g} s over {t['samples']} ops")
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": record["metrics"]}))
    faulthandler.cancel_dump_traceback_later()
    return 0


if __name__ == "__main__":
    sys.exit(main())
