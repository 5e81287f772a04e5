"""Layered benchmark for the product path and the driver registry.

    python3 perfbench/run.py --workload landing_deep --seed 1 --seconds 5 --trace 0

Workloads: ``landing_deep`` (QueryInfo landing dir -> report, see
landing.py) and ``registry`` (a sample of the driver query registry, one
query per family, see registry.py). Inputs are generated from
``--seed`` before anything is timed. After set-up (session start plus an
untimed warm-up through the same path), passes repeat until ``--seconds``
have been measured. With ``--trace 1`` untraced and traced passes alternate,
starting and ending with an untraced one: the traced ones give the
per-layer metrics, and their walls against their neighbours' give the
tracing overhead.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``,
end-to-end metrics with ``--trace 0`` and per-layer metrics with ``--trace 1``.
The line before it carries the run's provenance. Both, plus the spans of a
traced run, are also written under ``.perfbench_out/``. The command exits
non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "e2e_s": "s",
    "prepare_s": "s",
    "execute_s": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Per-layer metric names and units. The analyzer and silver table names
    come from the package, so call this only once the checkout holds it."""
    from presto_workload_analyzer_spark.pipeline import ANALYZERS, SILVER_TABLES

    from registry import FAMILIES

    return {
        "session.get_spark_s": "s",
        "setup.warm_up_s": "s",
        "queryinfo.frame_s": "s",
        "queryinfo.sink_s": "s",
        "queryinfo.readback_s": "s",
        "queryinfo.jobs": "count",
        "queryinfo.tasks": "count",
        "queryinfo.summarize_ms_per_doc": "ms",
        "queryinfo.docs_in": "count",
        "queryinfo.docs_kept": "count",
        "queryinfo.docs_dropped": "count",
        "queryinfo.docs_per_s": "1/s",
        **{f"pipeline.{t}_fill_s": "s" for t in SILVER_TABLES},
        **{f"pipeline.{t}_rows": "count" for t in SILVER_TABLES},
        "pipeline.silver_write_s": "s",
        "pipeline.files_written": "count",
        "pipeline.bytes_written": "bytes",
        "flatten.plan_nodes_us_per_query": "us",
        "flatten.tasks_us_per_query": "us",
        **{f"analyzers.{a}_s": "s" for a in ANALYZERS},
        "analyzers.jobs": "count",
        "analyzers.tasks": "count",
        "emitter.build_s": "s",
        "emitter.write_s": "s",
        "emitter.jobs": "count",
        "emitter.tasks": "count",
        "emitter.bytes": "bytes",
        "emitter.charts": "count",
        "emitter.chart_errors": "count",
        **{
            f"driver_queries.{fam}.{m}": unit
            for fam in FAMILIES
            for m, unit in (
                ("build_s", "s"),
                ("exec_s", "s"),
                ("analysis_ms", "ms"),
                ("optimization_ms", "ms"),
                ("planning_ms", "ms"),
                ("jobs", "count"),
            )
        },
        "driver_queries.query_p50_s": "s",
        "driver_queries.query_p90_s": "s",
        "memory.peak_rss_mb": "MB",
        "trace.overhead_ratio": "ratio",
    }


WORKLOADS = ("landing_deep", "registry")


def _environment(work: str) -> None:
    """Keep Spark inside the checkout and sized to this host."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # both JVMs (the spark-submit launcher and the driver): temp files inside
    # the checkout, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.environ['TMPDIR']}"])
    )
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.chdir(ROOT)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; the ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.add(child)
            todo.append(child)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _shut_down(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended: the JVM only exits once its stdin pipe closes, which
    would otherwise happen after this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        started |= _descendants(os.getpid())
        deadline = time.monotonic() + 30
        while any(map(_alive, started)) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in filter(_alive, started):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while any(map(_alive, started)):
            time.sleep(0.05)


def _git() -> dict:
    def run(*cmd):
        try:
            r = subprocess.run(["git", "-C", ROOT, *cmd], capture_output=True, text=True, timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    status = run("status", "--porcelain")
    return {"sha": run("rev-parse", "HEAD"), "dirty": None if status is None else bool(status)}


def _calibration(spark, probe_dir: str) -> dict:
    """bench.py's CPU and IO calibration probes, one reading each."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id % 97) AS s").collect()
    t1 = time.perf_counter()
    spark.read.parquet(os.path.join(probe_dir, "documents.parquet")).selectExpr(
        "sum(length(text)) AS s", "count(*) AS n"
    ).collect()
    t2 = time.perf_counter()
    return {"cpu_s": t1 - t0, "io_s": t2 - t1, "loadavg": list(os.getloadavg())}


def _median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    for needed in ("presto_workload_analyzer_spark/__init__.py", "tests/queryinfo_fixtures.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} is not in this checkout; nothing to measure", file=sys.stderr)
            return 2

    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work)
    load_start = list(os.getloadavg())

    import pyspark
    from presto_workload_analyzer_spark.session import get_spark

    import sftables
    from spans import Tracer

    if args.workload == "registry":
        from registry import RegistryWorkload as Workload
    else:
        from landing import LandingWorkload as Workload

    # inputs come from the seed and are made before anything is timed
    wl = Workload(args.seed, work)
    probe_dir = os.path.join(work, "probe")
    sftables.write_tables(probe_dir, 0, 0.001)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        t1 = time.perf_counter()
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.run_id = f"{tag}-setup"
        tracer.record("session.get_spark", t0, t1)
        with tracer.span("setup.warm_up"):
            wl.warm_up(spark, tracer)
        t2 = time.perf_counter()
        setup = {"session.get_spark_s": t1 - t0, "setup.warm_up_s": t2 - t1}

        calib_start = _calibration(spark, probe_dir)
        passes = []
        measure_from = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tracer.enabled = traced  # an untraced pass records no spans
            tracer.run_id = f"{tag}-pass{len(passes)}"
            passes.append((traced, tracer.run_id, wl.run_pass(spark, tracer, traced)))
            tracer.resolve_tasks()
            done = time.perf_counter() - measure_from >= args.seconds
            if done and (not args.trace or (len(passes) >= 3 and len(passes) % 2 == 1)):
                break
        measured_s = time.perf_counter() - measure_from

        problems = [p for _, _, ps in passes for p in ps.problems]
        if args.workload == "registry":
            problems += wl.check()
            attempted = len(wl.names)
            failed = len({p.split(":")[0] for p in problems})
        else:
            attempted = len(passes)
            failed = sum(bool(ps.problems) for _, _, ps in passes)
        calib_end = _calibration(spark, probe_dir)
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)

        if args.trace:
            traced_passes = [(rid, ps) for tr, rid, ps in passes if tr]
            layers = _median_dict([wl.layer_metrics(tracer.of_run(rid), ps) for rid, ps in traced_passes])
            layers.update(setup)
            layers["memory.peak_rss_mb"] = peak_rss
            # every traced pass sits between two untraced ones that time the
            # same calls (the traced-only probes run after the wall), so
            # comparing it with their mean cancels the warming from pass order
            walls = [ps.e2e_s for _, _, ps in passes]
            layers["trace.overhead_ratio"] = statistics.median(
                walls[i] / ((walls[i - 1] + walls[i + 1]) / 2) for i in range(1, len(walls), 2)
            )
            units = per_layer_metrics()
            values = {name: float(layers.get(name, 0.0)) for name in units}
        else:
            timed = _median_dict(
                [{"e2e_s": ps.e2e_s, "prepare_s": ps.prepare_s, "execute_s": ps.execute_s} for _, _, ps in passes]
            )
            values = {"setup_s": t2 - t0, **timed}
            units = END_TO_END

        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "started_utc": started,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "git": _git(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "loadavg": {"start": load_start, "end": list(os.getloadavg())},
            "calibration": {"start": calib_start, "end": calib_end},
            "passes": len(passes),
            "measured_s": measured_s,
            "pass_e2e_s": [ps.e2e_s for _, _, ps in passes],
            "setup": setup,
            "peak_rss_mb": peak_rss,
            "failed_ratio": failed / attempted,
            "problems": problems,
            **wl.provenance(),
        }
    finally:
        _shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"provenance": provenance, "result": result}, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
