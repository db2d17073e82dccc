"""Benchmark entry point.

    python3 tsdbbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds one Spark session at
``local[nproc]``, generates the workload's inputs from the seed under
``.bench_run/`` (removed at exit), measures for ``--seconds`` and prints
one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans go to ``tsdbbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "apsviz_timeseriesdb_ingest_spark"

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "rows/s",
    "fact_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local cores (default: all)")
    return p.parse_args(argv)


def configure_env(workdir: str, cores: int) -> None:
    """Environment the session and its Python workers inherit: the
    checkout on PYTHONPATH, the core count, and every scratch location
    inside the run's own directory."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.pop("SPARK_MASTER", None)


def session(workdir: str, traced: bool):
    from apsviz_timeseriesdb_ingest_spark.session import DEFAULT_CONF, get_spark

    # a fixed-size heap (-Xms = -Xmx), so peak RSS does not depend on
    # when the collector chose to grow it
    java_opts = " ".join([DEFAULT_CONF["spark.driver.extraJavaOptions"],
                          f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                          "-XX:-UsePerfData",
                          f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000"})
    spark = get_spark("tsdbbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """Peak RSS of this driver process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def end_to_end(run, pid) -> dict:
    from tsdbbench.workloads import fact_bytes, fact_rows

    ops, catalog = run.ops, run.catalog
    values = {
        "setup_s": run.setup_s,
        "op_s_p50": statistics.median(o["s"] for o in ops),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(o["s"] for o in ops),
        "fact_bytes_per_row": fact_bytes(catalog) / max(1, fact_rows(catalog)),
        "peak_rss_mb": peak_rss_mb(pid),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def scaling_1core(args) -> float:
    """rows/s of a short untraced obs_backfill at ``local[1]`` in a child
    process (the single-core baseline)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "obs_backfill",
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--cores", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["rows_per_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from tsdbbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = args.cores or len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(workdir, cores)
    spark = None
    try:
        spark = session(workdir, bool(args.trace))
        harness = None
        run = Run(spark, workdir, args.seed, args.seconds, T_PROCESS)
        if args.trace:
            from tsdbbench import trace
            harness = trace.Harness(spark, run)
        WORKLOADS[args.workload](run)
        failed = sum(not o["ok"] for o in run.ops)
        if args.trace:
            metrics = harness.finish(scaling_1core(args)
                                     if args.workload == "obs_backfill" else 0.0)
            out_dir = os.path.join(ROOT, "tsdbbench_out")
            os.makedirs(out_dir, exist_ok=True)
            harness.tracer.write(
                os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "ops": run.ops,
                 "notes": run.notes, "env": environment(spark, cores)})
        else:
            metrics = end_to_end(run, jvm_pid(spark))
        for note in run.notes:
            print(f"mismatch: {note}", file=sys.stderr)
        env = environment(spark, cores)
        print(json.dumps({"workload": args.workload, "seed": args.seed, **env,
                          "ops_s": [round(o["s"], 3) for o in run.ops]}),
              file=sys.stderr)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))  # only if no other run uses it
            except OSError:
                pass
    print(json.dumps({"correct": failed == 0 and not run.notes,
                      "attempted": len(run.ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def environment(spark, cores: int) -> dict:
    return {"nproc": cores, "spark": spark.version,
            "python": sys.version.split()[0]}


if __name__ == "__main__":
    sys.exit(main())
