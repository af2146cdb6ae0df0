"""Benchmark entry point.

    python3 perfbench/run.py --workload agent --seed 1 --seconds 20 --trace 0

Runs one workload of BENCHMARK.json against the program in this
checkout and prints, as the last line of standard output, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON detail record (environment, seed, extra
latencies, correctness notes). A traced run also writes its spans, one
JSON object per line, to ``.bench_out/spans-<workload>-seed<seed>.jsonl``.

Every run works in a fresh temporary directory under ``.bench_tmp/``
(Spark warehouse, Derby home, Spark local dirs, JVM and Python temp
files, query cache, generated inputs) and deletes it at exit, so runs
start from identical state and leave nothing behind.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def machine() -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
    }


def pin_environment(tmp: str, env: dict) -> dict[str, str]:
    """Environment and Spark conf for this run: cores = nproc, driver
    memory sized to the machine, every scratch path inside ``tmp``."""
    for d in ("local", "jtmp", "py", "derby", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(env["nproc"])
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_MASTER", None)
    # 1 GiB of heap per 8 GiB of RAM, 1..8 GiB: other processes share the
    # machine, and a heap that fills to its cap keeps peak RSS comparable
    # run to run
    gib = max(1, min(8, env["mem_total_mb"] // 8192))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    # collected timestamps are shown in the process's zone: pin it
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = os.path.join(tmp, "py")
    env["driver_memory"] = os.environ["SPARK_DRIVER_MEMORY"]
    # initial heap = max heap: no heap-growth decisions to vary peak RSS;
    # no perf-data file, which the JVM would write outside the run's dir
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{gib}g -XX:-UsePerfData -Dderby.system.home={os.path.join(tmp, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
    }


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus its Spark JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {names}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    # fail before any work when the program is not in this checkout
    import wren_engine_spark  # noqa: F401

    from perfbench import workload_corpus, workload_serving
    from perfbench.core import Context

    run_workload = {"agent": workload_serving.run_agent, "corpus": workload_corpus.run}[
        args.workload]

    env = machine()
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    spark = None
    try:
        conf = pin_environment(tmp, env)
        from wren_engine_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        ctx = Context(args.seed, args.seconds, bool(args.trace), tmp, spark,
                      time.perf_counter() - t)
        jsc = spark.sparkContext._jsc.sc()
        ctx.sc_jobs = lambda: jsc.dagScheduler().numTotalJobs()
        res = run_workload(ctx)
        if args.trace:
            res.metrics["session.start_s"] = ctx.session_start_s
            # layers this workload never calls read 0
            absent = [m["name"] for m in wanted if m["name"] not in res.metrics]
            res.metrics.update(dict.fromkeys(absent, 0.0))
            res.detail["not_exercised"] = absent
        else:
            res.metrics["setup_s"] = res.window_open - T_PROCESS
            res.metrics["peak_rss_mb"] = peak_rss_mb(spark)
        if res.tracer is not None:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            res.tracer.dump(spans)
            res.detail["spans_file"] = os.path.relpath(spans, ROOT)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    missing = [m["name"] for m in wanted if m["name"] not in res.metrics]
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "session_start_s": ctx.session_start_s,
              **res.detail}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            m["name"]: {"value": res.metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
