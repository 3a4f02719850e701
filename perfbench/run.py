"""Benchmark of the odl_etl_spark engine: one workload per process.

    python3 perfbench/run.py --workload lake_curation --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a local Spark session with
the engine's defaults, generates (or reuses) the workload's inputs for
``--seed``, times one pass of the workload's calls (the first of the
process) and checks the pass's outputs against independent references.
``--seconds`` is the least pass time a run is meant to measure; one pass
of every workload takes longer (see README.md), and a shorter pass is
reported on standard error. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each metric means.

Everything the run writes lives under ``.perfbench/`` at the repository
root: generated inputs are cached by seed in ``.perfbench/inputs`` and
each run's scratch (TMPDIR, Spark local dirs, sinks, state, checkpoints,
event log) goes to ``.perfbench/runs/<pid>``, removed at exit.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# Two task threads leave the other cores of a four-core box to the JIT
# compiler, the garbage collector, the Python driver and py4j.
CORES = 2


def process_start() -> float:
    """Wall-clock time this process started (from /proc when present)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def start_session(run_dir: str, trace: bool):
    """The engine's session (``session.get_spark``) on ``local[CORES]``,
    with every directory it writes pointed into ``run_dir``."""
    from odl_etl_spark.session import get_spark

    conf = {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp "
        f"-Dderby.system.home={run_dir}/derby",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark) -> None:
    """First query plus one Arrow-batched Python stage per core, so the
    JVM, codegen and the Python worker pool are up before any pass."""
    spark.range(0, 100_000, 1, CORES).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def _py_warm(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    spark.range(0, CORES * 4, 1, CORES).mapInPandas(_py_warm, "id long").collect()


def stop_session() -> None:
    """Stop the active Spark session, then the JVM it runs in, and wait
    for the JVM to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    t_start = process_start()
    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM the run starts (the launcher and the driver) would
    # otherwise keep its performance counters under /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    import layers
    import workloads
    from spans import NullTracer, Tracer

    t0 = time.time()
    spark = start_session(run_dir, args.trace)
    t1 = time.time()
    warm_session(spark)
    t2 = time.time()
    setup = {"setup_s": t2 - t_start, "session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}

    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    wl = workloads.WORKLOADS[args.workload](
        spark, os.path.join(STATE, "inputs"), work, args.seed
    )
    wl.prepare()

    tracer = Tracer(spark) if args.trace else NullTracer()
    # One pass, the first of the process: a batch ETL job runs once per
    # process, and a second, warm pass would not fit the run budget (see
    # README.md). Check reads inside the pass are subtracted.
    pass_dir = os.path.join(run_dir, "pass")
    os.makedirs(pass_dir)
    with tracer.sampling():
        t = time.perf_counter()
        attempted = wl.run_pass(tracer, pass_dir)
        pass_s = time.perf_counter() - t - wl.untimed_s
    if pass_s < args.seconds:
        print(f"pass took {pass_s:.2f} s, less than --seconds {args.seconds}", file=sys.stderr)

    results = wl.check()
    failures = [(op, msg) for op, msg in results if msg is not None]
    for op, msg in failures:
        print(f"CHECK FAILED {op}: {msg}", file=sys.stderr)
    # A check is named "<operation>" or "<operation>:<aspect>"; an
    # operation fails once however many of its checks fail.
    failed = len({op.split(":")[0] for op, _ in failures})
    stop_session()

    if args.trace:
        metrics, table = layers.per_layer(
            wl, tracer, setup, os.path.join(run_dir, "eventlog"), pass_s
        )
        print("\n".join(table), file=sys.stderr)
    else:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "stored_mb": (wl.stored_bytes / 1e6, "MB"),
        }
    print(f"pass_s: {pass_s:.3f}", file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload",
        required=True,
        choices=("lake_curation", "stream_ingest"),
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # The program under test is the checkout's own package; refuse to run
    # against anything else.
    if not os.path.isfile(os.path.join(ROOT, "odl_etl_spark", "__init__.py")):
        print(f"odl_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
