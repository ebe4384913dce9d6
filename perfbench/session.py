"""Spark sessions for the benchmark, and the shipped CLI called in-process.

Every session uses the same launch settings, the in-process equivalent of
`spark-submit --master local[$(nproc)] --driver-memory 4g --py-files ffg.zip`:
the package reaches the Python workers as a zip of the working tree, and all
Spark scratch space stays inside the build directory."""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import zipfile

DRIVER_MEMORY = "4g"


def build_zip(root: str, build: str) -> str:
    """Zip the package the way the README does for --py-files."""
    path = os.path.join(build, "ffg.zip")
    pkg = os.path.join(root, "forex_feature_generator_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(pkg):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, root))
    return path


def launch_conf(build: str, zip_path: str) -> dict[str, str]:
    tmp = os.path.join(build, "tmp")
    local = os.path.join(build, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp            # Python workers inherit it
    return {
        "spark.master": f"local[{os.cpu_count()}]",
        "spark.driver.memory": DRIVER_MEMORY,
        # bench.py's sizing, which the README's spark-submit command does not
        # pass: at Spark's default 200 partitions every grouped-map stage
        # runs ~200 near-empty Python tasks and the features job takes 2-3x
        # as long, more than the benchmark's time budget has room for
        "spark.sql.shuffle.partitions": str(max(os.cpu_count(), 8)),
        "spark.submit.pyFiles": zip_path,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
    }


def _cli_session(conf: dict[str, str]):
    """The CLI's own builder (`SparkSession.builder.appName(...)`) with the
    launch settings."""
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("forex_feature_generator_spark")
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _engine_session(conf: dict[str, str]):
    """engine.session.get_spark, as bench.py builds it for the query suite."""
    from forex_feature_generator_spark.engine.session import get_spark
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = conf["spark.local.dir"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = conf["spark.driver.memory"]
    cpus = os.cpu_count()
    extra = {k: v for k, v in conf.items()
             if k not in ("spark.master", "spark.driver.memory",
                          "spark.local.dir", "spark.sql.shuffle.partitions")}
    return get_spark("ffg-perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
                     extra_conf=extra)


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start(kind: str, conf: dict[str, str]):
    """Launch the JVM and build the session. Returns (spark, seconds)."""
    make = _cli_session if kind == "cli" else _engine_session
    t0 = time.perf_counter()
    spark = make(conf)
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def effective_settings(spark) -> dict[str, str]:
    keys = ("spark.master", "spark.driver.memory", "spark.submit.pyFiles",
            "spark.local.dir", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
            "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.session.timeZone")
    conf = spark.sparkContext.getConf()
    return {k: conf.get(k) or spark.conf.get(k) for k in keys}


def run_cli(root: str, argv: list[str]) -> list[dict]:
    """Call spark_submit_main.main() with `argv` on the live session; the
    CLI's final spark.stop() is held back so the session serves the next
    job. Returns the JSON lines the CLI printed."""
    from pyspark.sql import SparkSession
    if root not in sys.path:
        sys.path.insert(0, root)
    import spark_submit_main
    out = io.StringIO()
    old_argv, old_stop = sys.argv, SparkSession.stop
    sys.argv = ["spark_submit_main.py", *argv]
    SparkSession.stop = lambda self: None
    try:
        with contextlib.redirect_stdout(out):
            spark_submit_main.main()
    finally:
        sys.argv, SparkSession.stop = old_argv, old_stop
    return [json.loads(line) for line in out.getvalue().splitlines()
            if line.startswith("{")]
