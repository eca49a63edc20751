"""Session start, input registration and shutdown: the benchmark's set-up."""

from __future__ import annotations

import os
import subprocess


def task_threads() -> int:
    """Task threads: the cores this process may run on, never more."""
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap: a quarter of RAM, capped at 6 GB, so the dataset and
    the Python workers stay in the page cache beside it."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(2, min(6, total_kb // (4 * 1024 * 1024)))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit: workers
    import the checkout's ``tokenqc`` (never a packaged zip) and every
    scratch file lands under the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    # the driver, and the REST server of traced runs, listen on loopback only
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_session(work: str, ui: bool):
    """SparkSession over ``local[<cores>]`` with the engine's own
    defaults from ``tokenqc.session.get_spark``; only the sizing, the
    scratch locations and (for traced runs) the UI/REST server differ."""
    from tokenqc.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_gb()}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"  # any free port, bound to localhost
    spark = get_spark("tokenqc-perfbench", master=f"local[{task_threads()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register(spark, paths: dict[str, str]) -> dict:
    """Input registration: one DataFrame per input table."""
    return {name: spark.read.parquet(p) for name, p in paths.items()}


def shutdown(spark=None) -> None:
    """Stop the session (if one started), then the gateway JVM, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dataset_paths(data: str) -> dict[str, str]:
    return {
        "sequences": os.path.join(data, "sequences"),
        "reference_tokens": os.path.join(data, "reference_tokens"),
        "allowed_sources": os.path.join(data, "allowed_sources.parquet"),
        "baseline_hist": os.path.join(data, "baseline_hist.parquet"),
        "token_baseline": os.path.join(data, "token_baseline.parquet"),
    }
