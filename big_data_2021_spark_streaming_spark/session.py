"""SparkSession factory with scale-aware defaults.

The reference bootstraps a bare session with only a Kafka package pin
(``srapk_structure_streaming.py:9-11``) and inherits Spark 3.1 defaults
(200 shuffle partitions for a 1-partition topic — see SURVEY.md §6).
We instead pin the configs that matter at 100 TB:

- AQE on (runtime coalescing / skew-join splitting for batch plans).
- ``spark.sql.shuffle.partitions`` sized from the local core budget;
  on a real cluster AQE coalesces the excess, so oversizing is safe.
- UTC session timezone so event-time semantics are deployment-invariant
  (and match the DuckDB oracle, which reads parquet timestamps naively).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the test tables carry
  parquet TIMESTAMP(NANOS) which Spark refuses natively; we read the
  raw int64 and floor-divide to micros in the catalog layer
  (sources/batch.py) — identical truncation to DuckDB's ns→µs read.
- Arrow enabled for the pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# the cores this process may run on, not the machine's: a container or
# taskset pins fewer than os.cpu_count() reports
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def get_session(
    app_name: str = "big-data-2021-spark-streaming-spark",
    master: str | None = None,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local mode runs driver+executors in ONE JVM, so Spark's 1g
        # driver default is the whole memory budget — the sf0.4 dedup
        # gram frames OOM'd it. Size the heap to the workload tier
        # (env-overridable); harmless on a real cluster where the
        # driver is only the coordinator.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            # RocksDB state store: bounded memory for large streaming state
            # (the reference used HDFSBackedStateStoreProvider, which keeps
            # all state on-heap — fine for 135 records, fatal at 100 TB).
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        _ship_package(spark)
    except Exception as e:
        # best-effort: repo-root cwd still works without it — but say
        # so, or a broken zip surfaces later as an opaque worker-side
        # ModuleNotFoundError with no clue it was a shipping failure
        print(
            f"warning: could not ship package to workers: {e}",
            file=sys.stderr,
        )
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark PYTHON WORKERS regardless
    of the driver process's cwd.

    The Arrow ``mapInPandas`` operators (multimodal, similarity)
    cloudpickle their functions BY REFERENCE, so executors must import
    ``big_data_2021_spark_streaming_spark`` themselves. A driver-side
    ``sys.path.insert`` (``__spark_entry__``) does not propagate to
    workers — they only see PYTHONPATH, pyFiles, and their cwd. Running
    from the repo root masks this (worker cwd is on its path); any
    other cwd fails with ModuleNotFoundError inside the worker. Zip the
    package once per session and ``addPyFile`` it — the live-session
    mechanism Spark provides for exactly this.

    Caveat: the zip is keyed by applicationId and shipped once per
    session, so package code EDITED while a session is live keeps
    running the stale zip on workers until the session restarts —
    restart the session after editing operator code."""
    import pathlib
    import tempfile
    import zipfile

    marker = "spark.big_data_2021_spark_streaming_spark.shipped"
    try:
        if spark.conf.get(marker, None) == "true":
            return
    except Exception:
        pass
    pkg_root = pathlib.Path(__file__).resolve().parent
    zpath = pathlib.Path(tempfile.gettempdir()) / (
        f"big_data_2021_spark_streaming_spark_pkg_"
        f"{spark.sparkContext.applicationId}.zip"
    )
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for f in sorted(pkg_root.rglob("*")):
                if "__pycache__" in f.parts or not f.is_file():
                    continue
                z.write(f, f"{pkg_root.name}/{f.relative_to(pkg_root)}")
    spark.sparkContext.addPyFile(str(zpath))
    try:
        spark.conf.set(marker, "true")
    except Exception:
        pass


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to a session we did
    not create (the driver hands us one in ``__spark_entry__``)."""
    runtime = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    try:
        _ship_package(spark)
    except Exception as e:
        print(
            f"warning: could not ship package to workers: {e}",
            file=sys.stderr,
        )
    return spark
