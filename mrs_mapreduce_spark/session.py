"""SparkSession factory tuned for this engine.

Capability parity: ``mrs/main.py`` + ``mrs/param.py`` (run-mode selection and
the Param CLI system — SURVEY.md §2 A16/A17). In Spark those are session
configuration, not code: ``local[1]`` replaces ``--mrs=Serial``, ``local[*]``
replaces MockParallel, and a cluster master URL replaces Master/Slave mode.

Scale design (100 TB): every config here is chosen to survive a 1000-executor
cluster — AQE on (runtime partition coalescing + skew-join splitting), Arrow
on (all pandas_udf/mapInPandas paths batch through Arrow), shuffle partition
count is a *starting point* that AQE re-plans from actual map output sizes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: Configs that must hold on ANY session running this engine's queries —
#: including a session the test driver created before importing us. All of
#: these are runtime-settable SQL confs (verified on PySpark 4.1.2).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries parquet TIMESTAMP(NANOS); Spark 4 refuses it
    # unless read as raw int64 nanos (FIXTURES.md "events" note).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are naive (timestamp_ntz); pin the session zone so
    # any instant<->naive conversion is the identity, matching DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, broadcast
    # join demotion/promotion, skew-join splitting. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def _session_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )


def _default_shuffle_partitions(cpus: str) -> str:
    """Initial shuffle-partition count derived from session parallelism.

    Scale-adaptive, not a constant: at a low core count a hard-coded 32
    would mean several task waves of scheduling overhead per tiny
    shuffle. Start at the core count and let AQE re-plan from actual map
    output sizes (the count here is only the pre-AQE ceiling). On a real
    cluster this becomes executors x cores (x 2-3 for skew headroom),
    passed the same way.

    ``cpus`` is the string the caller already resolved for the master
    URL, so the partition count and the master always agree.
    """
    try:
        return str(max(1, int(cpus)))
    except ValueError:  # non-numeric env: fall back to the old constant
        return "32"


#: Configs that only make sense at session-build time.
#: ``spark.sql.shuffle.partitions`` is NOT here: it derives from the same
#: :func:`_session_cpus` value as the master string, inside get_session.
BUILD_CONFS: dict[str, str] = {
    # local mode runs every executor thread inside the driver JVM, whose
    # Spark default heap is 1g — badly undersized for local[32] on a
    # 128 GiB host (measured: a 10x-sf0.1 synthetic sweep OOM'd the JVM
    # in the first shuffle-heavy join). -Xmx is a cap, not a commit, so
    # oversizing costs nothing on smaller runs. On a real cluster this
    # is per-node spark.executor.memory instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Job.wait (A13) submits one concurrent action per dataset from
    # pool threads. Under the default FIFO scheduler a large job
    # submitted first starves every later job's tasks until its own
    # stages drain; FAIR round-robins task slots across concurrent jobs,
    # so independent datasets genuinely overlap — the reference's async
    # dataset scheduling semantics. Context-static, so set at build.
    # FAIR and FIFO measured indistinguishable on the four gated bench
    # shapes (BASELINE.md), so FAIR costs nothing where Job is unused.
    "spark.scheduler.mode": "FAIR",
    "spark.ui.enabled": "false",
    # Shuffle/spill block codec: zstd was A/B'd at the sf1-synth tier and
    # rejected (SCALE.md), so Spark's default lz4 stays.
    "spark.io.compression.codec": "lz4",
    "spark.sql.parquet.compression.codec": "zstd",
    # managed tables (bucketing demos/tests) land in tmp, not the repo
    "spark.sql.warehouse.dir": f"{tempfile.gettempdir()}/mrs_spark_warehouse",
}


def apply_runtime_confs(spark: SparkSession) -> None:
    """Defensively apply :data:`RUNTIME_CONFS` to an existing session."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass


def get_session(
    app_name: str = "mrs_mapreduce_spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to the cores
    this process may run on when the env var is unset, so the same entry
    point serves tests, examples and the bench harness on any host; on a
    real cluster pass the cluster master URL or rely on spark-submit.
    """
    cpus = _session_cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    confs = {
        "spark.sql.shuffle.partitions": _default_shuffle_partitions(cpus),
        **BUILD_CONFS,
        **RUNTIME_CONFS,
        **(extra or {}),
    }
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(spark)
    return spark
