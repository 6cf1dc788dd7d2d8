"""SparkSession factory with the scale-tuned defaults used everywhere.

The settings encode the 100 TB design intent even though tests run on
local[*]: AQE on (runtime coalesce + skew splitting), Arrow batches sized so
one batch approximates the reference's engine batch (max_num_seqs=16 →
a few hundred docs per Arrow batch is the CPU-kernel sweet spot), and
shuffle partitions matched to local parallelism (a real cluster would size
this to executors × cores with AQE coalescing the tail).

The driver JVM stops at the C1 compile tier (``-XX:TieredStopAtLevel=1``).
Every job is a batch submit in a fresh JVM that lives for seconds to
minutes, so C2's optimised code rarely pays back what its compiler threads
burn. On a 4-vCPU host the C2 threads took 40 of the 79 CPU-s of a cold
curate run; stopping at C1 cut CPU per document by 47% on curate and 20%
on extraction. The cost is peak speed: the cold curate job ran about 6%
longer (C2 had compiled on otherwise idle cores, then ran faster code),
and a long-lived session loses more (the test suite, one JVM for several
minutes, ran a fifth or more longer). Such a session puts C2 back with
``spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=4``: Spark places
the extra options after the default ones and HotSpot keeps the last copy
of a flag.

The flag goes through ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``, so deployment flags set there (heap sizing, temp
dirs) are kept, not replaced. It only takes effect when this factory
launches the JVM, i.e. under ``python``; under ``spark-submit`` the JVM is
already running when the builder runs, so pass
``--driver-java-options -XX:TieredStopAtLevel=1`` there.

The master is ``local[SPARK_GRAFT_CPUS]`` only when this factory launches
the JVM. Under ``spark-submit`` the launcher hands the driver its gateway
through ``PYSPARK_GATEWAY_PORT`` and its ``--master`` (a cluster, or
``local[N]``) stands. Whether ``spark.master`` is set cannot tell the two
apart: under plain ``python``, PySpark's own launcher also goes through
spark-submit, which defaults it to ``local[*]``.

The console progress bar is off: its ``[Stage N:>`` redraws share stdout
with the jobs' printed counts and ``check_oracles.py``'s per-query lines,
and run into them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def build_session(app_name: str = "ocr-project-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = int(cpus if cpus != "*" else 32)
    builder = SparkSession.builder.appName(app_name)
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    return builder.getOrCreate()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint()``-ed DataFrame.

    ``DataFrame.unpersist`` does not: it only un-caches, and a checkpoint
    is a persisted RDD under a ``LogicalRDD`` leaf, which stays in
    executor memory until the context cleaner happens to collect it. Call
    this once nothing reads ``df`` any more."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)  # blocking: the blocks are gone on return
