"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is the documented physical-execution checklist from
SURVEY.md §4: AQE on (coalesce + skew-join), Arrow exchange on for pandas
UDFs, shuffle partitions sized for the local harness (overridable for real
clusters), broadcast threshold fit for admin-boundary dims.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, broadcast demotion — the backstop for dense-cell skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched Python exchange for all pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
    # Boundary tables (≤ a few hundred MB of polygons at planet scale per
    # admin level) broadcast; docs-side never does.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Let the planner pick shuffled-hash join when its size conditions
    # hold (one side much smaller and its per-partition slice fits in
    # memory) instead of always sort-merge: skips the per-side sorts on
    # dimension-ish joins. Planner-guarded (unlike a SHUFFLE_HASH hint,
    # which forces), so the sort-merge fallback remains for balanced
    # sides; AQE skew splitting applies to both forms. Measured r6:
    # tpch_q3 0.75x, tpch_q5 0.72x, asof 0.89x, minhash 0.89x, knn/lm
    # within noise. Override via SPARK_GRAFT_PREFER_SMJ=true for
    # clusters where build-side memory is tight.
    "spark.sql.join.preferSortMergeJoin": os.environ.get(
        "SPARK_GRAFT_PREFER_SMJ", "false"
    ),
    # Scan parallelism: keep file splits near executor-memory-friendly sizes.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # multi-executor (local-cluster / standalone) runs need the package on
    # the executor Python path — the sandbox equivalent of shipping it via
    # ``spark-submit --py-files``
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    # Python worker daemon (pydaemon.py): every task's
    # importlib.invalidate_caches() makes each zipimporter re-read all of
    # pyspark.zip on CPython < 3.13 (~0.3 s fixed setup per task); the
    # daemon installs 3.13's lazy invalidation before forking workers. A
    # no-op on 3.13+. The package must be importable by the executor's
    # Python when the daemon starts (the PYTHONPATH above; DEPLOY.md for
    # clusters), or every Python task fails.
    "spark.python.daemon.module": "geokitten_spark.pydaemon",
}
# extra JVM flags (e.g. bench.py sets -Xlog:disable so JVM gc,alloc
# warnings can't interleave with its one-line JSON on stdout); only set
# when requested so other runs keep default JVM logging
if os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS"):
    DEFAULT_CONFS["spark.driver.extraJavaOptions"] = os.environ[
        "SPARK_GRAFT_DRIVER_JAVA_OPTS"
    ]


def get_spark(
    app_name: str = "geokitten-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster pass None and let spark-submit own it.
    ``shuffle_partitions`` defaults to 2× the local cores (AQE coalesces
    down); at 100 TB it should be set to ~2-3× total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cpus)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
