"""Snapshot/lineage/resume layer + skew salting tests (SURVEY §4, §7)."""

import json
import os

from pyspark.sql import functions as F

from geokitten_spark.plans import SnapshotStore
from geokitten_spark.operators.skew import (
    cell_histogram,
    choose_salt_factor,
    salted_join,
)


def test_snapshot_run_resume_invalidate(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    calls = {"n": 0}

    def build(spark):
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    r1 = store.run_stage(spark, "s1", build, config={"a": 1})
    assert not r1.resumed and calls["n"] == 1
    assert r1.manifest["row_count"] == 100
    assert r1.manifest["n_partitions"] >= 1
    assert all("rows" in p and "bytes" in p for p in r1.manifest["partitions"])

    r2 = store.run_stage(spark, "s1", build, config={"a": 1})
    assert r2.resumed and calls["n"] == 1  # build skipped
    assert r2.snapshot_id == r1.snapshot_id
    assert r2.df.count() == 100

    r3 = store.run_stage(spark, "s1", build, config={"a": 2})  # config change
    assert not r3.resumed and calls["n"] == 2
    assert r3.snapshot_id != r1.snapshot_id

    # downstream lineage: stage with r1 as input resumes only while the
    # upstream snapshot id is unchanged
    def build2(spark):
        return r1.df.groupBy((F.col("id") % 10).alias("k")).count()

    d1 = store.run_stage(spark, "s2", build2, inputs=[r1])
    d2 = store.run_stage(spark, "s2", build2, inputs=[r1])
    d3 = store.run_stage(spark, "s2", build2, inputs=[r3])
    assert not d1.resumed and d2.resumed and not d3.resumed

    # manifest committed atomically and readable
    m = json.load(open(store.manifest_path("s1", r1.snapshot_id)))
    assert m["row_count"] == 100 and m["stage"] == "s1"



def test_snapshot_read_back_uses_manifest_schema(spark, tmp_path):
    """A committed parquet stage, fresh or resumed, reads back with the
    schema its manifest recorded: the same schema (partition columns
    last, typed by the directory parse) and rows as an inferred
    ``spark.read.parquet``, and no Spark job runs to get them."""
    store = SnapshotStore(str(tmp_path / "snaps"))
    sc = spark.sparkContext

    def build(s):
        return s.range(60).select(
            F.col("id"),
            (F.col("id") % 3).alias("k"),
            F.concat(F.lit("l"), (F.col("id") % 2).cast("string")).alias("lang"),
            (F.col("id") / 7).alias("v"),
        )

    def jobs_during(fn, group):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    for i, part in enumerate((None, ["k"], ["lang", "k"])):
        for resumed in (False, True):
            tag = f"{i}-{resumed}"
            r, jobs = jobs_during(
                lambda: store.run_stage(spark, f"s{i}", build, partition_by=part),
                f"stage-{tag}",
            )
            assert r.resumed == resumed
            assert not resumed or jobs == []
            read, jobs = jobs_during(
                lambda: store._read_parquet(spark, r.path, r.manifest), f"read-{tag}"
            )
            assert jobs == []
            inferred, jobs = jobs_during(lambda: spark.read.parquet(r.path), f"infer-{tag}")
            assert jobs  # the inferred read runs a schema job
            assert r.df.schema == read.schema == inferred.schema
            if part:
                assert read.schema.names[-len(part):] == part
            key = lambda row: row["id"]  # noqa: E731
            assert sorted(r.df.collect(), key=key) == sorted(inferred.collect(), key=key)

def test_salted_join_matches_plain_join(spark):
    big = spark.range(10000).select(
        (F.col("id") % 7).alias("cell"), F.col("id").alias("tag")
    )
    small = spark.createDataFrame(
        [(i, f"r{i}") for i in range(7)], ["cell", "region"]
    )
    plain = {(r.cell, r.tag, r.region) for r in big.join(small, on="cell").collect()}
    for salt in (1, 4, 16):
        salted = {
            (r.cell, r.tag, r.region)
            for r in salted_join(big, small, "cell", salt=salt, big_tag_col="tag").collect()
        }
        assert salted == plain, f"salt={salt}"


def test_salted_join_packed_cell_ids_no_overflow(spark):
    """Regression (ADVICE r1): packed grid ids (res<<58|ix<<29|iy ≈ 2.9e18 at
    res 10) overflowed BIGINT under the old key*salt+s packing and threw
    ARITHMETIC_OVERFLOW under Spark 4 ANSI mode for any salt >= 4. The
    (key, salt)-pair join must handle exactly these keys."""
    from geokitten_spark.cells.grid import grid_cell

    lons = [-120.0 + 3 * i for i in range(8)]
    cells = [int(grid_cell(lon, 40.0, 10)) for lon in lons]
    assert max(cells) > (1 << 61)  # genuinely huge packed ids
    big = spark.createDataFrame(
        [(cells[i % 8], i) for i in range(2000)], ["cell", "tag"]
    )
    small = spark.createDataFrame(
        [(c, f"r{j}") for j, c in enumerate(cells)], ["cell", "region"]
    )
    plain = {(r.cell, r.tag, r.region) for r in big.join(small, on="cell").collect()}
    for salt in (4, 16):
        salted = {
            (r.cell, r.tag, r.region)
            for r in salted_join(big, small, "cell", salt=salt, big_tag_col="tag").collect()
        }
        assert salted == plain, f"salt={salt}"


def test_histogram_and_salt_factor(spark):
    # one hot cell (id 0: 9000 rows), others cold
    df = spark.range(10000).select(
        F.when(F.col("id") < 9000, 0).otherwise(F.col("id")).alias("cell_id")
    )
    hist = cell_histogram(df)
    top = hist.first()
    assert top["cell_id"] == 0 and top["count"] == 9000
    assert choose_salt_factor(hist, target_rows_per_task=1000) == 9
    assert choose_salt_factor(hist, target_rows_per_task=100, max_salt=16) == 16
    empty = cell_histogram(df.filter("cell_id < 0"))
    assert choose_salt_factor(empty) == 1


def test_iceberg_snapshot_backend(spark, tmp_path):
    """Same snapshot/resume contract over an Iceberg catalog. Skip-marked in
    this sandbox (no iceberg-spark-runtime jar); runs live wherever the jar
    is on the classpath (spark.jars.packages=...iceberg-spark-runtime...)."""
    import pytest

    from geokitten_spark.plans.snapshot import SnapshotStore, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on classpath in this sandbox")
    spark.conf.set("spark.sql.catalog.gk_snap", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.gk_snap.type", "hadoop")
    spark.conf.set("spark.sql.catalog.gk_snap.warehouse", str(tmp_path / "wh"))
    store = SnapshotStore(str(tmp_path / "snaps"), format="iceberg")

    def build(s):
        return s.range(100).withColumn("k", F.col("id") % 5)

    r1 = store.run_stage(spark, "s1", build, partition_by=["k"])
    assert not r1.resumed and r1.manifest["row_count"] == 100
    assert len(r1.manifest["partitions"]) >= 5  # per-file lineage from .files
    r2 = store.run_stage(spark, "s1", build, partition_by=["k"])
    assert r2.resumed and r2.df.count() == 100


def test_snapshot_format_auto_resolves_parquet_in_sandbox(spark, tmp_path):
    from geokitten_spark.plans.snapshot import SnapshotStore, iceberg_available

    store = SnapshotStore(str(tmp_path / "snaps"), format="auto")
    assert store._resolve_format(spark) == (
        "iceberg" if iceberg_available(spark) else "parquet"
    )
    r = store.run_stage(spark, "s1", lambda s: s.range(10))
    assert r.manifest["row_count"] == 10 and not r.resumed


def test_iceberg_files_contract_extraction(spark):
    """The lineage reader's slice of Iceberg's .files metadata schema,
    exercised without the runtime jar: a local DataFrame shaped like the
    published metadata table (including columns the reader ignores) must
    extract cleanly, and a contract violation must fail with the exact gap."""
    import pytest

    from geokitten_spark.plans.snapshot import (
        ICEBERG_FILES_CONTRACT,
        SnapshotStore,
    )

    files = spark.createDataFrame(
        [
            (0, "wh/db/t/data/k=1/b.parquet", "PARQUET", 40, 2048),
            (0, "wh/db/t/data/k=0/a.parquet", "PARQUET", 60, 4096),
        ],
        "content int, file_path string, file_format string, "
        "record_count bigint, file_size_in_bytes bigint",
    )
    got = SnapshotStore._files_relation_metrics(files)
    assert got == [
        {"file": "wh/db/t/data/k=0/a.parquet", "rows": 60, "bytes": 4096},
        {"file": "wh/db/t/data/k=1/b.parquet", "rows": 40, "bytes": 2048},
    ]
    assert sum(p["rows"] for p in got) == 100

    with pytest.raises(ValueError, match="record_count"):
        SnapshotStore._files_relation_metrics(files.drop("record_count"))
    with pytest.raises(ValueError, match="expects one of"):
        SnapshotStore._files_relation_metrics(
            files.withColumn("record_count", files.record_count.cast("string"))
        )
    assert set(ICEBERG_FILES_CONTRACT) == {
        "file_path",
        "record_count",
        "file_size_in_bytes",
    }


def test_skew_salted_join_driver_query_engages_salt_path(spark):
    """The driver query skew_salted_join must actually exercise the salted
    plan at fixture scale: the chosen salt factor exceeds 1 (res-3 cells
    are genuinely hot), the physical join keys on the (cell_id, __salt)
    column PAIR, and the result equals the plain unsalted twin."""
    import __spark_entry__ as entrymod
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.skew import cell_histogram, choose_salt_factor

    sf_dir = "/root/testdata/sf0.01"
    pts = web_documents(spark, sf_dir).select(
        "doc_id", grid_cell_col(F.col("lon"), F.col("lat"), 3).alias("cell_id")
    )
    salt = choose_salt_factor(
        cell_histogram(pts), target_rows_per_task=8, max_salt=16
    )
    assert salt > 1, "fixture corpus must be dense enough to trigger salting"

    out = entrymod.q_skew_salted_join(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "join must key on the (cell_id, __salt) pair"

    hist = cell_histogram(pts).withColumnRenamed("count", "cell_count")
    plain = (
        pts.join(hist, on="cell_id")
        .groupBy("cell_count")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cell_id").alias("n_cells"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want
