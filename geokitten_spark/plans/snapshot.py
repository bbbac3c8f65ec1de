"""Stage snapshot / lineage / resume (north_rule: "each stage checkpoints
to Iceberg snapshots with per-partition lineage and row-count/byte metrics
so any stage is resumable").

Two storage backends behind ONE snapshot contract:

* ``format='parquet'`` (sandbox default): partitioned parquet + a JSON
  manifest per stage; per-partition metrics from parquet footers.
* ``format='iceberg'`` (when an Iceberg runtime jar is on the classpath —
  detect with ``iceberg_available(spark)``): stages write
  ``df.writeTo(<catalog>.<stage>.snap_<id>).using('iceberg')`` and
  per-partition lineage metrics come from the table's own ``.files``
  metadata relation. The resume/commit protocol (content-hash snapshot
  ids, manifest-last atomic commit) is identical, so pipelines are
  backend-agnostic. ``format='auto'`` picks iceberg when available.

The iceberg path is exercised by ``tests/test_snapshot_skew.py::
test_iceberg_snapshot_backend`` — skip-marked in this sandbox (no jar),
live wherever ``spark.jars.packages`` includes iceberg-spark-runtime.

Design:
* A stage's **snapshot id** is a content hash of (stage name, input
  snapshot ids, config, code version) — pure function, so re-running the
  same pipeline finds committed stages and SKIPS them (resume), while any
  upstream change produces new ids downstream (lineage correctness).
* Per-partition metrics come from the written parquet footers (row count
  + byte size per file) — no second pass over the data.
* Commit protocol: data first, manifest last via atomic rename; a crash
  mid-write leaves no manifest → the stage re-runs cleanly.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "SnapshotStore",
    "StageResult",
    "iceberg_available",
    "ICEBERG_FILES_CONTRACT",
]

# The slice of Iceberg's published ``.files`` metadata-table schema the
# lineage reader depends on (column -> accepted Spark SQL types). Stable
# across Iceberg format v1/v2; asserted by _files_relation_metrics so a
# future runtime-jar drop-in is a config change, not a code round.
ICEBERG_FILES_CONTRACT = {
    "file_path": ("string",),
    "record_count": ("bigint", "int", "long"),
    "file_size_in_bytes": ("bigint", "int", "long"),
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False

_CODE_VERSION = "1"  # bump to invalidate all snapshots on semantic change


def _stable_hash(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


@dataclass
class StageResult:
    stage: str
    snapshot_id: str
    path: str
    manifest: dict
    df: DataFrame
    resumed: bool


@dataclass
class SnapshotStore:
    """A directory of stage snapshots: ``root/<stage>/snap-<id>/``
    (parquet backend) or tables ``<catalog>.<stage>.snap_<id>``
    (iceberg backend)."""

    root: str
    lineage: list = field(default_factory=list)
    format: str = "parquet"  # 'parquet' | 'iceberg' | 'auto'
    catalog: str = "gk_snap"  # iceberg catalog name (must be configured)
    # parquet-backend stages also get a spec-shaped Iceberg metadata tree
    # (readable jar-free via plans.iceberg_meta.read_iceberg_table)
    iceberg_mirror: bool = True

    def _resolve_format(self, spark: SparkSession) -> str:
        if self.format == "auto":
            return "iceberg" if iceberg_available(spark) else "parquet"
        return self.format

    def _table_ident(self, stage: str, snapshot_id: str) -> str:
        return f"{self.catalog}.{stage}.snap_{snapshot_id}"

    def _snap_dir(self, stage: str, snapshot_id: str) -> str:
        return os.path.join(self.root, stage, f"snap-{snapshot_id}")

    def snapshot_id(self, stage: str, input_ids: list[str], config: dict) -> str:
        return _stable_hash(
            {"stage": stage, "inputs": list(input_ids), "config": config,
             "code": _CODE_VERSION}
        )

    def manifest_path(self, stage: str, snapshot_id: str) -> str:
        return os.path.join(self._snap_dir(stage, snapshot_id), "_manifest.json")

    def is_committed(self, stage: str, snapshot_id: str) -> bool:
        return os.path.exists(self.manifest_path(stage, snapshot_id))

    def read(self, spark: SparkSession, stage: str, snapshot_id: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._snap_dir(stage, snapshot_id), "data"))

    @staticmethod
    def _read_parquet(spark: SparkSession, data_dir: str, manifest: dict) -> DataFrame:
        """A committed parquet stage, read with the data schema its
        manifest records, so no schema-inference job runs over the
        footers. Partition columns are left to Spark's driver-side
        directory parse, which types and orders them (last) exactly as
        an inferred read does."""
        from pyspark.sql.types import StructType

        parts = set(manifest.get("partition_by") or ())
        st = StructType.fromJson(manifest["schema"])
        return spark.read.schema(
            StructType([f for f in st.fields if f.name not in parts])
        ).parquet(data_dir)

    # -- the core API --------------------------------------------------

    def _bucket_table_name(self, stage: str, snapshot_id: str) -> str:
        return f"gk_snap_{stage}_{snapshot_id[:16]}".replace("-", "_")

    def _ensure_bucketed_table(self, spark, stage, snapshot_id, data_dir, manifest):
        """Re-register the bucketed stage output in this session's catalog
        (the in-memory catalog forgets tables across sessions; the bucket
        ids live in the parquet filenames, so a CREATE TABLE ... CLUSTERED
        BY over the existing LOCATION restores exchange-free reads)."""
        from pyspark.sql.types import StructType

        name = self._bucket_table_name(stage, snapshot_id)
        if not spark.catalog.tableExists(name):
            st = StructType.fromJson(manifest["schema"])
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields
            )
            col, n = manifest["bucket_by"]
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY (`{col}`) SORTED BY (`{col}`) INTO {int(n)} "
                f"BUCKETS LOCATION '{data_dir}'"
            )
        return spark.table(name)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        build,  # (spark) -> DataFrame
        *,
        inputs: list["StageResult"] | None = None,
        config: dict | None = None,
        partition_by: list[str] | None = None,
        bucket_by: tuple[str, int] | None = None,
        resume: bool = True,
    ) -> StageResult:
        """Run (or resume) one pipeline stage.

        ``build(spark)`` produces the stage's DataFrame (it may read the
        input StageResults' ``df``). The result is snapshotted; a committed
        snapshot with the same id short-circuits ``build`` entirely.
        """
        inputs = inputs or []
        config = config or {}
        fmt = self._resolve_format(spark)
        sid = self.snapshot_id(stage, [i.snapshot_id for i in inputs], config)
        snap_dir = self._snap_dir(stage, sid)
        data_dir = (
            self._table_ident(stage, sid) if fmt == "iceberg"
            else os.path.join(snap_dir, "data")
        )

        if partition_by and bucket_by:
            raise ValueError("partition_by and bucket_by are mutually exclusive")
        if resume and self.is_committed(stage, sid):
            manifest = json.load(open(self.manifest_path(stage, sid)))
            if fmt == "iceberg":
                df = spark.table(data_dir)
            elif manifest.get("bucket_by"):
                df = self._ensure_bucketed_table(spark, stage, sid, data_dir, manifest)
            else:
                df = self._read_parquet(spark, data_dir, manifest)
            res = StageResult(stage, sid, data_dir, manifest, df, resumed=True)
            self.lineage.append(manifest)
            return res

        t0 = time.time()
        df = build(spark)
        # in-flight metrics via the Observation API (no extra pass): the
        # observed count cross-checks the storage-side lineage below
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"{stage}-{sid}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if fmt == "iceberg":
            w = df.writeTo(data_dir).using("iceberg")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        elif bucket_by:
            # bucketed+sorted stage output (DEPLOY.md): ONE shuffle at
            # write time; every downstream equi-join / aggregate on the
            # bucket key reads exchange-free (asserted in
            # tests/test_bucketize.py::test_pipeline_stage_bucketing)
            col, n = bucket_by
            name = self._bucket_table_name(stage, sid)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", data_dir)
                .bucketBy(int(n), col)
                .sortBy(col)
                .saveAsTable(name)
            )
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(data_dir)
        wall = time.time() - t0
        observed_rows = int(obs.get["rows"])

        partitions = (
            self._iceberg_file_metrics(spark, data_dir)
            if fmt == "iceberg"
            else self._parquet_file_metrics(data_dir)
        )
        manifest = {
            "stage": stage,
            "snapshot_id": sid,
            "inputs": [
                {"stage": i.stage, "snapshot_id": i.snapshot_id} for i in inputs
            ],
            "config": config,
            "schema": df.schema.jsonValue(),
            "row_count": int(sum(p["rows"] for p in partitions)),
            "observed_row_count": observed_rows,
            "byte_count": int(sum(p["bytes"] for p in partitions)),
            "n_partitions": len(partitions),
            "partitions": partitions,
            "wall_seconds": round(wall, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if bucket_by:
            manifest["bucket_by"] = [bucket_by[0], int(bucket_by[1])]
        if partition_by:
            manifest["partition_by"] = list(partition_by)
        if observed_rows != manifest["row_count"]:  # lineage self-check
            raise RuntimeError(
                f"stage {stage}: observed {observed_rows} rows but parquet "
                f"footers record {manifest['row_count']}"
            )
        if fmt != "iceberg" and self.iceberg_mirror:
            # lay the spec-shaped Iceberg metadata tree over the stage's
            # parquet files (metadata json + Avro manifest-list/manifest,
            # plans/iceberg_meta.py) BEFORE the manifest commit point:
            # every committed stage snapshot is then readable as an
            # Iceberg table jar-free (read_iceberg_table(snap_dir)), and
            # a runtime-jar drop-in reads the same tree. KBs of metadata,
            # no data pass — the same files the footer metrics walked.
            from .iceberg_meta import write_fixture_iceberg_table

            data_root = os.path.join(snap_dir, "data")
            write_fixture_iceberg_table(
                snap_dir,
                [(
                    int(sid[:15], 16),
                    [
                        {
                            "file": os.path.join(data_root, p["file"]),
                            "rows": p["rows"],
                            "bytes": p["bytes"],
                        }
                        for p in partitions
                    ],
                )],
            )
        tmp = self.manifest_path(stage, sid) + ".tmp"
        os.makedirs(snap_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path(stage, sid))  # commit point
        self.lineage.append(manifest)
        if fmt == "iceberg":
            out_df = spark.table(data_dir)
        elif bucket_by:
            out_df = self._ensure_bucketed_table(spark, stage, sid, data_dir, manifest)
        else:
            out_df = self._read_parquet(spark, data_dir, manifest)
        return StageResult(stage, sid, data_dir, manifest, out_df, resumed=False)

    @staticmethod
    def _iceberg_file_metrics(spark: SparkSession, table_ident: str) -> list[dict]:
        """Per-partition lineage metrics from the table's own ``.files``
        metadata relation (no data pass — Iceberg tracks them natively)."""
        return SnapshotStore._files_relation_metrics(
            spark.table(f"{table_ident}.files")
        )

    @staticmethod
    def _files_relation_metrics(files_df) -> list[dict]:
        """Extract lineage metrics from an Iceberg ``.files`` metadata
        relation (or any DataFrame honoring the same contract).

        Contract (``ICEBERG_FILES_CONTRACT``): the relation must expose the
        three columns the lineage reader depends on — ``file_path``
        (string), ``record_count`` and ``file_size_in_bytes`` (integral).
        These are part of Iceberg's published metadata-table spec (stable
        across the v1/v2 formats), so a runtime-jar drop-in only needs the
        catalog config — this method asserts the contract up front and
        fails with the exact gap rather than a downstream AttributeError.
        """
        missing = [c for c in ICEBERG_FILES_CONTRACT if c not in files_df.columns]
        if missing:
            raise ValueError(
                "files metadata relation is missing required column(s) "
                f"{missing}; lineage reader contract needs "
                f"{sorted(ICEBERG_FILES_CONTRACT)} (got {files_df.columns})"
            )
        for col, kinds in ICEBERG_FILES_CONTRACT.items():
            typ = dict(files_df.dtypes)[col]
            if typ not in kinds:
                raise ValueError(
                    f"files metadata column {col!r} has type {typ!r}; "
                    f"lineage reader contract expects one of {sorted(kinds)}"
                )
        rows = (
            files_df.select("file_path", "record_count", "file_size_in_bytes")
            .orderBy("file_path")
            .collect()
        )
        return [
            {"file": r.file_path, "rows": int(r.record_count),
             "bytes": int(r.file_size_in_bytes)}
            for r in rows
        ]

    @staticmethod
    def _parquet_file_metrics(data_dir: str) -> list[dict]:
        """Per-partition lineage metrics from parquet footers (no data pass)."""
        import pyarrow.parquet as pq

        out = []
        for dirpath, _dirnames, filenames in os.walk(data_dir):
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                md = pq.ParquetFile(full).metadata
                out.append(
                    {
                        "file": os.path.relpath(full, data_dir),
                        "rows": md.num_rows,
                        "bytes": os.path.getsize(full),
                    }
                )
        return out
