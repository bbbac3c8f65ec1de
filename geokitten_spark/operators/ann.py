"""Approximate-nearest-neighbor search over embedding columns.

Two tiers (training-data-pipeline brief):

* ``brute_topk``   — exact cosine top-k via broadcast query + distributed
  TakeOrderedAndProject (the baseline; correct at any scale, O(N) per
  query);
* ``IVFIndex``     — inverted-file index: vectors partitioned into
  Voronoi buckets around centroids; a query probes only the ``n_probe``
  nearest buckets — O(N·n_probe/n_lists) per query. Centroids come from
  the label column when present (the fixture's natural clustering) or
  from a deterministic sample; assignment and search are JVM-side array
  expressions (zip_with/aggregate) — no Python in the scan path.
* ``PQIndex``      — product quantization: vectors L2-normalize, split
  into M subspaces, each subvector maps to a byte-valued code (nearest of
  ≤256 data-derived codebook entries) — M logical bytes per vector (the
  column type is array<int>; parquet bit-packs the 0-255 values to ~1
  byte each), a ~32× compression at d=64 float32 / M=8 that makes a
  10^12-vector scan memory-feasible. Search is asymmetric distance
  computation: the query's per-subspace distance table broadcasts (one
  row, M·256 doubles) and scoring is a pure-JVM aggregate over the codes
  — no Python, no decompression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _cosine

__all__ = ["brute_topk", "IVFIndex", "PQIndex"]


def brute_topk(
    emb: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (distributed per-partition top-k + merge)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    scored = emb.select(F.col(id_col), _cosine(v, q).alias("sim")).where(F.col("sim").isNotNull())
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


class IVFIndex:
    """Inverted-file ANN index over an embedding DataFrame.

    ``build``: one aggregation pass computes per-list centroids (from
    ``label_col`` buckets — k-means-free, deterministic); one
    broadcast-join pass assigns every vector to its nearest centroid.
    The assignment plan is O(1) in ``n_lists``: the centroids live in a
    BROADCAST TABLE (n_lists rows), every vector scores each centroid
    through one shared cosine expression, and ``max_by`` picks the argmax
    — never a per-centroid column or an O(L²) CASE-WHEN chain, which
    blows the expression tree up at the 1k+ lists a 100-TB corpus needs.
    The crossJoin is broadcast-nested-loop, so all L copies of a vector
    stay in one partition and the map-side partial ``max_by`` collapses
    them before the shuffle — the exchange carries one row per vector.

    The inverted lists are persisted to storage ``partitionBy('__lst')``
    (not cached in executor memory): a probe's ``__lst IN (...)`` filter
    becomes a partition-pruning scan, so ``search`` reads only the probed
    lists — O(N·n_probe/n_lists) I/O per query at any corpus size.
    """

    def __init__(self, emb: DataFrame, *, storage_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str | None = "label", n_lists: int = 16):
        self.id_col = id_col
        self.vec_col = vec_col
        spark = emb.sparkSession
        v = F.col(vec_col).cast("array<double>")

        if label_col and label_col in emb.columns:
            buckets = emb.select(F.col(label_col).alias("__lst"), v.alias("v"))
        else:  # deterministic hash-bucketing fallback
            buckets = emb.select(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_lists)).alias("__lst"),
                v.alias("v"),
            )
        # centroid per list: element-wise mean via posexplode + re-assemble
        cent = (
            buckets.select("__lst", F.posexplode("v").alias("pos", "x"))
            .groupBy("__lst", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("__lst")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("__lst", F.transform("pm", lambda s: s["m"]).alias("centroid"))
        )
        self.centroids = cent.collect()  # tiny (n_lists rows)
        self._cent_map = {r["__lst"]: np.asarray(r["centroid"]) for r in self.centroids}

        # stable list order for deterministic argmax tie-breaking: ties go
        # to the FIRST list in sorted(__lst) order, matching the numpy
        # probe ranking in search()
        ordered = sorted(self._cent_map.keys())
        lidx = {lst: i for i, lst in enumerate(ordered)}
        cent_rows = [
            (int(lidx[lst]), lst, [float(x) for x in self._cent_map[lst]])
            for lst in ordered
        ]
        cent_df = spark.createDataFrame(cent_rows, ["__lidx", "__lst", "centroid"])

        sim = _cosine(F.col("v"), F.col("centroid").cast("array<double>"))
        assigned = (
            emb.select(F.col(id_col), v.alias("v"))
            .crossJoin(F.broadcast(cent_df))
            .groupBy(id_col)
            .agg(
                # argmax by (sim, -lidx): deterministic on ties
                F.max_by(
                    F.col("__lst"), F.struct(sim.alias("s"), (-F.col("__lidx")).alias("t"))
                ).alias("__lst"),
                F.first("v").alias("v"),
            )
        )
        # storage_path is REQUIRED (no hidden tempdir): at cluster scale a
        # silently-rebuilt index on resume is a correctness and cost trap.
        # Layout: <path>/lists (partitioned parquet), <path>/_meta
        # (centroids + column names, parquet for exact float64 roundtrip;
        # the leading underscore keeps parquet readers from scanning it).
        self.storage_path = storage_path
        assigned.write.mode("overwrite").partitionBy("__lst").parquet(
            f"{storage_path}/lists"
        )
        self.lists = spark.read.parquet(f"{storage_path}/lists")
        meta_rows = [
            (lst, [float(x) for x in self._cent_map[lst]], id_col, vec_col)
            for lst in ordered
        ]
        spark.createDataFrame(
            meta_rows, ["__lst", "centroid", "id_col", "vec_col"]
        ).coalesce(1).write.mode("overwrite").parquet(f"{storage_path}/_meta")

    @classmethod
    def load(cls, spark, storage_path: str) -> "IVFIndex":
        """Rehydrate a persisted index in a NEW session — no rebuild, no
        recompute; search() parity with the building session is tested."""
        obj = cls.__new__(cls)
        meta = spark.read.parquet(f"{storage_path}/_meta").collect()
        obj.id_col = meta[0]["id_col"]
        obj.vec_col = meta[0]["vec_col"]
        obj._cent_map = {
            r["__lst"]: np.asarray(r["centroid"], dtype=np.float64) for r in meta
        }
        obj.centroids = meta
        obj.storage_path = storage_path
        obj.lists = spark.read.parquet(f"{storage_path}/lists")
        return obj

    def _probe(self, qv: np.ndarray, n_probe: int) -> list:
        """The ``n_probe`` lists whose centroids are most cosine-similar to
        ``qv`` (ties broken by list id)."""

        def cos(c):
            return float(qv @ c) / (np.linalg.norm(qv) * np.linalg.norm(c) + 1e-300)

        return sorted(
            self._cent_map, key=lambda lst: (-cos(self._cent_map[lst]), lst)
        )[:n_probe]

    def search(self, query_vec: list[float], *, k: int = 10, n_probe: int = 2) -> DataFrame:
        """Top-k among vectors in the ``n_probe`` nearest lists (scan is
        partition-pruned to exactly those lists)."""
        probe = self._probe(np.asarray(query_vec, dtype=np.float64), n_probe)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        cand = self.lists.filter(F.col("__lst").isin(list(probe)))
        scored = cand.select(F.col(self.id_col), _cosine(F.col("v"), q).alias("sim"))
        scored = scored.where(F.col("sim").isNotNull())
        return scored.orderBy(F.col("sim").desc(), F.col(self.id_col).asc()).limit(k)

    def search_many(
        self, queries, *, k: int = 10, n_probe: int = 2
    ) -> DataFrame:
        """Batched top-k for ``queries`` = [(query_id, vector), ...] in ONE
        job: per-query probe lists chosen driver-side from the (tiny)
        centroid map with the same tie-break as ``search``; the probe
        table (query_id, qvec, __lst — n_queries x n_probe rows)
        broadcasts onto the partition-pruned union of probed lists; one
        per-query WindowGroupLimit top-k. Returns (query_id, id, rank).

        The probe table is driver-built, so batch size should stay in the
        thousands (a reranking wave), not millions — for corpus-x-corpus
        joins use operators/dedup.embedding_neardup_lsh instead.
        """
        from pyspark.sql import Window

        spark = self.lists.sparkSession
        probe_rows = []
        for qid, qv in queries:
            v = np.asarray(qv, dtype=np.float64)
            for lst in self._probe(v, n_probe):
                probe_rows.append((int(qid), [float(x) for x in v], lst))
        union = sorted({r[2] for r in probe_rows})
        probe_df = spark.createDataFrame(probe_rows, ["query_id", "qvec", "__lst"])
        cand = self.lists.filter(F.col("__lst").isin(union)).join(
            F.broadcast(probe_df), on="__lst"
        )
        sim = _cosine(F.col("v"), F.col("qvec").cast("array<double>"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col(self.id_col).asc()
        )
        return (
            cand.select("query_id", F.col(self.id_col), sim.alias("sim"))
            .where(F.col("sim").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", self.id_col, "rank")
        )


class PQIndex:
    """Product-quantization index (see module docstring).

    Determinism: codebooks train on the first ≤2048 vectors by ``id_col``
    with first-k-init fixed-iteration Lloyd (no RNG, resume-safe); encode
    is a numpy argmin per Arrow batch (the ONE Python stage — a
    build-time map, not the search path). Vectors L2-normalize before
    quantization so the ADC L2 ranking equals a cosine ranking
    (||a-b||² = 2 - 2·cos on unit vectors). When the corpus fits the
    codebook (≤ 256 vectors, singleton Lloyd clusters), members quantize
    with zero error and self-ADC distance is exactly 0 — the
    self-retrieval guarantee the tests pin at smoke scale."""

    def __init__(self, emb: DataFrame, *, storage_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 m: int = 8):
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, IntegerType

        self.id_col = id_col
        spark = emb.sparkSession

        sample = (
            emb.orderBy(id_col).limit(2048)
            .select(F.col(vec_col).cast("array<double>")).collect()
        )
        mat = np.array([r[0] for r in sample], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-300
        d = mat.shape[1]
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        self.m = m
        self.dsub = d // m
        n_codes = min(256, len(mat))
        # per-subspace codebook: deterministic Lloyd refinement (first-k
        # init, fixed 5 iterations, no RNG — resume-safe) over the driver
        # sample; at 10^12 rows this trains on a 2048-row sample exactly
        # like any PQ build, the full corpus only ever runs ENCODE
        sub = mat.reshape(len(mat), m, d // m)
        books = np.empty((m, n_codes, d // m))
        for mm in range(m):
            X = sub[:, mm, :]
            C = X[:n_codes].copy()
            for _ in range(5):
                d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
                assign = np.argmin(d2, axis=1)
                for c in range(n_codes):
                    members = X[assign == c]
                    if len(members):
                        C[c] = members.mean(axis=0)
            books[mm] = C
        self.books = np.ascontiguousarray(books)
        books, dsub = self.books, self.dsub

        @pandas_udf(ArrayType(IntegerType()))
        def encode(vec: pd.Series) -> pd.Series:
            X = np.array(vec.tolist(), dtype=np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-300
            n = len(X)
            Xs = X.reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for mm in range(m):
                diff = Xs[:, mm, None, :] - books[mm][None, :, :]
                codes[:, mm] = np.argmin(np.einsum("nkd,nkd->nk", diff, diff), axis=1)
            return pd.Series([row.tolist() for row in codes])

        coded = emb.select(F.col(id_col), encode(F.col(vec_col)).alias("codes"))
        # storage_path REQUIRED; layout mirrors IVFIndex: <path>/codes +
        # <path>/_meta (codebooks in parquet, exact float64 roundtrip)
        self.storage_path = storage_path
        coded.write.mode("overwrite").parquet(f"{storage_path}/codes")
        self.codes = spark.read.parquet(f"{storage_path}/codes")
        meta_rows = [
            (mm, c, [float(x) for x in self.books[mm, c]], id_col, int(m))
            for mm in range(m)
            for c in range(n_codes)
        ]
        spark.createDataFrame(
            meta_rows, ["mm", "code", "center", "id_col", "m"]
        ).coalesce(1).write.mode("overwrite").parquet(f"{storage_path}/_meta")

    @classmethod
    def load(cls, spark, storage_path: str) -> "PQIndex":
        """Rehydrate a persisted PQ index (codes + codebooks) in a new
        session without retraining or re-encoding."""
        obj = cls.__new__(cls)
        meta = spark.read.parquet(f"{storage_path}/_meta").collect()
        obj.id_col = meta[0]["id_col"]
        obj.m = int(meta[0]["m"])
        n_codes = max(r["code"] for r in meta) + 1
        dsub = len(meta[0]["center"])
        books = np.empty((obj.m, n_codes, dsub))
        for r in meta:
            books[r["mm"], r["code"]] = np.asarray(r["center"], dtype=np.float64)
        obj.books = np.ascontiguousarray(books)
        obj.dsub = dsub
        obj.storage_path = storage_path
        obj.codes = spark.read.parquet(f"{storage_path}/codes")
        return obj

    def _dist_table(self, query_vec) -> list:
        """The query's flattened (m·n_codes) ADC table on the L2-normalized
        query: ``table[mm * n_codes + c] = ||q_mm - book[mm, c]||²``."""
        qv = np.asarray(query_vec, dtype=np.float64)
        qv = qv / (np.linalg.norm(qv) + 1e-300)
        diff = qv.reshape(self.m, self.dsub)[:, None, :] - self.books
        return [float(x) for x in np.einsum("mkd,mkd->mk", diff, diff).reshape(-1)]

    def _adc_dist(self):
        """``adc_dist`` column: a JVM ``aggregate`` summing the broadcast
        ``__tbl`` entry of each of the M byte codes, rounded to 1e-9."""
        n_codes = self.books.shape[1]
        dist = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(self.m - 1)),
                lambda c, i: F.element_at(
                    F.col("__tbl"), (i * n_codes + c + 1).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(dist, 9).alias("adc_dist")

    def search(self, query_vec: list[float], *, k: int = 10) -> DataFrame:
        """ADC top-k: one broadcast row carries the (m·n_codes) distance
        table; the score is a JVM ``aggregate`` over the M byte codes —
        the scan reads M bytes per vector and never touches Python."""
        spark = self.codes.sparkSession
        tbl_df = spark.createDataFrame([(self._dist_table(query_vec),)], ["__tbl"])
        scored = self.codes.join(F.broadcast(tbl_df)).select(
            F.col(self.id_col), self._adc_dist()
        )
        return scored.orderBy(
            F.col("adc_dist").asc(), F.col(self.id_col).asc()
        ).limit(k)

    def search_many(self, queries, *, k: int = 10) -> DataFrame:
        """Batched ADC top-k for ``queries`` = [(query_id, vector), ...]:
        ONE scan of the code table scores every query per row (the
        broadcast carries one distance-table row per query, m x 256
        doubles each), then a per-query WindowGroupLimit top-k. Returns
        (query_id, id, rank). Batch sizes in the thousands."""
        from pyspark.sql import Window

        spark = self.codes.sparkSession
        rows = [(int(qid), self._dist_table(qv)) for qid, qv in queries]
        tbl_df = spark.createDataFrame(rows, ["query_id", "__tbl"])
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col(self.id_col).asc()
        )
        return (
            self.codes.join(F.broadcast(tbl_df))
            .select("query_id", F.col(self.id_col), self._adc_dist())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", self.id_col, "rank")
        )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — the memory/bandwidth scale path
# ---------------------------------------------------------------------------

def sq8_params(emb: DataFrame, *, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) quantization params in ONE aggregate
    pass: 2·d agg expressions over ``element_at`` — no posexplode (that
    multiplies the scan to n·d rows before the shuffle); min/max combine
    map-side, so the exchange carries one 2·d-cell partial per task
    regardless of corpus size. Returns driver-side lists (d doubles
    each — control-plane, like IVF centroids)."""
    v = F.col(vec_col).cast("array<double>")
    d = emb.select(F.size(v).alias("d")).first()["d"]
    base = emb.select(v.alias("v"))
    row = base.agg(
        *[F.min(F.element_at(F.col("v"), i + 1)).alias(f"mn{i}") for i in range(d)],
        *[F.max(F.element_at(F.col("v"), i + 1)).alias(f"mx{i}") for i in range(d)],
    ).first()
    mn = [float(row[f"mn{i}"]) for i in range(d)]
    mx = [float(row[f"mx{i}"]) for i in range(d)]
    return mn, mx


def sq8_code_col(vec: Column, mn: list, mx: list) -> Column:
    """array<double> -> array<bigint> of 0..255 codes:
    floor((x - mn) / (mx - mn) * 255 + 0.5), constant-range dims -> 0,
    clamped to [0, 255] so components outside the trained per-dim range
    (out-of-distribution query vectors) degrade gracefully instead of
    producing codes <0 / >255 that skew int64 scores. The clamp is a
    no-op for in-corpus vectors (mn/mx ARE the corpus extremes).
    Pure IEEE-double arithmetic in a fixed op order, so Spark, DuckDB,
    and driver-side Python produce bit-identical codes — the scores are
    exact int64 and hash-portable across engines."""
    mn_lit = F.array(*[F.lit(float(x)) for x in mn])
    rng_lit = F.array(*[F.lit(float(b - a)) for a, b in zip(mn, mx)])
    shifted = F.zip_with(vec, mn_lit, lambda x, m: x - m)
    return F.zip_with(
        shifted,
        rng_lit,
        lambda x, r: F.when(r == F.lit(0.0), F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(255).cast("long"),
                    F.floor(x / r * F.lit(255.0) + F.lit(0.5)),
                ),
            )
        ),
    )


def sq8_quantize_query(qv: list, mn: list, mx: list) -> list[int]:
    """The same quantizer for one driver-side query vector (Python
    float ops are the same IEEE doubles, so codes match the cluster's
    bit-for-bit), with the same [0, 255] clamp for out-of-range
    components."""
    import math

    out = []
    for x, a, b in zip(qv, mn, mx):
        r = float(b) - float(a)
        if r == 0.0:
            out.append(0)
        else:
            c = int(math.floor((float(x) - float(a)) / r * 255.0 + 0.5))
            out.append(max(0, min(255, c)))
    return out


def sq8_topk(
    emb: DataFrame,
    *,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized top-k: per-dim min/max (one agg pass) ->
    uint8 codes (map-only) -> exact int64 dot against the quantized
    query -> TakeOrderedAndProject. The 100-TB story: codes are 4x
    smaller than float32 (8x than double), the scoring scan is
    bandwidth-bound so that is a direct throughput multiplier, and
    integer dots have no FP reassociation — results are identical at
    any parallelism. Returns (id, score, rank)."""
    from pyspark.sql import Window

    v = F.col(vec_col).cast("array<double>")
    mn, mx = sq8_params(emb, vec_col=vec_col)
    qrow = emb.filter(F.col(id_col) == query_id).select(v.alias("v")).first()
    qcodes = sq8_quantize_query(list(qrow["v"]), mn, mx)
    q_lit = F.array(*[F.lit(int(c)).cast("long") for c in qcodes])
    score = F.aggregate(
        F.zip_with(sq8_code_col(v, mn, mx), q_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    topk = (
        emb.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "score", "rank"
    )


class SQ8Index:
    """Persisted scalar-quantized index: build once (one params pass +
    one map-only quantize pass), probe many.

    Layout mirrors IVFIndex: ``<path>/codes`` holds (id, array<smallint>
    codes — 4x smaller than the float32 vectors they replace),
    ``<path>/_meta`` the per-dim (mn, mx) params + column names (parquet
    for exact float64 roundtrip). ``load`` rehydrates in a new session
    with no rebuild; queries quantize DRIVER-side with the same IEEE
    arithmetic, so a probe is one broadcast-free map scan of the code
    table + TakeOrderedAndProject — no shuffle, exact int64 scores,
    identical results at any parallelism."""

    def __init__(self, emb: DataFrame, *, storage_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        spark = emb.sparkSession
        self.id_col = id_col
        self.storage_path = storage_path
        self.mn, self.mx = sq8_params(emb, vec_col=vec_col)
        v = F.col(vec_col).cast("array<double>")
        codes = emb.select(
            F.col(id_col),
            F.transform(
                sq8_code_col(v, self.mn, self.mx), lambda c: c.cast("smallint")
            ).alias("codes"),
        )
        codes.write.mode("overwrite").parquet(f"{storage_path}/codes")
        self.codes = spark.read.parquet(f"{storage_path}/codes")
        spark.createDataFrame(
            [([float(x) for x in self.mn], [float(x) for x in self.mx],
              id_col)],
            ["mn", "mx", "id_col"],
        ).coalesce(1).write.mode("overwrite").parquet(f"{storage_path}/_meta")

    @classmethod
    def load(cls, spark, storage_path: str) -> "SQ8Index":
        obj = cls.__new__(cls)
        meta = spark.read.parquet(f"{storage_path}/_meta").first()
        obj.mn = [float(x) for x in meta["mn"]]
        obj.mx = [float(x) for x in meta["mx"]]
        obj.id_col = meta["id_col"]
        obj.storage_path = storage_path
        obj.codes = spark.read.parquet(f"{storage_path}/codes")
        return obj

    def _score(self, qcodes: list[int]) -> Column:
        q_lit = F.array(*[F.lit(int(c)).cast("long") for c in qcodes])
        return F.aggregate(
            F.zip_with(
                F.transform(F.col("codes"), lambda c: c.cast("long")),
                q_lit,
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def search(self, query_vec: list[float], *, k: int = 10) -> DataFrame:
        qcodes = sq8_quantize_query(list(query_vec), self.mn, self.mx)
        return (
            self.codes.select(
                F.col(self.id_col), self._score(qcodes).alias("score")
            )
            .orderBy(F.col("score").desc(), F.col(self.id_col).asc())
            .limit(k)
        )

    def search_many(self, queries, *, k: int = 10) -> DataFrame:
        """Batched probes in ONE scan: the quantized query codes
        broadcast as a (query_id, qcodes) table; per-query top-k via
        WindowGroupLimit. Returns (query_id, id, rank)."""
        from pyspark.sql import Window

        spark = self.codes.sparkSession
        rows = [
            (int(qid), sq8_quantize_query(list(qv), self.mn, self.mx))
            for qid, qv in queries
        ]
        qdf = spark.createDataFrame(rows, ["query_id", "qcodes"])
        score = F.aggregate(
            F.zip_with(
                F.transform(F.col("codes"), lambda c: c.cast("long")),
                F.transform(F.col("qcodes"), lambda c: c.cast("long")),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(self.id_col).asc()
        )
        return (
            self.codes.join(F.broadcast(qdf))
            .select("query_id", F.col(self.id_col), score.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", self.id_col, "rank")
        )
