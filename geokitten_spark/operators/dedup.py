"""Deduplication operators for the web-text pipeline.

Four dedup families, each Spark-first and (where the math is
SQL-expressible) oracle-checkable against DuckDB with the *identical*
algorithm — same hash function, same shingling, same banding:

* exact dedup — hash-groupBy on a canonical-form fingerprint
  (``functions.text.fingerprint_col``; query `dedup_exact`);
* MinHash + LSH near-dup — word-shingle minhash signatures, banded bucket
  join for candidates, exact Jaccard verify (``minhash_neardup``);
* SimHash near-dup — 60-bit simhash, pigeonhole band blocking, Hamming
  verify (``simhash_neardup``);
* embedding-cosine near-dup — brute-force baseline (``embedding_neardup``)
  plus a sign-LSH bucketed scale path (``embedding_neardup_lsh``).

Every banded lane (MinHash, SimHash, sign-LSH, and the image/audio
``hamming_neardup``) gets its candidates from ONE generator,
:func:`banded_self_join`; integer hashes are sliced by :func:`bit_slices`.

Shared 60-bit hash: ``H(x) = int(md5(x)[:15 hex], 16)`` — Spark
``conv(substring(md5(x),1,15),16,10)`` == DuckDB
``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)``: positive, fits BIGINT,
byte-identical across engines, so every candidate set and verdict matches
the oracle exactly (no RNG anywhere).

Scale notes (10^12 rows): everything here is shuffle-on-bigint-keys.
Minhash signatures are computed per-row from array expressions (codegen,
no explode of shingles through a shuffle); only the banded bucket join
shuffles, keyed by (band, h1, h2) — high-cardinality and uniform by
construction (md5), so no skew. Jaccard verify happens per candidate pair
with both shingle arrays already co-located (array_intersect — no second
shuffle). Self-joins prune a<b to halve the pair space.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "connected_components_sql",
    "hash60",
    "hash60_sql",
    "bit_slices",
    "banded_self_join",
    "hamming_neardup",
    "word_shingles",
    "word_shingles_sql",
    "minhash_signature",
    "minhash_signature_sql",
    "minhash_neardup",
    "minhash_neardup_sql",
    "simhash_col",
    "simhash_sql",
    "simhash_neardup",
    "simhash_neardup_sql",
    "ngram_jaccard_pairs",
    "ngram_jaccard_sql",
    "embedding_neardup",
    "embedding_neardup_lsh",
]

SIM_BITS = 60  # md5-prefix hash width (fits signed BIGINT in both engines)


# ---------------------------------------------------------------------------
# shared hash
# ---------------------------------------------------------------------------

def hash60(c: Column) -> Column:
    """60-bit positive BIGINT hash of a string column, engine-portable."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# banded self-join: the one LSH candidate generator
# ---------------------------------------------------------------------------

def bit_slices(h: Column, bits: int, bands: int) -> Column:
    """The ``bands`` contiguous ``bits // bands``-bit slices of the integer
    column ``h``, lowest first, as one array. Pigeonhole: two hashes
    within Hamming distance ``bands - 1`` agree exactly on at least one
    slice."""
    width = bits // bands
    mask = (1 << width) - 1
    return F.array(
        *[F.shiftright(h, b * width).bitwiseAND(F.lit(mask)) for b in range(bands)]
    )


def banded_self_join(
    table: DataFrame, band_keys: Column, *, id_col: str, payload: tuple[str, ...] = ()
) -> DataFrame:
    """Candidate pairs of the narrow ``table`` agreeing on at least one
    element of the array expression ``band_keys``: ``(id_a, id_b, <p>_a,
    <p>_b, ...)`` per ``payload`` column ``p``, once per pair, id_a < id_b.

    * one lazy ``localCheckpoint(eager=False)`` of ``table``: the join
      reads it on both sides, and without a barrier the whole upstream
      hash pipeline (minhash fold, simhash, image/audio decode, signature
      UDF) runs once per side. It cuts lineage and cannot take a stream;
    * one ``posexplode`` projection of all bands: per-band selects re-run
      the upstream once per band per side (measured 32 s -> 2.2 s on
      ``media_phash`` at 16 bands). NULL keys never match; they are
      dropped rather than shuffled to one reducer;
    * one equi-join on ``(band, bkey)``, then the output columns are
      projected before ``dropDuplicates`` (a pair meets once per band).
    """
    banded = (
        table.localCheckpoint(eager=False)
        .select(id_col, *payload, F.posexplode(band_keys).alias("band", "bkey"))
        .filter(F.col("bkey").isNotNull())
    )

    def side(s: str) -> DataFrame:
        cols = [F.col(c).alias(f"{c}_{s}") for c in payload]
        return banded.select(F.col(id_col).alias(f"id_{s}"), *cols, "band", "bkey")

    return (
        side("a")
        .join(side("b"), on=["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{p}_{s}" for p in payload for s in "ab"])
        .dropDuplicates(["id_a", "id_b"])
    )


def hamming_neardup(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "phash",
    bits: int = 64,
    max_hamming: int = 7,
    bands: int = 8,
) -> DataFrame:
    """Pairs with Hamming(hash_a, hash_b) <= max_hamming over any int64
    hash column: pigeonhole blocking on :func:`bit_slices` through
    :func:`banded_self_join`, then a JVM-side ``bit_count(xor)`` verify.
    Only (id, hash) rows ever shuffle; NULL hashes never pair.

    Candidate volume scales with band WIDTH (bits/bands): each band
    bucket holds ~n/2^width ids, so the equi-join emits ~bands * n^2 /
    2^width candidate pairs. At corpus scale keep slices wide — bands=4
    (16-bit slices, Hamming <= 3) is the production setting; many
    narrow bands (e.g. 16x4 for Hamming <= 12, as the fixture query
    uses for its measured 9-vs-18-bit margin) trade recall radius for
    a quadratic candidate blow-up and suit bounded corpora or a
    pre-blocked (e.g. per-domain) key space only.

    Output: (id_a, id_b, hamming) with id_a < id_b."""
    if bands <= max_hamming:
        raise ValueError("pigeonhole requires bands > max_hamming")
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    # NULL hashes are left to banded_self_join's NULL-key drop: a filter
    # here, on a UDF-computed hash (the simhash lane), is pushed below the
    # projection and runs the UDF a second time
    table = hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
    cand = banded_self_join(
        table, bit_slices(F.col("h"), bits, bands), id_col="id", payload=("h",)
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased whitespace-split text.

    Pure array expressions (codegen) — the shingle array stays inside the
    row; no explode, no shuffle.
    """
    words = F.split(F.lower(F.trim(text)), r"\s+")
    k = F.size(words) - (n - 1)
    # ONE slice + array-form concat_ws per position — NOT n element_at
    # calls: Catalyst inlines the outer `words` expression into every
    # lambda reference, so the element_at form re-evaluates the regex
    # split n times per gram (measured 6x slower end-to-end on the
    # 8-gram span-coverage explode: 29s -> 5s for 1.2M shingles)
    grams = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    # sequence(0, k-1) DESCENDS when k<=0 (Spark semantics) — guard to empty
    return F.when(k > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles_sql(words_alias: str = "w", n: int = 3) -> str:
    """DuckDB twin of word_shingles as an expression over a pre-split word
    list aliased ``words_alias`` (1-based indexing; generate_series(1,0)
    is empty in DuckDB, so no guard needed)."""
    w = words_alias
    parts = " || ' ' || ".join(f"{w}[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(generate_series(1, len({w}) - {n - 1}), "
        f"i -> {parts}))"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, n_hashes: int = 8) -> list[Column]:
    """n_hashes minhash values: min over shingles of H60(seed ':' shingle).

    Array-expression form — per-row, no shuffle; empty shingle set → null.
    """
    return [
        F.array_min(
            F.transform(shingles, lambda s: hash60(F.concat(F.lit(f"{seed}:"), s)))
        ).alias(f"mh{seed}")
        for seed in range(n_hashes)
    ]


def minhash_signature_sql(shingles_expr: str, n_hashes: int = 8) -> list[str]:
    out = []
    for seed in range(n_hashes):
        h = hash60_sql(f"'{seed}:' || s")
        out.append(f"list_min(list_transform({shingles_expr}, s -> {h}))")
    return out


def minhash_neardup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    Returns (doc_a, doc_b, jaccard-passed pairs with doc_a < doc_b).
    Candidates: pairs agreeing on ALL rows of at least one band.
    Verify: exact Jaccard of the distinct shingle sets >= threshold.
    """
    rows_per_band = n_hashes // bands
    # docs with < shingle_n words have NO shingles: every minhash is null and
    # concat_ws would silently drop the nulls, giving all such docs one
    # shared empty band key — an O(m²) candidate blow-up at corpus scale.
    # They can never pass Jaccard >= threshold anyway, so drop them BEFORE
    # the shingle projection, on the equivalent cheap precondition
    # word-count >= n (filtering on size(sh) mid-pipeline re-evaluates the
    # whole shingle transform in the predicate — measured 1.6x slower).
    # Mirrored in minhash_neardup_sql.
    n_words = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    # the verify payload shuffled through the band join is the 60-bit HASH
    # of each shingle (8 bytes/shingle), never the shingle strings — at
    # corpus scale the band exchange replicates the payload x bands, so
    # string arrays would multiply shuffle bytes by the document size.
    # Jaccard over hashed distinct sets equals string-set Jaccard up to
    # md5-collisions (~2^-60 per pair); the DuckDB twin hashes identically
    # so parity is exact.
    sig = docs.filter(n_words >= shingle_n).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    ).select(
        "doc_id",
        F.transform(F.col("sh"), hash60).alias("shh"),
        *minhash_signature(F.col("sh"), n_hashes),
    )
    # band b's key: its rows' minhash values, comma-joined
    mh = [F.col(f"mh{i}").cast("string") for i in range(n_hashes)]
    rows = [mh[b * rows_per_band:(b + 1) * rows_per_band] for b in range(bands)]
    band_keys = F.array(*[F.concat_ws(",", *r) for r in rows])
    cand = banded_self_join(sig, band_keys, id_col="doc_id", payload=("shh",))
    inter = F.size(F.array_intersect("shh_a", "shh_b")).cast("double")
    union = F.size(F.array_union("shh_a", "shh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return cand.filter(jac >= threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def minhash_neardup_sql(
    corpus_cte: str,
    *,
    shingle_n: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
) -> str:
    """DuckDB twin of minhash_neardup over a CTE named `corpus`
    (doc_id, text)."""
    rows_per_band = n_hashes // bands
    sh = word_shingles_sql("w", shingle_n)
    mh = minhash_signature_sql("sh", n_hashes)
    mh_cols = ", ".join(f"{e} AS mh{i}" for i, e in enumerate(mh))
    shh = f"list_transform(sh, s -> {hash60_sql('s')})"
    band_selects = []
    for b in range(bands):
        key = " || ',' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, shh, {b} AS band, {key} AS bkey FROM sig"
        )
    return f"""
        WITH {corpus_cte},
        shingled AS (
            SELECT doc_id, {sh} AS sh
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                  FROM corpus)
            WHERE len(w) >= {shingle_n}
        ),
        sig AS (SELECT doc_id, {shh} AS shh, {mh_cols} FROM shingled),
        banded AS ({' UNION ALL '.join(band_selects)}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.shh AS sh_a, b.shh AS sh_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b FROM cand
        WHERE CASE WHEN len(list_distinct(sh_a || sh_b)) > 0
                   THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                        / len(list_distinct(sh_a || sh_b))
                   ELSE 0.0 END >= {threshold}
    """


# ---------------------------------------------------------------------------
# Duplicated-span coverage (RefinedWeb-style corpus diagnostics)
# ---------------------------------------------------------------------------

def span_coverage(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    shingle_n: int = 8,
) -> DataFrame:
    """Per-group duplicated-span coverage: the fraction of each document's
    distinct word ``shingle_n``-grams that also occur in at least one OTHER
    document, rolled up per ``group_col``.

    The corpus-health metric behind RefinedWeb/Dolma-style exact substring
    dedup decisions. Scale shape: shingles are hashed to 60-bit BIGINTs
    BEFORE the explode so the two shuffles (document-frequency groupBy and
    the join back) move 8-byte keys, never strings; the df aggregate is
    partial (map-side combine) and AQE can broadcast the join side if a
    filter shrinks it. Docs with fewer than ``shingle_n`` words have no
    shingles and are excluded from the rollup in both engines.

    Returns (group, n_docs, total_shingles, dup_shingles, dup_share,
    n_docs_majority_dup) where the majority flag is the exact integer
    predicate 2*dup > total (no float threshold).
    """
    n_words = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    hashed = F.transform(
        word_shingles(F.col(text_col), shingle_n), lambda s: hash60(s)
    )
    exploded = (
        docs.filter(n_words >= shingle_n)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("grp"),
            F.explode(hashed).alias("sh"),
        )
    )
    # lazy localCheckpoint: df_counts and the join probe both read
    # `exploded`, and without the barrier the split + shingle + md5-hash
    # pipeline runs once per branch (two full text scans). The
    # materialized rows are (8-byte hash, id, group) — already the
    # narrow form the docstring's shuffle argument is about. A
    # count-over-window formulation was considered and rejected: it
    # computes the same integers in one shuffle but buffers the whole
    # partition-group of a hot shingle, where the groupBy+join keeps the
    # df aggregate map-side combined and streams the probe.
    exploded = exploded.localCheckpoint(eager=False)
    df_counts = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        exploded.join(df_counts, "sh")
        .groupBy("doc_id", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup"),
        )
    )
    return per_doc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").cast("long").alias("total_shingles"),
        F.sum("n_dup").cast("long").alias("dup_shingles"),
        F.round(F.sum("n_dup").cast("double") / F.sum("n_sh"), 6).alias("dup_share"),
        F.sum((2 * F.col("n_dup") > F.col("n_sh")).cast("long"))
        .cast("long")
        .alias("n_docs_majority_dup"),
    )


def span_coverage_sql(*, group_col: str = "lang", shingle_n: int = 8) -> str:
    """DuckDB twin of :func:`span_coverage` over the ``documents`` view."""
    sh = word_shingles_sql("w", shingle_n)
    h = hash60_sql("s")
    return f"""
        WITH shingled AS (
            SELECT doc_id, {group_col} AS grp,
                   list_transform({sh}, s -> {h}) AS shs
            FROM (SELECT doc_id, {group_col},
                         regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                  FROM documents)
            WHERE len(w) >= {shingle_n}
        ),
        exploded AS (SELECT doc_id, grp, unnest(shs) AS sh FROM shingled),
        dfreq AS (SELECT sh, COUNT(*) AS df FROM exploded GROUP BY sh),
        per_doc AS (
            SELECT e.doc_id, e.grp, COUNT(*) AS n_sh,
                   SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
            FROM exploded e JOIN dfreq d ON e.sh = d.sh
            GROUP BY 1, 2
        )
        SELECT grp AS {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
               CAST(SUM(n_dup) AS BIGINT) AS dup_shingles,
               round(CAST(SUM(n_dup) AS DOUBLE) / SUM(n_sh), 6) AS dup_share,
               CAST(SUM(CASE WHEN 2 * n_dup > n_sh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_majority_dup
        FROM per_doc GROUP BY 1
    """


def contamination_check(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    shingle_n: int = 8,
    eval_mod: int = 101,
) -> DataFrame:
    """Benchmark-contamination scan: how much of each training document's
    distinct ``shingle_n``-gram content also appears in a held-out eval
    set (here: docs with ``id % eval_mod == 0``), rolled up per group.

    The pre-training hygiene check (GPT-3/PaLM-style n-gram overlap
    decontamination). Scale shape: the eval side collapses to a DISTINCT
    60-bit shingle-hash table — eval sets are small by nature, so Spark
    broadcasts it; the corpus side explodes to (doc, hash) and left-joins
    the broadcast, map-side, then aggregates per doc and per group. The
    only shuffles move pre-aggregated 8-byte keys. The contamination flag
    is the exact integer predicate 20*hits > shingles (>5% overlap).

    Returns (group, n_docs, total_shingles, hit_shingles, hit_share,
    n_docs_contaminated).
    """
    n_words = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    hashed = F.transform(
        word_shingles(F.col(text_col), shingle_n), lambda s: hash60(s)
    )
    base = docs.filter(n_words >= shingle_n).select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.explode(hashed).alias("h"),
    )
    eval_sh = (
        base.filter(F.col("doc_id") % eval_mod == 0)
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1).cast("long"))
    )
    per_doc = (
        base.filter(F.col("doc_id") % eval_mod != 0)
        .join(F.broadcast(eval_sh), "h", "left")
        .groupBy("doc_id", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    return per_doc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").cast("long").alias("total_shingles"),
        F.sum("n_hit").cast("long").alias("hit_shingles"),
        F.round(F.sum("n_hit").cast("double") / F.sum("n_sh"), 6).alias("hit_share"),
        F.sum((20 * F.col("n_hit") > F.col("n_sh")).cast("long"))
        .cast("long")
        .alias("n_docs_contaminated"),
    )


def contamination_check_sql(
    *, group_col: str = "lang", shingle_n: int = 8, eval_mod: int = 101
) -> str:
    """DuckDB twin of :func:`contamination_check` over ``documents``."""
    sh = word_shingles_sql("w", shingle_n)
    h = hash60_sql("s")
    return f"""
        WITH hashed AS (
            SELECT doc_id, {group_col} AS grp,
                   list_transform({sh}, s -> {h}) AS shs
            FROM (SELECT doc_id, {group_col},
                         regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                  FROM documents)
            WHERE len(w) >= {shingle_n}
        ),
        ex AS (SELECT doc_id, grp, unnest(shs) AS h FROM hashed),
        eval_sh AS (SELECT DISTINCT h FROM ex WHERE doc_id % {eval_mod} = 0),
        per_doc AS (
            SELECT e.doc_id, e.grp, COUNT(*) AS n_sh,
                   SUM(CASE WHEN e.h IN (SELECT h FROM eval_sh)
                            THEN 1 ELSE 0 END) AS n_hit
            FROM ex e WHERE e.doc_id % {eval_mod} <> 0
            GROUP BY 1, 2
        )
        SELECT grp AS {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
               CAST(SUM(n_hit) AS BIGINT) AS hit_shingles,
               round(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_sh), 6) AS hit_share,
               CAST(SUM(CASE WHEN 20 * n_hit > n_sh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_contaminated
        FROM per_doc GROUP BY 1
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_col(text: Column, bits: int = SIM_BITS) -> Column:
    """60-bit SimHash over whitespace tokens (per-occurrence weighting).

    bit b of the fingerprint = majority sign of bit b across token hashes
    (``ones*2 > n``). Implemented as a vectorized pandas UDF (numpy per-bit
    popcount with a unique-token md5 cache) — the equivalent pure-Catalyst
    form (60 ``aggregate()`` folds) compiles to a pathological expression
    tree (~20s per plan at ANY data size); the Arrow path runs in
    milliseconds and produces bit-identical fingerprints (the DuckDB oracle
    still evaluates the declarative 60-fold SQL form — both sides agree).
    """
    import hashlib as _hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def h60(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = int(_hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                cache[tok] = v
            return v

        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").strip().lower().split()
            if not toks:
                continue
            hs = np.fromiter((h60(w) for w in toks), dtype=np.uint64, count=len(toks))
            ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
            bitsset = (ones * 2 > len(toks)).astype(np.uint64)
            out[i] = int((bitsset << shifts).sum())
        return pd.Series(out)

    return _simhash(text)


def simhash_sql(hashes_alias: str = "hs", bits: int = SIM_BITS) -> str:
    """DuckDB simhash expression over a token-hash list aliased
    ``hashes_alias`` (build it with list_transform + hash60_sql)."""
    hs = hashes_alias
    terms = []
    for b in range(bits):
        ones = f"list_sum(list_transform({hs}, h -> (h >> {b}) & 1))"
        terms.append(f"(CASE WHEN {ones} * 2 > len({hs}) THEN {1 << b}::BIGINT ELSE 0 END)")
    total = " + ".join(terms)
    return f"CAST({total} AS BIGINT)"


def simhash_neardup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: :func:`hamming_neardup` over the ``SIM_BITS``-bit
    fingerprint — any pair within Hamming <= bands-1 agrees exactly on
    at least one of the ``bands`` bit-slices, so the candidate join is an
    equi-join on (band, slice-value), a uniform bigint shuffle key.
    """
    sims = docs.select(
        F.col(id_col).alias("doc_id"), simhash_col(F.col(text_col)).alias("sim")
    )
    pairs = hamming_neardup(
        sims, id_col="doc_id", hash_col="sim", bits=SIM_BITS,
        max_hamming=max_hamming, bands=bands,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def simhash_neardup_sql(
    corpus_cte: str, *, max_hamming: int = 3, bands: int = 4
) -> str:
    width = SIM_BITS // bands
    mask = (1 << width) - 1
    hashes = (
        f"list_transform(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"w -> {hash60_sql('w')})"
    )
    sim = simhash_sql("hs")
    band_selects = [
        f"SELECT doc_id, sim, {b} AS band, (sim >> {b * width}) & {mask} AS bkey FROM sh"
        for b in range(bands)
    ]
    return f"""
        WITH {corpus_cte},
        hashed AS (SELECT doc_id, {hashes} AS hs FROM corpus),
        sh AS (SELECT doc_id, {sim} AS sim FROM hashed),
        banded AS ({' UNION ALL '.join(band_selects)}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sim AS sim_a, b.sim AS sim_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# char n-gram Jaccard (prefix-blocked)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    prefix_len: int = 16,
    threshold: float = 0.8,
    len_bucket: int = 64,
) -> DataFrame:
    """Char n-gram Jaccard near-dup pairs, blocked on (canonical
    ``prefix_len``-char prefix, length bucket).

    The prefix alone is a skew trap on web corpora: boilerplate-heavy
    documents ("<!doctype html ..." after canonicalization) pile millions
    of docs into ONE block → quadratic pairs on one reducer. Composing
    the block key with ``floor(len/len_bucket)`` splits a hot prefix
    across length buckets; candidates are pairs whose buckets differ by
    at most 1 (so any pair with |len_a-len_b| < len_bucket is always
    co-blocked — Jaccard>=0.8 char-gram near-dups have near-equal
    lengths). Implemented without a dedup shuffle: side A emits its own
    bucket, side B emits {lb-1, lb, lb+1}, so each qualifying pair
    matches on exactly one key. Entirely SQL-expressible → oracle-checked
    (the DuckDB twin uses the equivalent |lb_a-lb_b|<=1 predicate).
    """
    t = f"lower(trim({text_col}))"
    # guard: sequence(1, k) DESCENDS for k<1 in Spark — emit empty instead
    grams = (
        f"CASE WHEN length({t}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, length({t}) - {n - 1}), "
        f"i -> substring({t}, i, {n}))) ELSE array() END"
    )
    # shuffle 8-byte gram hashes, not gram strings (same contract as
    # minhash_neardup: Jaccard over hashed distinct sets, twin hashes
    # identically, collision odds ~2^-60 per pair)
    gram_hashes = (
        f"transform({grams}, s -> "
        f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
    )
    g = docs.selectExpr(
        f"{id_col} AS doc_id",
        f"substring({t}, 1, {prefix_len}) AS pfx",
        f"CAST(FLOOR(length({t}) / {len_bucket}) AS BIGINT) AS lb",
        f"{gram_hashes} AS ng",
    )
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("ng").alias("ng_a"), "pfx",
        F.col("lb").alias("blk_lb"),
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("ng").alias("ng_b"), "pfx",
        F.explode(F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)).alias("blk_lb"),
    )
    cand = a.join(b, on=["pfx", "blk_lb"]).filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("ng_a", "ng_b")).cast("double")
    union = F.size(F.array_union("ng_a", "ng_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # floor, not cast: Spark's double→long cast truncates but DuckDB's rounds
    return (
        cand.withColumn("jacc_pm", F.floor(jac * 1000).cast("long"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jacc_pm")
    )


def ngram_jaccard_sql(
    corpus_cte: str, *, n: int = 4, prefix_len: int = 16, threshold: float = 0.8,
    len_bucket: int = 64,
) -> str:
    t = "lower(trim(text))"
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(length({t}) - {n - 1}, 0)), "
        f"i -> substr({t}, i, {n})))"
    )
    gram_hashes = f"list_transform({grams}, s -> {hash60_sql('s')})"
    return f"""
        WITH {corpus_cte},
        g AS (SELECT doc_id, substr({t}, 1, {prefix_len}) AS pfx,
                     CAST(FLOOR(length({t}) / {len_bucket}) AS BIGINT) AS lb,
                     {gram_hashes} AS ng FROM corpus),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ng AS ng_a, b.ng AS ng_b
            FROM g a JOIN g b
              ON a.pfx = b.pfx AND abs(a.lb - b.lb) <= 1 AND a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   CASE WHEN len(list_distinct(ng_a || ng_b)) > 0
                        THEN CAST(len(list_intersect(ng_a, ng_b)) AS DOUBLE)
                             / len(list_distinct(ng_a || ng_b))
                        ELSE 0.0 END AS jac
            FROM cand
        )
        SELECT doc_a, doc_b, CAST(FLOOR(jac * 1000) AS BIGINT) AS jacc_pm
        FROM scored WHERE jac >= {threshold}
    """


# ---------------------------------------------------------------------------
# near-dup CLUSTERING — connected components over the pair set
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters: (doc_id, cluster_id) where
    cluster_id is the minimum doc id in the connected component — the
    standard 'keep one canonical doc per dup cluster' pipeline step.

    Min-label propagation: each iteration every node takes the min label
    among itself and its neighbors (one join + one partial+final min-agg,
    all shuffles on the doc-id key); converges in O(component diameter)
    iterations — near-dup clusters are short chains/cliques, so 2-4
    rounds in practice, with a scalar convergence check per round (the
    only driver-side value). ``localCheckpoint`` truncates the growing
    lineage each round so the plan stays O(1) per iteration. For
    adversarial giant components (diameter >> log n), switch to
    alternating large-star/small-star contraction — same API, noted here
    deliberately: web dedup components are overwhelmingly tiny.
    """
    sym = pairs.select(
        F.col(a_col).alias("id"), F.col(b_col).alias("nb")
    ).unionByName(pairs.select(F.col(b_col).alias("id"), F.col(a_col).alias("nb")))
    edges = sym.distinct().localCheckpoint()
    lab = edges.select("id").distinct().withColumn("comp", F.col("id"))
    changed = 0
    for _ in range(max_iters):
        nbr = edges.join(
            lab.select(F.col("id").alias("nb"), F.col("comp")), on="nb"
        ).select("id", "comp")
        new_lab = (
            lab.unionByName(nbr).groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        changed = (
            new_lab.join(lab.select("id", F.col("comp").alias("old")), on="id")
            .filter(F.col("comp") < F.col("old"))
            .count()
        )
        lab = new_lab
        if changed == 0:
            break
    if changed != 0:
        # Long thin components (dense corridors/coastlines in grid_dbscan)
        # can exceed the iteration budget; a silent exit would return
        # labels that look valid but split one component into several.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations ({changed} labels still improving); raise "
            "max_iters or pre-contract the graph"
        )
    return lab.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


def connected_components_sql(pairs_query: str) -> str:
    """DuckDB twin: transitive closure via WITH RECURSIVE over the same
    pair set (``pairs_query`` must select doc_a, doc_b)."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_query}),
        edges AS (
            SELECT doc_a AS id, doc_b AS nb FROM pairs
            UNION ALL
            SELECT doc_b AS id, doc_a AS nb FROM pairs
        ),
        reach AS (
            SELECT id, nb AS r FROM edges
            UNION
            SELECT e.id, t.r FROM edges e JOIN reach t ON e.nb = t.id
        )
        SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id
        FROM reach GROUP BY id
    """


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    # NOTE: unrolling this fold to dim explicit GetArrayItem terms was
    # measured (r6) and is NOT an optimization: the ~64-term tree in a
    # filter/join-condition position crosses the generated-code size cliff
    # and evaluates ~6x slower than the interpreted fold. For bulk cosine,
    # use the blocked numpy kernel below instead.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def _cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when either vector has zero norm or holds
    a NaN — Spark orders NaN above every double, so a bare NaN would
    pass every ``>= threshold`` filter; NULL passes none."""
    sim = F.try_divide(_dot(a, b), _norm(a) * _norm(b))
    return F.when(~F.isnan(sim), sim)


def _uniform_dim(emb: DataFrame, vec_col: str) -> int | None:
    """min==max vector length, else None. One bounded control-plane
    aggregate (2 longs to the driver) — negligible next to the O(n²) scan
    it unlocks."""
    mn, mx = emb.agg(
        F.min(F.size(F.col(vec_col))), F.max(F.size(F.col(vec_col)))
    ).first()
    return int(mn) if mn is not None and mn == mx and mn > 0 else None


def embedding_neardup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int | None | str = "auto",
) -> DataFrame:
    """Brute-force cosine near-dup pairs (the exact baseline).

    O(n²) — correct at any scale but quadratic; use the LSH variant as the
    scale path and this as its recall oracle on samples. When every vector
    has the same length (``dim="auto"`` detects this with one eager
    min/max job over ``emb`` at plan-build time; pass an int to pin it,
    ``None`` to disable): the cosine then runs in the blocked numpy
    kernel (identical summation order, so the pair set is bit-identical)
    and each row's norm is computed once instead of per pair.
    NULL, zero-norm and NaN-holding vectors never pair, on either path.
    """
    if dim == "auto":
        dim = _uniform_dim(emb, vec_col)
    v = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if dim is not None:
        return _embedding_neardup_blocked(
            emb, v, dim=dim, threshold=threshold, id_col=id_col
        )
    a = v.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"))
    b = v.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    return pairs.filter(_cosine(F.col("va"), F.col("vb")) >= threshold).select(
        "vec_a", "vec_b"
    )


def _embedding_neardup_blocked(
    emb: DataFrame,
    v: DataFrame,
    *,
    dim: int,
    threshold: float,
    id_col: str,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine as an n_blocks × n_blocks block cogroup.

    The naive form is a BroadcastNestedLoopJoin whose per-pair cosine sits
    in the join condition — never whole-stage codegen, so every one of the
    O(n²) evaluations is interpreted. Here each side is hash-split into
    ``n_blocks`` deterministic blocks and every (block_a, block_b) cell is
    one vectorized numpy kernel. The accumulation loops run k = 0..dim-1 in
    index order, the same left-to-right double additions as the Catalyst
    fold, so the emitted pair set is bit-identical to the naive plan's.
    Replication is bounded (each row ships n_blocks times); no driver
    collect, no broadcast of the corpus.
    """
    idt = dict(emb.dtypes)[id_col]
    all_blocks = F.array(*[F.lit(i) for i in range(n_blocks)])
    blk = F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int")
    a_side = v.select(
        "vid", "v", blk.alias("ba"), F.explode(all_blocks).alias("bb")
    )
    b_side = v.select(
        "vid", "v", F.explode(all_blocks).alias("ba"), blk.alias("bb")
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": []})
        left = left[left["vid"].notna() & left["v"].notna()]
        right = right[right["vid"].notna() & right["v"].notna()]
        if not len(left) or not len(right):
            return empty
        av = np.stack([np.asarray(x, dtype=np.float64) for x in left["v"]])
        bv = np.stack([np.asarray(x, dtype=np.float64) for x in right["v"]])
        # sequential k-order accumulation == the Catalyst fold bit-for-bit
        an = np.zeros(len(av))
        bn = np.zeros(len(bv))
        dot = np.zeros((len(av), len(bv)))
        for k in range(dim):
            an += av[:, k] * av[:, k]
            bn += bv[:, k] * bv[:, k]
            dot += np.outer(av[:, k], bv[:, k])
        # zero norms give 0/0 = NaN, and NaN >= threshold is False here
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = dot / np.outer(np.sqrt(an), np.sqrt(bn))
        aid = left["vid"].to_numpy()
        bid = right["vid"].to_numpy()
        ia, ib = np.nonzero((sim >= threshold) & (aid[:, None] < bid[None, :]))
        return pd.DataFrame({"vec_a": aid[ia], "vec_b": bid[ib]})

    return (
        a_side.groupBy("ba", "bb")
        .cogroup(b_side.groupBy("ba", "bb"))
        .applyInPandas(kernel, schema=f"vec_a {idt}, vec_b {idt}")
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Sign-LSH bucketed near-dup: deterministic random-hyperplane signature
    (md5-derived plane components — no RNG), banded candidate join, exact
    cosine verify. Approximate recall (<1); rows-only checked, with the
    brute-force operator as the sample oracle in tests."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def _planes(dim: int) -> "np.ndarray":
        out = np.empty((n_planes, dim), dtype=np.float64)
        for p in range(n_planes):
            for d in range(dim):
                h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
                out[p, d] = (h % 2001 - 1000) / 1000.0
        return out

    @pandas_udf(LongType())
    def signature(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype="int64")
        planes = _planes(mat.shape[1])
        signs = (mat @ planes.T) > 0  # (n, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # band-join and pair-dedup on bare 8-byte ids — carrying both 64-double
    # arrays through the candidate shuffle/aggregate costs ~1 KB per pair;
    # the vectors re-attach afterwards via two joins against (vid, v),
    # which is pre-UDF, so the signature runs once, into the checkpoint
    cand = banded_self_join(
        v.select("vid", signature(F.col("v")).alias("sig")),
        bit_slices(F.col("sig"), n_planes, bands),
        id_col="vid",
    )
    va = v.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    # HOF fold, not the dim-unrolled form: measured 2.1 s vs 12.2 s here —
    # the 64-term unrolled tree in a filter/join-condition position crosses
    # the generated-code size cliff and runs slower than the fold
    return pairs.filter(_cosine(F.col("va"), F.col("vb")) >= threshold).select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b")
    )


def span_removal(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    shingle_n: int = 8,
) -> DataFrame:
    """Exact duplicated-span REMOVAL — the act to span_coverage's measure
    (RefinedWeb/Dolma-style exact substring dedup): every word position
    covered by a word ``shingle_n``-gram that occurs in >= 2 DISTINCT
    documents is dropped; the remaining words re-join.

    Scale shape: positional grams hash to 60-bit BIGINTs before the
    explode, so the doc-frequency aggregate and the semi-join move
    8-byte keys (+ a 4-byte position); covered-position expansion and
    the word filter are per-row array expressions after a doc-keyed
    aggregate of start positions. Docs with fewer than ``shingle_n``
    words pass through untouched (no grams, nothing to remove) — both
    engines exclude them from the rollup identically.

    Returns per-group: (group, n_docs, docs_touched, words_removed,
    h_min, h_max) with md5 over every cleaned document.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        words.alias("ws"),
    ).filter(F.size("ws") >= shingle_n)

    grams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - (shingle_n - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            hash60(
                F.concat_ws(" ", F.slice(F.col("ws"), i, F.lit(shingle_n)))
            ).alias("sh"),
        ),
    )
    exploded = base.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.sh").alias("sh")
    )
    dup = (
        exploded.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("sh")
    )
    cov = (
        exploded.join(dup, on="sh", how="left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    joined = base.join(cov, on="doc_id", how="left")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (shingle_n - 1)),
            )
        )
    )
    j = joined.withColumn("__cov", covered)
    kept = F.filter(
        F.col("ws"), lambda w, i: ~F.array_contains(F.col("__cov"), i + 1)
    )
    per_doc = j.select(
        "grp",
        (F.size("ws") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("h"),
    )
    return per_doc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("docs_touched"),
        F.sum("n_removed").cast("long").alias("words_removed"),
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
    )


def span_removal_sql(
    corpus_cte: str, *, group_col: str = "lang", shingle_n: int = 8
) -> str:
    """DuckDB twin of :func:`span_removal` over a CTE named ``corpus``
    (doc_id, text, <group_col>)."""
    h = hash60_sql(f"array_to_string(ws[i:i+{shingle_n - 1}], ' ')")
    return f"""
        WITH {corpus_cte},
        base AS (
            SELECT doc_id, {group_col} AS grp,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM corpus
        ),
        b2 AS (SELECT * FROM base WHERE len(ws) >= {shingle_n}),
        exploded AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ws) - {shingle_n - 1}),
                       i -> {{'pos': i, 'sh': {h}}})) AS g
            FROM b2
        ),
        e2 AS (SELECT doc_id, g.pos AS pos, g.sh AS sh FROM exploded),
        dup AS (
            SELECT sh FROM e2 GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
            SELECT e2.doc_id, list(DISTINCT e2.pos) AS starts
            FROM e2 JOIN dup ON e2.sh = dup.sh GROUP BY 1
        ),
        cleaned AS (
            SELECT b2.grp,
                   len(b2.ws) AS n_words,
                   list_filter(
                       list_transform(b2.ws, (w, i) -> CASE WHEN NOT
                           list_contains(
                               flatten(list_transform(
                                   COALESCE(cov.starts, []),
                                   s -> generate_series(s, s + {shingle_n - 1})
                               )), i)
                           THEN w END),
                       x -> x IS NOT NULL) AS kept
            FROM b2 LEFT JOIN cov ON b2.doc_id = cov.doc_id
        )
        SELECT grp AS {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_words > len(kept) THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_touched,
               CAST(SUM(n_words - len(kept)) AS BIGINT) AS words_removed,
               MIN(md5(array_to_string(kept, ' '))) AS h_min,
               MAX(md5(array_to_string(kept, ' '))) AS h_max
        FROM cleaned GROUP BY 1
    """


# ---------------------------------------------------------------------------
# CCNet-style cross-document paragraph dedup
# ---------------------------------------------------------------------------

def _para_norm(para: Column) -> Column:
    """CCNet paragraph normalization: lowercase, strip digits and
    punctuation, collapse whitespace — so near-identical boilerplate
    ("All rights reserved 2019" vs "... 2020") hashes together."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(para), "[^a-z ]", " "), " +", " "
        )
    )


def _para_norm_sql(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace("
        f"lower({expr}), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Cross-document paragraph deduplication, the CCNet corpus pass
    (Wenzek et al., arXiv:1911.00359 §3.1): documents split on newlines;
    each paragraph's dedup key is the 60-bit hash of its NORMALIZED form
    (:func:`_para_norm`); every occurrence except the corpus-first —
    minimum ``(doc_id, paragraph_index)`` — is dropped, and survivors
    re-join in document order.

    Scale shape: paragraphs explode once; keeper election is a groupBy
    on the 8-byte hash with a map-side-combinable ``min(struct)``; the
    occurrences rejoin that keeper table on the 8-byte key; reassembly
    is one doc-keyed aggregate. No string payload ever rides a wider
    key than the paragraph itself, and nothing is all-pairs.

    Rules shared bit-for-bit with the DuckDB twin: raw-empty paragraphs
    are discarded before anything else (they carry no content and would
    otherwise make every blank line a global duplicate); paragraphs
    whose NORMALIZED form is empty (pure digits/punctuation) are kept
    unconditionally — there is no text to judge duplication on.

    Returns per-group: ``(group, n_docs, n_paras, paras_removed,
    docs_touched, h_min, h_max)`` where the h's are md5 over each
    cleaned document (empty-string md5 when every paragraph went).
    """
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("grp"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "para"),
        )
        .filter(F.col("para") != "")
        .withColumn("norm", _para_norm(F.col("para")))
    )
    cand = base.filter(F.col("norm") != "").withColumn(
        "h", hash60(F.col("norm"))
    )
    keeper = cand.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("k")
    )
    kept_cand = (
        cand.join(keeper, on="h")
        .filter(
            (F.col("doc_id") == F.col("k.doc_id"))
            & (F.col("idx") == F.col("k.idx"))
        )
        .select("doc_id", "idx", "para")
    )
    kept = kept_cand.unionByName(
        base.filter(F.col("norm") == "").select("doc_id", "idx", "para")
    )
    totals = base.groupBy("doc_id").agg(
        F.first("grp").alias("grp"), F.count(F.lit(1)).alias("n_paras")
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "para"))),
                    lambda s: s["para"],
                ),
                "\n",
            )
        ).alias("hdoc"),
    )
    per_doc = (
        totals.join(kept_agg, on="doc_id", how="left")
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .withColumn("hdoc", F.coalesce(F.col("hdoc"), F.md5(F.lit(""))))
    )
    return per_doc.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_paras").cast("long").alias("n_paras"),
        F.sum(F.col("n_paras") - F.col("n_kept")).cast("long").alias(
            "paras_removed"
        ),
        F.sum((F.col("n_kept") < F.col("n_paras")).cast("long")).alias(
            "docs_touched"
        ),
        F.min("hdoc").alias("h_min"),
        F.max("hdoc").alias("h_max"),
    )


def paragraph_dedup_sql(corpus_cte: str, *, group_col: str = "lang") -> str:
    """DuckDB twin of :func:`paragraph_dedup` over a CTE named
    ``corpus`` with columns (doc_id, text, <group_col>). Keeper election
    is a window row_number here (oracle-scale) — same first-occurrence
    rule as the Spark min(struct) election."""
    norm = _para_norm_sql("g.para")
    return f"""
        WITH {corpus_cte},
        occ AS (
            SELECT doc_id, grp, g.idx AS idx, g.para AS para,
                   {norm} AS norm
            FROM (
                SELECT doc_id, {group_col} AS grp,
                       unnest(list_transform(
                           regexp_split_to_array(text, chr(10)),
                           (p, i) -> {{'idx': i, 'para': p}})) AS g
                FROM corpus
            ) WHERE g.para != ''
        ),
        kept AS (
            SELECT doc_id, idx, para FROM (
                SELECT doc_id, idx, para,
                       row_number() OVER (
                           PARTITION BY {hash60_sql('norm')}
                           ORDER BY doc_id, idx) AS rn
                FROM occ WHERE norm != ''
            ) WHERE rn = 1
            UNION ALL
            SELECT doc_id, idx, para FROM occ WHERE norm = ''
        ),
        totals AS (
            SELECT doc_id, any_value(grp) AS grp, COUNT(*) AS n_paras
            FROM occ GROUP BY 1
        ),
        kept_agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   md5(string_agg(para, chr(10) ORDER BY idx)) AS hdoc
            FROM kept GROUP BY 1
        ),
        per_doc AS (
            SELECT t.grp, t.n_paras,
                   COALESCE(k.n_kept, 0) AS n_kept,
                   COALESCE(k.hdoc, md5('')) AS hdoc
            FROM totals t LEFT JOIN kept_agg k ON t.doc_id = k.doc_id
        )
        SELECT grp AS {group_col}, COUNT(*) AS n_docs,
               CAST(SUM(n_paras) AS BIGINT) AS n_paras,
               CAST(SUM(n_paras - n_kept) AS BIGINT) AS paras_removed,
               CAST(SUM(CASE WHEN n_kept < n_paras THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_touched,
               MIN(hdoc) AS h_min, MAX(hdoc) AS h_max
        FROM per_doc GROUP BY 1
    """
