"""Dedup operator unit + property tests (oracle parity itself is covered by
test_oracle_queries via the driver-contract queries)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geokitten_spark.operators.dedup import (
    hash60,
    hash60_sql,
    word_shingles,
    minhash_neardup,
    simhash_col,
    simhash_neardup,
    ngram_jaccard_pairs,
    embedding_neardup,
    embedding_neardup_lsh,
)
from tests.conftest import SF_SMOKE


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_hash60_matches_python_and_duckdb(spark):
    import duckdb

    vals = ["", "a", "hello world", "Ünïcødé", "0:the quick brown"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = [r[0] for r in df.select(hash60(F.col("s"))).collect()]
    assert got == [_py_hash60(v) for v in vals]
    duck = [
        duckdb.sql(f"SELECT {hash60_sql('?')}".replace("?", f"'{v}'")).fetchone()[0]
        for v in vals
    ]
    assert got == duck


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame(
        [("one two three four",), ("one two",), ("",), ("solo",)], ["text"]
    )
    rows = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert rows[0].sh == ["one two three", "two three four"]
    assert rows[1].sh == []  # fewer words than n -> empty, NOT descending seq
    assert rows[2].sh == []
    assert rows[3].sh == []


def test_minhash_finds_planted_pair(spark):
    base = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail tokens here"),
            (3, " ".join(f"z{i}" for i in range(50))),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_neardup(df).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_stability_and_locality(spark):
    base = " ".join(f"w{i}" for i in range(100))
    near = base + " tail"
    far = " ".join(f"z{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["doc_id", "text"]
    )
    got = {r.doc_id: r.s for r in df.select("doc_id", simhash_col(F.col("text")).alias("s")).collect()}
    assert got[1] == got[2]  # deterministic
    ham_near = bin(got[1] ^ got[3]).count("1")
    ham_far = bin(got[1] ^ got[4]).count("1")
    assert ham_near < ham_far
    assert 0 <= got[1] < (1 << 60)


def test_simhash_neardup_planted(spark):
    base = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, base + " x"), (3, " ".join(f"z{i}" for i in range(100)))],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_neardup(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] <= 3
    # a ValueError, not an assert (python -O strips asserts)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup(df, max_hamming=4, bands=4)


def test_ngram_jaccard_planted(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different content here")],
        ["doc_id", "text"],
    )
    pairs = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df).collect()}
    assert pairs == {(1, 2)}


def test_minhash_short_docs_do_not_explode_candidates(spark):
    """Regression (ADVICE r1): docs with < n words all minhash to null;
    concat_ws dropped the nulls so every short doc shared ONE empty band
    key — O(m²) candidates. They must be filtered before banding, and the
    planted real pair must survive."""
    base = " ".join(f"w{i}" for i in range(50))
    rows = [(1, base), (2, base + " extra tail tokens here")]
    rows += [(100 + i, "hi") for i in range(200)]  # 200 sub-shingle docs
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b) for r in minhash_neardup(df).collect()}
    assert pairs == {(1, 2)}
    # candidate set itself must be skew-free: banding drops empty-shingle
    # docs, so no (short, short) pair is ever materialized
    from geokitten_spark.operators.dedup import word_shingles, minhash_signature

    sig = (
        df.select(F.col("doc_id"), word_shingles(F.col("text"), 3).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    assert sig.count() == 2


def test_ngram_jaccard_hot_prefix_blocks_are_bounded(spark):
    """Adversarial corpus (VERDICT r1 item 5): thousands of docs sharing one
    boilerplate prefix. The composed (prefix, length-bucket) block key must
    split the hot prefix so no block goes quadratic, while same-length
    near-dups still pair up."""
    import random

    rng = random.Random(7)
    prefix = "<!doctype html> "  # 16 chars after lower/trim
    rows = []
    for i in range(2000):
        body_len = rng.randrange(20, 6400)
        body = "".join(rng.choice("abcdefgh ") for _ in range(body_len))
        rows.append((i, prefix + body))
    # plant one true near-dup pair (same length bucket by construction)
    rows.append((9001, prefix + "x" * 500))
    rows.append((9002, prefix + "x" * 499 + "y"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # block-size audit with the operator's own key: the hot prefix spreads
    # over ~100 length buckets; no (pfx, lb) block may hold a quadratic share
    blocks = (
        df.selectExpr(
            "substring(lower(trim(text)), 1, 16) AS pfx",
            "CAST(FLOOR(length(lower(trim(text))) / 64) AS BIGINT) AS lb",
        )
        .groupBy("pfx", "lb")
        .count()
    )
    max_block = blocks.agg(F.max("count")).first()[0]
    assert max_block < 200, f"hot block of {max_block} docs — skew not mitigated"

    pairs = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(df).collect()}
    assert (9001, 9002) in pairs


def test_embedding_lsh_recall_vs_bruteforce(spark):
    """Sign-LSH candidates must recover every brute-force pair on the
    injected corpus (perturbation is tiny -> signatures agree on >=1 band)."""
    from geokitten_spark.fixtures import embedding_neardup_corpus

    emb = embedding_neardup_corpus(spark, SF_SMOKE)
    exact = {tuple(r) for r in embedding_neardup(emb).collect()}
    lsh = {tuple(r) for r in embedding_neardup_lsh(emb).collect()}
    assert lsh <= exact or exact <= lsh  # lsh ⊆ exact by construction
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9


def test_embedding_neardup_blocked_matches_naive(spark):
    """The blocked numpy kernel (dim detected uniform) must emit exactly
    the naive HOF plan's pair set — including NULL, zero-norm and NaN
    vectors (each drops out of every pair; the naive path must neither
    raise DIVIDE_BY_ZERO nor let NaN pass the threshold) — and
    non-uniform dims must fall back to the naive path."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1e-9, 0.0, 0.0]),       # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 1e-9, 0.0]),       # near-dup of 2
        (4, None),                        # NULL vector: no pairs
        (5, [-1.0, 0.0, 0.0, 0.0]),       # anti-parallel: no pairs
        (6, [0.0, 0.0, 0.0, 0.0]),        # zero norm: no pairs
        (7, [float("nan"), 1.0, 0.0, 0.0]),  # NaN: no pairs
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = {tuple(r) for r in embedding_neardup(emb).collect()}
    naive = {tuple(r) for r in embedding_neardup(emb, dim=None).collect()}
    assert fast == naive == {(0, 1), (2, 3)}

    mixed = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 1e-9]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert {tuple(r) for r in embedding_neardup(mixed).collect()} == {(0, 1)}


def test_ivf_ann_recall_vs_bruteforce(spark, tmp_path):
    """IVF recall grows monotonically with n_probe and reaches 1.0 at a
    full probe (== brute force). The fixture's label clusters are diffuse
    w.r.t. cosine (no pairs >0.8), so partial-probe recall is inherently
    moderate — the properties that matter are monotonicity and exactness
    at full probe."""
    from geokitten_spark.operators.ann import brute_topk, IVFIndex

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    rest = emb.filter("vec_id <> 0")
    exact = [r.vec_id for r in brute_topk(rest, qv, k=10).collect()]
    idx = IVFIndex(rest, storage_path=str(tmp_path / "ivf"))
    recalls = []
    for p in (2, 5, len(idx.centroids)):
        a = [r.vec_id for r in idx.search(qv, k=10, n_probe=p).collect()]
        recalls.append(len(set(a) & set(exact)) / 10)
    assert recalls == sorted(recalls), recalls  # monotone in n_probe
    assert recalls[0] >= 0.2
    # full probe == exact (same order, same ids)
    full = [r.vec_id for r in idx.search(qv, k=10, n_probe=len(idx.centroids)).collect()]
    assert full == exact


def test_ivf_many_lists_plan_stays_bounded_and_prunes(spark, tmp_path):
    """Regression (VERDICT r1 item 4): the old argmax was an O(L²) CASE-WHEN
    chain plus one cosine column per centroid — a 256-list build would blow
    the expression tree. The broadcast-table + max_by assignment must keep
    the plan O(1) in n_lists, and a probe must PARTITION-PRUNE the
    persisted lists rather than scan them all."""
    from geokitten_spark.operators.ann import brute_topk, IVFIndex

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter("vec_id <> 0")
    qv = [float(x) for x in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
          .filter("vec_id = 0").first()["embedding"]]
    idx = IVFIndex(emb, label_col=None, n_lists=256,
                   storage_path=str(tmp_path / "ivf256"))
    assert len(idx.centroids) > 100  # hash-bucketing really spread the lists

    res = idx.search(qv, k=10, n_probe=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 50_000, f"plan exploded: {len(plan)} chars"
    # probe scan is partition-pruned to exactly the probed lists
    assert "PartitionFilters" in plan and "__lst" in plan

    # full probe over the 256-list index still equals brute force
    exact = [r.vec_id for r in brute_topk(emb, qv, k=10).collect()]
    full = [r.vec_id for r in idx.search(qv, k=10, n_probe=256).collect()]
    assert full == exact

    # degenerate vectors never rank: a zero-norm row and a NaN row have a
    # NULL cosine, so neither is returned and neither raises
    degenerate = spark.createDataFrame(
        [(-1, [0.0] * len(qv), 0), (-2, [float("nan")] + [1.0] * (len(qv) - 1), 0)],
        emb.schema,
    )
    with_bad = [r.vec_id for r in brute_topk(emb.unionByName(degenerate), qv, k=10).collect()]
    assert with_bad == exact
    # ... also when k exceeds the valid count, for brute force and every
    # IVF search path (the build must not raise on them either)
    valid_rows = emb.orderBy("vec_id").limit(3)
    valid = sorted(r.vec_id for r in valid_rows.collect())
    small = valid_rows.unionByName(degenerate)
    assert sorted(r.vec_id for r in brute_topk(small, qv, k=10).collect()) == valid
    sidx = IVFIndex(small, label_col=None, n_lists=4, storage_path=str(tmp_path / "ivf_bad"))
    n_all = len(sidx.centroids)
    assert sorted(r.vec_id for r in sidx.search(qv, k=10, n_probe=n_all).collect()) == valid
    many = sidx.search_many([(0, qv)], k=10, n_probe=n_all).collect()
    assert sorted(r.vec_id for r in many) == valid


def test_connected_components_chain_triangle_pair(spark):
    """Chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    10-11-12, isolated pair 20-21."""
    from geokitten_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pq_index_self_retrieval_and_recall(spark, tmp_path):
    """PQ guarantees: a codebook-member query has ADC distance exactly 0
    to its own code (top-1 self-retrieval); recall@10 vs brute cosine
    stays useful at 32x compression; codes are m bytes wide."""
    from geokitten_spark.operators.ann import PQIndex, brute_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = PQIndex(emb, m=8, storage_path=str(tmp_path / "pq"))

    # codes shape: every vector got m codes in [0, 256)
    sample = idx.codes.limit(20).collect()
    assert all(len(r["codes"]) == 8 for r in sample)
    assert all(0 <= c < 256 for r in sample for c in r["codes"])

    # an indexed vector retrieves itself at rank 1
    q0 = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    top = idx.search(q0, k=10).collect()
    assert top[0]["vec_id"] == 0

    # zero-error invariant: when the corpus fits the codebook (<= 256
    # vectors -> singleton Lloyd clusters), a member's self-ADC distance
    # is exactly 0
    small = emb.filter("vec_id < 100")
    idx_small = PQIndex(small, m=8, storage_path=str(tmp_path / "pq_small"))
    tiny = idx_small.search(q0, k=1).collect()
    assert tiny[0]["vec_id"] == 0 and tiny[0]["adc_dist"] == 0.0

    # recall@10 vs exact cosine for a non-codebook query
    qv = [float(x) for x in emb.orderBy(F.col("vec_id").desc()).first()["embedding"]]
    exact = {r["vec_id"] for r in brute_topk(emb, qv, k=10).collect()}
    approx = {r["vec_id"] for r in idx.search(qv, k=10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"recall@10 {recall}"


def test_pq_codes_partitioning_independent(spark, tmp_path):
    """Encode is a pure function of the vector: same codes at any
    parallelism (Arrow batch boundaries don't leak into argmin)."""
    from geokitten_spark.operators.ann import PQIndex

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = PQIndex(emb.repartition(1), m=8, storage_path=str(tmp_path / "pq_a"))
    b = PQIndex(emb.repartition(7), m=8, storage_path=str(tmp_path / "pq_b"))
    ca = {r["vec_id"]: r["codes"] for r in a.codes.collect()}
    cb = {r["vec_id"]: r["codes"] for r in b.codes.collect()}
    assert ca == cb


def test_span_coverage_crafted_corpus(spark):
    """8-gram span coverage: a cloned span is counted as duplicated in
    both docs, unique spans are not, sub-8-word docs are excluded."""
    from geokitten_spark.operators.dedup import span_coverage

    span = " ".join(f"w{i}" for i in range(8))            # one shared 8-gram
    uniq_a = " ".join(f"a{i}" for i in range(8))
    uniq_b = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{span} tail1", "en"),   # shingles: 2 (span.., pos1..) — only exact span dup'd
            (2, f"{span} tail2", "en"),
            (3, uniq_a + " " + uniq_b, "en"),  # 9 shingles, none duplicated
            (4, "too short", "en"),       # < 8 words: excluded
        ],
        "doc_id long, text string, lang string",
    )
    out = span_coverage(docs, shingle_n=8).collect()
    assert len(out) == 1
    r = out[0]
    # docs 1,2 have 2 shingles each (w0..w7, w1..tailX); only w0..w7 is shared
    assert r["n_docs"] == 3
    assert r["total_shingles"] == 2 + 2 + 9
    assert r["dup_shingles"] == 2          # the shared span, once per doc
    assert r["n_docs_majority_dup"] == 0   # 1 of 2 shingles: not a majority


def test_contamination_check_crafted(spark):
    """Eval doc (id % 101 == 0) donates its 8-gram; the train doc sharing
    it is flagged, the unique doc is clean, sub-8-word docs are excluded,
    and eval docs themselves never appear in the rollup."""
    from geokitten_spark.operators.dedup import contamination_check

    span = " ".join(f"w{i}" for i in range(8))
    uniq = " ".join(f"u{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            (0, span, "en"),                # eval slice
            (1, f"{span} tail", "en"),      # contaminated: 1 of 2 shingles
            (2, uniq, "en"),                # clean: 2 shingles, 0 hits
            (3, "too short", "en"),         # excluded
        ],
        "doc_id long, text string, lang string",
    )
    out = contamination_check(docs, shingle_n=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 2                  # docs 1 and 2 only
    assert r["total_shingles"] == 2 + 2
    assert r["hit_shingles"] == 1
    assert r["n_docs_contaminated"] == 1


def test_ann_index_persistence_roundtrip(spark, tmp_path):
    """VERDICT r2 item 7: build → drop the driver object → load() from
    storage alone → bit-identical metadata and search parity (resume
    must NOT silently rebuild)."""
    import numpy as np

    from geokitten_spark.operators.ann import IVFIndex, PQIndex

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    p1 = str(tmp_path / "ivf")
    built = IVFIndex(emb.filter("vec_id <> 0"), storage_path=p1)
    want = [r.vec_id for r in built.search(qv, k=10, n_probe=3).collect()]
    cent_before = {k: v.tolist() for k, v in built._cent_map.items()}
    del built

    loaded = IVFIndex.load(spark, p1)
    assert {k: v.tolist() for k, v in loaded._cent_map.items()} == cent_before
    assert [r.vec_id for r in loaded.search(qv, k=10, n_probe=3).collect()] == want

    p2 = str(tmp_path / "pq")
    bpq = PQIndex(emb, m=8, storage_path=p2)
    want2 = [(r.vec_id, r.adc_dist) for r in bpq.search(qv, k=10).collect()]
    books = bpq.books.copy()
    del bpq

    lpq = PQIndex.load(spark, p2)
    assert np.array_equal(lpq.books, books)
    assert [(r.vec_id, r.adc_dist) for r in lpq.search(qv, k=10).collect()] == want2


def test_ann_search_many_matches_looped_search(spark, tmp_path):
    """VERDICT r2 item 5: one batched job returns exactly what a loop of
    single-query search() calls returns, query by query, in rank order."""
    from geokitten_spark.operators.ann import IVFIndex, PQIndex

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id % 50 = 0").orderBy("vec_id").limit(6).collect()
    ]
    rest = emb.filter("vec_id % 50 <> 0")

    idx = IVFIndex(rest, storage_path=str(tmp_path / "ivf_b"))
    batch = idx.search_many(queries, k=5, n_probe=3).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, qv in queries:
        single = [r.vec_id for r in idx.search(qv, k=5, n_probe=3).collect()]
        assert [v for _, v in sorted(got[qid])] == single, f"ivf query {qid}"

    pq = PQIndex(rest, m=8, storage_path=str(tmp_path / "pq_b"))
    batch2 = pq.search_many(queries, k=5).collect()
    got2 = {}
    for r in batch2:
        got2.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, qv in queries:
        single = [r.vec_id for r in pq.search(qv, k=5).collect()]
        assert [v for _, v in sorted(got2[qid])] == single, f"pq query {qid}"


def test_span_removal_crafted_corpus(spark):
    """Removal semantics: a span shared by two docs is cut from BOTH;
    unique content survives; sub-8-gram docs pass through the rollup
    untouched (excluded)."""
    from geokitten_spark.operators.dedup import span_removal

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = [
        (1, "x", f"uniqueone {shared} tailone is here today okay fine"),
        (2, "x", f"uniquetwo {shared} tailtwo is there now sure good"),
        (3, "x", "completely different words that repeat nowhere else at all"),
        (4, "x", "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = span_removal(df, shingle_n=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 3           # the 2-word doc has no 8-grams
    assert r["docs_touched"] == 2     # both sharers lose the span
    assert r["words_removed"] == 16   # 8 words from each sharer


# ---------------------------------------------------------------------------
# CCNet-style paragraph dedup
# ---------------------------------------------------------------------------

def test_paragraph_dedup_crafted_corpus(spark):
    """First occurrence (min doc_id, idx) of each normalized paragraph
    survives; later copies drop; digits/punct strip before hashing; a
    digits-only paragraph is always kept."""
    from geokitten_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "x", "unique opening one\nWe use cookies!\nCopyright 2019."),
        (2, "x", "unique opening two\nWe use cookies!\nCopyright 2020."),
        (3, "x", "We use cookies!\n1234 5678"),
        (4, "x", "we use Cookies\nunique closer four"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = paragraph_dedup(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 4
    assert r["n_paras"] == 10
    # doc1 keeps all 3 (first cookie banner, first copyright);
    # doc2 loses cookies + copyright (2020 normalizes == 2019);
    # doc3 loses cookies, keeps the digits-only para (normalizes empty);
    # doc4 loses its cookie variant ("we use cookies" after norm strips '!').
    assert r["paras_removed"] == 4
    assert r["docs_touched"] == 3


def test_paragraph_dedup_keep_rule_is_corpus_first(spark):
    """Within one doc the EARLIER index wins; across docs the LOWER id."""
    from geokitten_spark.operators.dedup import paragraph_dedup

    rows = [
        (7, "x", "same line here\nmiddle bit\nsame line here"),
        (2, "x", "same line here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    r = paragraph_dedup(df).collect()[0]
    # doc 2 owns "same line here"; doc 7 loses both copies.
    assert r["paras_removed"] == 2
    assert r["docs_touched"] == 1


def test_paragraph_dedup_partitioning_independent(spark):
    from geokitten_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    salted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nshared footer line."),
            F.lit("\nDoc "),
            F.col("doc_id").cast("string"),
        ),
    )
    a = sorted(map(tuple, paragraph_dedup(salted).collect()))
    b = sorted(map(tuple, paragraph_dedup(salted.repartition(17)).collect()))
    assert a == b


def test_paragraph_dedup_matches_duckdb_twin(spark):
    """Engine parity on the sf0.001 corpus with the same salt the
    driver-contract query uses."""
    import duckdb

    import __spark_entry__ as entrymod
    from geokitten_spark.operators.dedup import paragraph_dedup_sql

    got = sorted(
        map(tuple, entrymod.q_paragraph_dedup(spark, "/root/testdata/sf0.001").collect())
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    want = sorted(
        map(tuple, con.sql(paragraph_dedup_sql(entrymod._PARA_DEDUP_CTE)).fetchall())
    )
    assert got == want


def test_leakage_safe_split_property(spark):
    """Every near-dup cluster lands in exactly ONE split (the property a
    doc-level hash split violates), every doc is assigned, and the
    planted near-dup pairs share their original's split."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    out = entrymod.queries()["leakage_safe_split"](spark, SF_SMOKE).cache()
    rows = out.collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    by_cluster = {}
    by_doc = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        by_doc[r.doc_id] = r.split
    assert all(len(s) == 1 for s in by_cluster.values())
    # planted copies (doc_id + 1000000 for doc_id % 10 == 0) ride along
    n_pairs = 0
    for d, s in by_doc.items():
        if d >= 1000000:
            assert by_doc[d - 1000000] == s
            n_pairs += 1
    assert n_pairs > 0
    out.unpersist()


def test_sq8_codes_match_driver_quantizer(spark):
    """The distributed quantizer must equal driver-side Python
    bit-for-bit (same IEEE-double op order), codes stay in 0..255, and
    identical vectors score the maximum against themselves."""
    from geokitten_spark.operators.ann import (
        sq8_code_col,
        sq8_params,
        sq8_quantize_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mn, mx = sq8_params(emb)
    got = {
        r["vec_id"]: list(r["c"])
        for r in emb.select(
            "vec_id",
            sq8_code_col(F.col("embedding").cast("array<double>"), mn, mx).alias("c"),
        ).collect()
    }
    for r in emb.collect():
        want = sq8_quantize_query([float(x) for x in r["embedding"]], mn, mx)
        assert got[r["vec_id"]] == want
        assert all(0 <= c <= 255 for c in want)


def test_sq8_out_of_range_vectors_clamp(spark):
    """Components outside the trained per-dim [mn, mx] — an
    out-of-distribution query vector — must clamp to 0/255 in BOTH the
    Column expression and the driver-side quantizer, never produce
    codes <0 or >255."""
    from geokitten_spark.operators.ann import sq8_code_col, sq8_quantize_query

    mn, mx = [0.0, -1.0, 2.0], [1.0, 1.0, 2.0]  # dim 3 is constant-range
    ood = [5.0, -9.0, 7.0]  # above / below / constant-dim-off
    assert sq8_quantize_query(ood, mn, mx) == [255, 0, 0]
    inb = [0.5, 0.0, 2.0]
    assert sq8_quantize_query(inb, mn, mx) == [128, 128, 0]
    rows = spark.createDataFrame([(ood,), (inb,)], "v array<double>")
    got = [
        list(r["c"])
        for r in rows.select(
            sq8_code_col(F.col("v"), mn, mx).alias("c")
        ).collect()
    ]
    assert got == [[255, 0, 0], [128, 128, 0]]


def test_sq8_topk_matches_numpy_and_plan(spark):
    """sq8_topk's top-5 equals a full numpy recomputation (quantize
    every row with the driver kernel, integer dot, sort by score desc /
    id asc), the result is partitioning-independent, and the scoring
    plan is JVM-only with a TakeOrderedAndProject (no single-reducer
    sort, no Python)."""
    from geokitten_spark.operators.ann import (
        sq8_params,
        sq8_quantize_query,
        sq8_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mn, mx = sq8_params(emb)
    codes = {
        r["vec_id"]: sq8_quantize_query([float(x) for x in r["embedding"]], mn, mx)
        for r in emb.collect()
    }
    qc = codes[0]
    want = sorted(
        (
            (-sum(a * b for a, b in zip(c, qc)), vid)
            for vid, c in codes.items()
            if vid != 0
        )
    )[:5]
    top = sq8_topk(emb, query_id=0, k=5)
    rows = top.collect()
    assert [(r["vec_id"], r["score"]) for r in rows] == [
        (vid, -neg) for neg, vid in want
    ]
    again = sq8_topk(emb.repartition(7), query_id=0, k=5).collect()
    assert [(r["vec_id"], r["score"]) for r in rows] == [
        (r["vec_id"], r["score"]) for r in again
    ]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq8_index_persistence_and_batch(spark, tmp_path):
    """SQ8Index: load() in effect rehydrates (params + codes) with no
    rebuild and reproduces search() exactly; search_many equals looped
    search; the probe scan is shuffle-free up to the top-k."""
    from geokitten_spark.operators.ann import SQ8Index, sq8_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "sq8")
    built = SQ8Index(emb, storage_path=p)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    a = [(r["vec_id"], r["score"]) for r in built.search(qv, k=5).collect()]
    loaded = SQ8Index.load(spark, p)
    b = [(r["vec_id"], r["score"]) for r in loaded.search(qv, k=5).collect()]
    assert a == b and len(a) == 5
    # index search (vec 0 included in the code table) agrees with the
    # ad-hoc operator on the shared non-query ids
    ad_hoc = [r["vec_id"] for r in sq8_topk(emb, query_id=0, k=6).collect()]
    assert [i for i, _ in a if i != 0] == ad_hoc[: len([i for i, _ in a if i != 0])]

    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
               for r in emb.limit(3).collect()]
    many = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in loaded.search_many(queries, k=4).collect()
    }
    for qid, v in queries:
        one = [r["vec_id"] for r in loaded.search(v, k=4).collect()]
        assert [many[(qid, rk)] for rk in range(1, 5)] == one

    plan = loaded.search(qv, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "BatchEvalPython" not in plan
