"""Seeded input generator for the three workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed gives byte-identical DataFrames and pandas frames, another
seed gives other pages and other polygons.  Pages are
built from Spark column expressions over ``spark.range`` (hash-derived,
whole-stage codegen), so a few hundred thousand rows cost a second, not a
driver-side pandas build; polygons are a small pandas frame.

Page shape (Common-Crawl-like): ``doc_id, url, warc_ts, html, text, lang``.

* ``text`` is ``n_words`` words drawn uniformly from a 20 000-word
  synthetic vocabulary, so two unrelated pages share almost no 3-word
  shingle.  Never verbatim replicas: replicas make the MinHash band join
  quadratic by construction.
* planted near-duplicates: an odd ``doc_id`` whose hash falls in
  ``dup_share`` copies the title and text of ``doc_id - 1`` and appends
  one word (3-shingle Jaccard ``n_words / (n_words + 1)``).  ``doc_id - 1``
  is even, so it is never itself a copy: clusters are exactly pairs.
* ``html`` wraps title + text and carries 1-4 ``doc://<id>`` links whose
  targets are existing doc ids, so every page has an out-link and the
  PageRank mass is conserved up to integer rounding.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LANGS = ["en", "de", "fr", "es", "it", "nl"]
VOCAB = 20_000
N_COLS, N_ROWS = 20, 10  # polygon grid
N_PARTITIONS = 8  # 2 x k for local[4]: every core busy while the input is built


def _h(seed: int, *parts) -> Column:
    """Seeded 64-bit hash of (seed, parts...) as a column."""
    return F.xxhash64(F.lit(int(seed)), *[p if isinstance(p, Column) else F.lit(p) for p in parts])


def _unit(seed: int, *parts) -> Column:
    """Seeded uniform double in [0, 1)."""
    return F.pmod(_h(seed, *parts), F.lit(1 << 30)).cast("double") / float(1 << 30)


def _words(seed: int, src: Column, n_words: int) -> Column:
    ids = [F.pmod(_h(seed, src, "w", i), F.lit(VOCAB)) for i in range(n_words)]
    return F.concat_ws(" ", *[F.concat(F.lit("w"), F.conv(i.cast("string"), 10, 36)) for i in ids])


def pages(
    spark,
    seed: int,
    n_docs: int,
    *,
    n_words: int = 60,
    dup_share: float = 0.0,
) -> DataFrame:
    """Seeded pages DataFrame (see module docstring for the shape)."""
    doc_id = F.col("doc_id")
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(_h(seed, doc_id, "lang"), F.lit(len(LANGS))) + 1).cast("int"),
    )
    src = F.when(_is_dup(seed, doc_id, dup_share), doc_id - 1).otherwise(doc_id)
    extra = F.concat(
        F.lit(" x"), F.conv(F.pmod(_h(seed, doc_id, "x"), F.lit(VOCAB)).cast("string"), 10, 36)
    )
    body = F.concat(
        _words(seed, src, n_words),
        F.when(_is_dup(seed, doc_id, dup_share), extra).otherwise(F.lit("")),
    )
    n_links = (F.pmod(_h(seed, doc_id, "nl"), F.lit(4)) + 1).cast("int")
    links = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), n_links),
            lambda j: F.concat(
                F.lit('<a href="doc://'),
                F.pmod(F.xxhash64(F.lit(int(seed)), doc_id, F.lit("ln"), j), F.lit(n_docs))
                .cast("string"),
                F.lit('">l</a>'),
            ),
        ),
    )
    title = F.concat(F.lit("Doc "), F.col("src").cast("string"))
    html = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body><p>"),
        F.col("body"), F.lit("</p>"), links, F.lit("</body></html>"),
    ).cast("binary")
    url = F.concat(
        F.lit("https://host"), F.pmod(_h(seed, doc_id, "host"), F.lit(997)).cast("string"),
        F.lit(".example/"), F.col("lang"), F.lit(f"/s{int(seed)}/page-"),
        F.lpad(doc_id.cast("string"), 8, "0"),
    )
    warc_ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=F.pmod(_h(seed, doc_id, "ts"), F.lit(31_536_000)).cast("int")
    )
    return (
        spark.range(0, n_docs, 1, N_PARTITIONS)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", lang.alias("lang"), body.alias("body"), src.alias("src"))
        .select(
            "doc_id",
            url.alias("url"),
            warc_ts.alias("warc_ts"),
            html.alias("html"),
            F.concat(title, F.lit("\n"), F.col("body")).alias("text"),
            "lang",
        )
    )


def _is_dup(seed: int, doc_id: Column, dup_share: float) -> Column:
    return (doc_id % 2 == 1) & (_unit(seed, doc_id, "dup") < F.lit(dup_share))


def planted_pairs(spark, seed: int, n_docs: int, dup_share: float) -> DataFrame:
    """(doc_a, doc_b) of every near-dup pair :func:`pages` plants, from the
    same hash expression (no second hash implementation to drift)."""
    doc_id = F.col("id")
    return (
        spark.range(0, n_docs, 1, 4)
        .filter(_is_dup(seed, doc_id, dup_share))
        .select((doc_id - 1).alias("doc_a"), doc_id.alias("doc_b"))
    )


def _centre(seed: int, i: int) -> tuple[float, float]:
    rng = np.random.default_rng([int(seed), 11, i])
    cx = -180.0 + (i % N_COLS + 0.5 + rng.uniform(-0.1, 0.1)) * (360.0 / N_COLS)
    cy = -60.0 + (i // N_COLS + 0.5 + rng.uniform(-0.1, 0.1)) * (140.0 / N_ROWS)
    return round(cx, 4), round(cy, 4)


def polygons(seed: int, n_vertices: int = 24) -> pd.DataFrame:
    """Seeded world-covering jittered polygons ``(region_key, geometry_wkt)``:
    an ``N_COLS`` x ``N_ROWS`` grid of overlapping ``n_vertices``-gons over
    the geocode domain, so most points hit 1-4 candidate polygons."""
    rng = np.random.default_rng([int(seed), 11])
    rows = []
    for i in range(N_COLS * N_ROWS):
        cx, cy = _centre(seed, i)
        base_r = 1.3 * 180.0 / N_COLS
        jit = rng.uniform(0.8, 1.2, size=n_vertices)
        pts = [
            (cx + base_r * jit[v] * math.cos(2 * math.pi * v / n_vertices),
             cy + 0.72 * base_r * jit[v] * math.sin(2 * math.pi * v / n_vertices))
            for v in range(n_vertices)
        ]
        pts.append(pts[0])
        ring = ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts)
        rows.append({"region_key": i, "geometry_wkt": f"POLYGON (({ring}))"})
    return pd.DataFrame(rows)


def sample_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (lon, lat) numpy arrays over the geocode domain, for the
    direct-call layer probes."""
    rng = np.random.default_rng([int(seed), 13])
    return rng.uniform(-180.0, 180.0, n), rng.uniform(-60.0, 80.0, n)
