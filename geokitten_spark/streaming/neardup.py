"""Incremental (streaming) SimHash near-dup detection.

The batch lane (`operators/dedup.py:simhash_neardup`) finds all pairs in
a static corpus; a crawl ingests continuously, and the production
question is "is THIS new page a near-dup of anything seen so far?". This
operator answers it incrementally with ``applyInPandasWithState``:

* the stream carries (doc_id, 60-bit simhash) banded by the batch
  lane's slicer ``operators/dedup.py:bit_slices`` (whose slices the
  batch lane's one candidate generator, ``banded_self_join``, joins
  on; any pair within Hamming <= bands-1 agrees exactly on >= 1
  slice), so the state is keyed by (band, slice-value) and each
  bucket holds only the fingerprints that ever hashed there — state
  size is O(corpus / n_buckets) per key and ONLY (id, int64) pairs,
  never text;
* within a group call rows are processed in doc_id order and compared
  against all earlier fingerprints in the bucket; matches emit
  (doc_id, band, dup_of = smallest earlier match).

Determinism contract: verdicts equal the batch pair set whenever
arrival order is id-monotone across microbatches (true for append-only
crawl logs and for the fixture: originals land before their mutated
copies). Under that contract the final per-doc verdict table is exactly
"doc_b of some batch pair" — which is what the DuckDB twin computes
from the SAME banded-pair SQL the batch lane is hash-proven against.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["simhash_banded_stream", "neardup_flags_stream"]


def simhash_banded_stream(
    docs: DataFrame, *, bands: int = 4, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text) stream -> (doc_id, sim, band, bkey) stream with the
    SAME fingerprint + slicing expressions as the batch lane (pure
    Catalyst — streaming-safe, no state)."""
    from ..operators.dedup import SIM_BITS, bit_slices, simhash_col

    # banded_self_join's slicing without its join or its barrier:
    # localCheckpoint cannot take a stream
    sh = docs.select(
        F.col(id_col).alias("doc_id"), simhash_col(F.col(text_col)).alias("sim")
    )
    slices = bit_slices(F.col("sim"), SIM_BITS, bands)
    return sh.select("doc_id", "sim", F.posexplode(slices).alias("band", "bkey"))


def neardup_flags_stream(
    banded: DataFrame, *, max_hamming: int = 3
) -> DataFrame:
    """Stateful core: per (band, bkey) bucket, flag each fingerprint
    against every EARLIER one in the bucket. Emits (doc_id, band,
    dup_of) rows for matches only; state is two parallel int64 arrays
    per bucket."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band", IntegerType()),
            StructField("dup_of", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("sims", ArrayType(LongType())),
        ]
    )

    def update(key, pdfs, state):
        ids, sims = ([], [])
        if state.exists:
            got_ids, got_sims = state.get
            ids, sims = list(got_ids), list(got_sims)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("doc_id", ignore_index=True)
        out_id, out_dup = [], []
        band = int(key[0])
        for doc_id, sim in zip(rows["doc_id"], rows["sim"]):
            doc_id = int(doc_id)
            sim = int(sim)
            best = None
            for i, s in zip(ids, sims):
                if i < doc_id and bin((s ^ sim) & ((1 << 64) - 1)).count("1") <= max_hamming:
                    best = i if best is None or i < best else best
            if best is not None:
                out_id.append(doc_id)
                out_dup.append(best)
            ids.append(doc_id)
            sims.append(sim)
        state.update((ids, sims))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out_id, dtype="int64"),
                "band": pd.array([band] * len(out_id), dtype="int32"),
                "dup_of": pd.array(out_dup, dtype="int64"),
            }
        )

    return banded.groupBy("band", "bkey").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
