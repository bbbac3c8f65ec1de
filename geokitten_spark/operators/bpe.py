"""Learned byte-pair-encoding tokenizer (Sennrich et al. 2016,
arXiv:1508.07909) — trained distributed, applied map-only.

Upgrades the repo's regex "BPE-ish" token counting (`functions/text.py`)
to a real learned subword vocabulary, the way production tokenizers are
actually built over web corpora:

* **Training never iterates over the corpus.** BPE learns from the WORD
  FREQUENCY DICTIONARY, not the text: one distributed word-count
  aggregation (map-side combined, 8-byte-ish rows) plus a distributed
  top-V truncation (count desc, word asc — deterministic) collapses
  100 TB to a <=``vocab_words``-row driver table; the merge loop then
  runs driver-side on that dictionary in pure Python with a fixed
  deterministic tie-break (max pair count, then lexicographically
  smallest pair). This is exactly the subword-nmt/sentencepiece shape.
* **Tokenization is one map-only pass**: the learned merge ranks (a few
  hundred string pairs) travel in the UDF closure; an Arrow-batched
  ``pandas_udf`` applies greedy lowest-rank merging per word with a
  per-batch word memo (web text repeats words heavily, so the memo hit
  rate is high). No shuffle; the corpus is touched once.
* **The vocab-stats query** then explodes tokens through ONE counted
  shuffle — the same aggregate shape as every tile rollup here.

The oracle replica re-derives the dictionary through DuckDB (its
tokenization is strict-hash-proven equal to Catalyst's), runs the SAME
pure-Python trainer and tokenizer, and emits a VALUES oracle — integer
counts only, no float discipline needed.

No end-of-word marker is used (tokens are within-word subwords); this
keeps the unit the same as the repo's whitespace word splits.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

__all__ = [
    "bpe_merges",
    "bpe_word",
    "bpe_train",
    "bpe_tokenize",
    "bpe_vocab_stats",
    "bpe_vocab_stats_oracle_rows",
]


# ---------------------------------------------------------------------------
# pure-Python kernel (shared by the Spark UDF and the oracle replica)
# ---------------------------------------------------------------------------

def _apply_merge(syms: tuple, a: str, b: str) -> tuple:
    """Merge every (a, b) occurrence left-to-right — the single apply
    rule shared by training and tokenization so both stay canonical."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_merges(
    word_counts: list[tuple[str, int]], *, n_merges: int = 200
) -> list[tuple[str, str]]:
    """Classic BPE training over a word-frequency dictionary.

    Deterministic: pair statistics are exact integer counts; ties break
    to the lexicographically smallest pair. Stops early when no pair
    occurs twice (merging hapax pairs would just memorize words)."""
    vocab = [(tuple(w), int(c)) for w, c in word_counts if w]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        vocab = [(_apply_merge(s, a, b), c) for s, c in vocab]
    return merges


def bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple:
    """Tokenize one word: repeatedly apply the LOWEST-rank merge present
    (all occurrences at once) until none applies — the GPT-2 greedy rule,
    using the same `_apply_merge` the trainer used."""
    syms = tuple(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _apply_merge(syms, *best_pair)
    return syms


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

# the word split, dictionary query, memoized tokenize UDF and token
# top-k below are shared with the unigram sibling (`operators/unigram.py`),
# which passes its own per-word segmenter

def _words(text_col: str) -> Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def _word_counts(docs: DataFrame, text_col: str, vocab_words: int) -> list:
    """ONE distributed word-count aggregation + top-V truncation (count
    desc, word asc): the collected training dictionary."""
    wc = (
        docs.select(F.explode(_words(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(vocab_words)
        .collect()
    )
    return [(r.w, r.c) for r in wc]


def _tokenize_words(
    docs: DataFrame, segment: Callable[[str], tuple], text_col: str, out_col: str
) -> DataFrame:
    """Map-only Arrow-batched tokenization: Catalyst splits words (the
    same `_words` expression training used), the UDF maps each word
    through ``segment`` with a per-batch word memo."""

    @F.pandas_udf(ArrayType(StringType()))
    def tok(word_lists: pd.Series) -> pd.Series:
        memo: dict[str, tuple] = {}

        def one(words):
            out = []
            for w in words if words is not None else ():
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = segment(w)
                out.extend(got)
            return out

        return word_lists.map(one)

    return docs.withColumn(out_col, tok(_words(text_col)))


def _token_topk(toks: DataFrame, tok_col: str, n_top: int) -> DataFrame:
    """ONE token-count shuffle + distributed top-k: (token, n_occ) by
    (n_occ desc, token)."""
    return (
        toks.select(F.explode(tok_col).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), "token")
        .limit(n_top)
    )


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    vocab_words: int = 10_000,
    n_merges: int = 200,
) -> list[tuple[str, str]]:
    """ONE distributed word-count aggregation + top-V truncation, then
    the driver-side merge loop over the resulting dictionary."""
    return bpe_merges(_word_counts(docs, text_col, vocab_words), n_merges=n_merges)


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Map-only Arrow-batched tokenization; merge ranks ride the closure
    (a few KB), a per-batch word memo amortizes repeated words. The
    WORD SPLIT happens in Catalyst (same `_words` expression training
    used), so the UDF only maps words → subwords and can never diverge
    from the dictionary's tokenization."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return _tokenize_words(docs, lambda w: bpe_word(w, ranks), text_col, out_col)


def bpe_vocab_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    vocab_words: int = 10_000,
    n_merges: int = 200,
    n_top: int = 50,
) -> DataFrame:
    """Train → tokenize → ONE token-count shuffle → distributed top-k.
    Returns (token, n_occ) by (n_occ desc, token)."""
    merges = bpe_train(
        docs, text_col=text_col, vocab_words=vocab_words, n_merges=n_merges
    )
    toks = bpe_tokenize(docs, merges, text_col=text_col)
    return _token_topk(toks, "bpe_tokens", n_top)


# ---------------------------------------------------------------------------
# oracle replica (independent path: DuckDB dictionary + the pure kernel)
# ---------------------------------------------------------------------------

def bpe_vocab_stats_oracle_rows(
    sf_dir: str,
    *,
    vocab_words: int = 10_000,
    n_merges: int = 200,
    n_top: int = 50,
) -> list[tuple]:
    """Expected (token, n_occ) rows computed WITHOUT Spark: word counts
    and the word→doc-frequency dictionary via DuckDB, training and
    tokenization via the same pure-Python kernel. Integer-exact."""
    from ..oracles import _duck

    con = _duck(sf_dir)
    wc = con.sql(
        f"""
        SELECT w, count(*) AS c FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ) WHERE w != '' GROUP BY 1 ORDER BY c DESC, w LIMIT {vocab_words}
        """
    ).fetchall()
    merges = bpe_merges([(w, c) for w, c in wc], n_merges=n_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    # full-corpus token counts: tokenize each distinct word once, then
    # weight by its total corpus count (equivalent to per-doc tokenize)
    all_wc = con.sql(
        """
        SELECT w, count(*) AS c FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ) WHERE w != '' GROUP BY 1
        """
    ).fetchall()
    counts: Counter = Counter()
    for w, c in all_wc:
        for t in bpe_word(w, ranks):
            counts[t] += c
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n_top]
    return [(t, int(c)) for t, c in rows]
