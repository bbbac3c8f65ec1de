"""Unigram-LM subword tokenizer (Kudo 2018, arXiv:1804.10959 — the
SentencePiece unigram model) — trained distributed, applied map-only.

The BPE sibling (`operators/bpe.py`) learns merges bottom-up; the
unigram model goes top-down: seed a large candidate-piece inventory,
EM-fit piece probabilities with Viterbi segmentations, prune to the
target vocabulary, and tokenize by maximum-likelihood segmentation.
Production pipelines ship both — Llama/T5-style tokenizers are unigram.

Scale shape (identical to BPE on purpose):

* **Training never iterates over the corpus.** One distributed
  word-count aggregation (map-side combined) + a distributed top-V
  truncation (count desc, word asc — deterministic) collapses 100 TB
  to a <=``vocab_words``-row driver dictionary; seeding, EM, and
  pruning run driver-side in pure Python on that dictionary.
* **Tokenization is one map-only pass**: the learned piece log-probs
  (a few KB) ride the UDF closure; an Arrow-batched ``pandas_udf``
  Viterbi-segments each word with a per-batch memo. No shuffle.
* **The vocab-stats query** explodes tokens through ONE counted
  shuffle + distributed top-k.

Determinism: EM scores are IEEE doubles but BOTH the Spark path and the
oracle replica run the SAME pure-Python trainer on the SAME dictionary
(Spark's and DuckDB's word counts are integer-exact and proven equal by
the BPE lane), so the learned vocab is bit-identical; the emitted
statistics are integer counts only.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame

from .bpe import _token_topk, _tokenize_words, _word_counts

__all__ = [
    "unigram_train",
    "viterbi_segment",
    "unigram_train_spark",
    "unigram_tokenize",
    "unigram_vocab_stats",
    "unigram_vocab_stats_oracle_rows",
]

_UNK_LOGP = -100.0  # per-char fallback so segmentation always completes


# ---------------------------------------------------------------------------
# pure-Python kernel (shared by the Spark UDF and the oracle replica)
# ---------------------------------------------------------------------------

def viterbi_segment(word: str, logp: dict[str, float], max_len: int) -> tuple:
    """Maximum-likelihood segmentation of one word under piece
    log-probs. DP over end positions; at equal score the LONGER last
    piece wins (then the lexicographically smaller one) — a total,
    deterministic order. Characters absent from the vocab segment as
    single-char pieces at ``_UNK_LOGP``."""
    n = len(word)
    best: list[tuple[float, int]] = [(0.0, 0)] + [(-math.inf, 0)] * n
    for end in range(1, n + 1):
        cand: tuple | None = None
        for ln in range(1, min(max_len, end) + 1):
            start = end - ln
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = _UNK_LOGP
            score = best[start][0] + lp
            if score == -math.inf:
                continue
            key = (score, ln, piece)
            if cand is None or (key[0], key[1]) > (cand[0], cand[1]) or (
                key[0] == cand[0] and key[1] == cand[1] and piece < cand[2]
            ):
                cand = key
        best[end] = (cand[0], cand[1]) if cand else (-math.inf, 1)
    out = []
    end = n
    while end > 0:
        ln = best[end][1]
        out.append(word[end - ln : end])
        end -= ln
    return tuple(reversed(out))


def unigram_train(
    word_counts: list[tuple[str, int]],
    *,
    max_piece_len: int = 6,
    seed_size: int = 2000,
    vocab_size: int = 400,
    em_iters: int = 2,
) -> dict[str, float]:
    """Seed -> EM -> prune over a word-frequency dictionary.

    Seed = the ``seed_size`` most frequent substrings (len 2..L) plus
    ALL single chars (coverage guarantee); each EM sweep Viterbi-
    segments every dictionary word and re-estimates piece probs from
    usage; pruning keeps the ``vocab_size`` highest-usage multi-char
    pieces plus all single chars, then one final sweep renormalizes.
    All tie-breaks are (count desc, piece asc) — fully deterministic."""
    wc = [(w, int(c)) for w, c in word_counts if w]
    subs: Counter = Counter()
    chars: set[str] = set()
    for w, c in wc:
        chars.update(w)
        for i in range(len(w)):
            for j in range(i + 2, min(i + max_piece_len, len(w)) + 1):
                subs[w[i:j]] += c
    seeded = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    total = float(sum(c for _, c in seeded)) + len(chars)
    logp = {p: math.log(c / total) for p, c in seeded}
    for ch in chars:
        logp.setdefault(ch, math.log(1.0 / total))

    def em_sweep(cur: dict[str, float]) -> Counter:
        usage: Counter = Counter()
        for w, c in wc:
            for piece in viterbi_segment(w, cur, max_piece_len):
                usage[piece] += c
        return usage

    for _ in range(em_iters):
        usage = em_sweep(logp)
        tot = float(sum(usage.values()))
        logp = {p: math.log(c / tot) for p, c in usage.items()}
        for ch in chars:
            logp.setdefault(ch, math.log(0.5 / tot))

    usage = em_sweep(logp)
    multi = sorted(
        ((p, c) for p, c in usage.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:vocab_size]
    kept = {p for p, _ in multi} | chars
    usage = Counter({p: c for p, c in usage.items() if p in kept})
    tot = float(sum(usage.values()))
    final = {p: math.log(c / tot) for p, c in usage.items()}
    for ch in chars:
        final.setdefault(ch, math.log(0.5 / tot))
    return final


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def unigram_train_spark(
    docs: DataFrame,
    *,
    text_col: str = "text",
    vocab_words: int = 10_000,
    max_piece_len: int = 6,
    seed_size: int = 2000,
    vocab_size: int = 400,
    em_iters: int = 2,
) -> dict[str, float]:
    """ONE distributed word-count aggregation + top-V truncation, then
    the driver-side trainer over the resulting dictionary."""
    return unigram_train(
        _word_counts(docs, text_col, vocab_words),
        max_piece_len=max_piece_len,
        seed_size=seed_size,
        vocab_size=vocab_size,
        em_iters=em_iters,
    )


def unigram_tokenize(
    docs: DataFrame,
    logp: dict[str, float],
    *,
    text_col: str = "text",
    out_col: str = "uni_tokens",
    max_piece_len: int = 6,
) -> DataFrame:
    """Map-only Arrow-batched Viterbi tokenization; the vocab rides the
    closure, a per-batch word memo amortizes repeats. Word splitting is
    the SAME Catalyst expression training used."""
    return _tokenize_words(
        docs, lambda w: viterbi_segment(w, logp, max_piece_len), text_col, out_col
    )


def unigram_vocab_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_top: int = 50,
    **train_kw,
) -> DataFrame:
    """Train → tokenize → ONE token-count shuffle → distributed top-k.
    Returns (token, n_occ) by (n_occ desc, token)."""
    logp = unigram_train_spark(docs, text_col=text_col, **train_kw)
    toks = unigram_tokenize(docs, logp, text_col=text_col)
    return _token_topk(toks, "uni_tokens", n_top)


# ---------------------------------------------------------------------------
# oracle replica (independent path: DuckDB dictionary + the pure kernel)
# ---------------------------------------------------------------------------

def unigram_vocab_stats_oracle_rows(
    sf_dir: str, *, n_top: int = 50, **train_kw
) -> list[tuple]:
    """Expected (token, n_occ) rows computed WITHOUT Spark: the word
    dictionary via DuckDB, training and tokenization via the same pure
    kernel; distinct words tokenized once and weighted by count."""
    from ..oracles import _duck

    con = _duck(sf_dir)
    all_wc = con.sql(
        """
        SELECT w, count(*) AS c FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
            FROM documents
        ) WHERE w != '' GROUP BY 1 ORDER BY c DESC, w
        """
    ).fetchall()
    vocab_words = train_kw.pop("vocab_words", 10_000)
    max_piece_len = train_kw.get("max_piece_len", 6)
    logp = unigram_train([(w, c) for w, c in all_wc[:vocab_words]], **train_kw)
    counts: Counter = Counter()
    for w, c in all_wc:
        for t in viterbi_segment(w, logp, max_piece_len):
            counts[t] += c
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n_top]
    return [(t, int(c)) for t, c in rows]
