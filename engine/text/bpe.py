"""Mini byte-pair-encoding (BPE) tokenizer — the train-on-sample /
broadcast-apply shape every large-scale LLM data pipeline uses
(tokenizers are trained offline on a bounded sample, then applied
embarrassingly-parallel to the full corpus).

Train (driver-side, bounded): classic Sennrich-style BPE over
whitespace pre-tokens with an end-of-word marker.  Fully deterministic:
each round merges the most-frequent adjacent symbol pair, ties broken
to the lexicographically smallest pair; training input is an
ORDER-BY-id LIMIT-k sample, so the learned merge table is independent
of partitioning / parallelism / resume.

Apply (distributed): the merge-rank table is broadcast and applied via
one Arrow-batched mapInPandas — zero shuffle, no driver involvement,
per-batch word memoization (corpora are Zipfian, so the cache hit rate
dominates).  Per-doc output is exact-integer: word count, BPE token
count, and an FNV-1a-32 rolling hash over the token byte stream
(any tokenization drift — merge order, tie-break, apply order —
changes the hash).

Scale: training cost is bounded by the sample (like the PQ codebook's
2,048-row sample, engine/ml/ann.py); apply touches each row once with
no shuffle, which is the 100 TB-correct plan for tokenization.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from engine.localdf import local_df

END = ""  # end-of-word marker; never occurs in corpus text

_FNV_OFF = 2166136261
_FNV_PRIME = 16777619
_M32 = 0xFFFFFFFF


def bpe_train(texts: Iterable[str], n_merges: int = 160
              ) -> list[tuple[str, str]]:
    """Learn up to `n_merges` merges.  Deterministic: max count, then
    lexicographically smallest (a, b).  Stops early when no pair occurs
    at least twice (merging hapax pairs only memorizes the sample)."""
    return [(a, b) for a, b, _cnt in bpe_train_full(texts, n_merges)]


def bpe_train_full(texts: Iterable[str], n_merges: int = 160
                   ) -> list[tuple[str, str, int]]:
    """bpe_train with each merge's count at merge time — the sequential
    reference the distributed trainer must reproduce exactly."""
    words: Counter = Counter()
    for t in texts:
        for w in t.split():
            words[tuple(w) + (END,)] += 1
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        ab = a + b
        nxt: Counter = Counter()
        for sym, c in words.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt[tuple(out)] += c
        words = nxt
    return merges


def bpe_tokenize_word(word: str, ranks: dict[tuple[str, str], int]
                      ) -> list[str]:
    """Apply merges to one word: repeatedly merge ALL occurrences of the
    lowest-rank pair present (left-to-right), until none applies.
    Invariant: ''.join(tokens) == word + END always."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, a, b = None, None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, a, b = r, sym[i], sym[i + 1]
        if best_rank is None:
            break
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def doc_token_stats(text: str, ranks: dict[tuple[str, str], int],
                    cache: dict | None = None) -> tuple[int, int, int]:
    """(n_words, n_bpe_tokens, tok_hash) for one doc — the pure kernel
    shared by the Spark apply and the pytest oracle's recomputation."""
    if cache is None:
        cache = {}
    nw = nt = 0
    h = _FNV_OFF
    for w in text.split():
        nw += 1
        toks = cache.get(w)
        if toks is None:
            toks = bpe_tokenize_word(w, ranks)
            cache[w] = toks
        nt += len(toks)
        for t in toks:
            for ch in t.encode("utf-8"):
                h = ((h ^ ch) * _FNV_PRIME) & _M32
            h = (h * _FNV_PRIME) & _M32  # token separator
    return nw, nt, h


def bpe_ranks(merges: Sequence[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {tuple(p): i for i, p in enumerate(merges)}


def bpe_stats(docs: DataFrame, n_merges: int = 160, sample: int = 256,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Train on the first `sample` docs by id (deterministic global
    top-k — TakeOrderedAndProject, no full sort), broadcast the merge
    ranks, tokenize the whole corpus in one Arrow-batched pass.

    Output: (doc_id, n_words, n_bpe_tokens, tok_hash)."""
    sample_rows = (docs.select(id_col, text_col)
                   .orderBy(id_col).limit(int(sample)).collect())
    merges = bpe_train([r[1] for r in sample_rows], n_merges=n_merges)
    ranks = bpe_ranks(merges)
    bc = docs.sparkSession.sparkContext.broadcast(ranks)

    def apply_batches(it):
        rk = bc.value
        cache: dict = {}
        for pdf in it:
            rows = [(did,) + doc_token_stats(txt or "", rk, cache)
                    for did, txt in zip(pdf[id_col], pdf[text_col])]
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_bpe_tokens",
                               "tok_hash"])

    return docs.select(id_col, text_col).mapInPandas(
        apply_batches,
        "doc_id long, n_words int, n_bpe_tokens int, tok_hash long")


def _merge_word(sym: list, a: str, b: str) -> list:
    """Left-to-right non-overlapping merge of (a, b) — the one kernel
    shared by the sequential trainer, the tokenizer, and the
    distributed trainer's per-round apply."""
    out, i = [], 0
    ab = a + b
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def bpe_train_dist(docs: DataFrame, n_merges: int = 40,
                   text_col: str = "text") -> DataFrame:
    """DISTRIBUTED BPE training over the FULL corpus — the scale path
    beside bpe_stats' bounded-sample trainer: merge statistics come
    from every row, not a driver-side sample, yet the learned table is
    bit-identical to the sequential reference (bpe_train_full) because
    every step is an exact global aggregate with a total tie-break
    (max count, then lexicographically smallest pair).

    -> (rank int, left string, right string, pair_count long).

    Scale shape per round (n_merges rounds total):
      1. adjacent-pair counts: a native transform/explode over the
         WORD-FORM table (vocab-sized — the corpus collapses to
         (word, n) once, up front) + one map-side-combined agg;
      2. global argmax: orderBy desc(count), asc(pair) LIMIT 1 — a
         TakeOrdered of ONE row (the only driver traffic per round);
      3. merge apply: one Arrow-batched mapInPandas over the word
         table, no shuffle.
    The word table is localCheckpointed per round to keep lineage flat
    (the pagerank/CC pattern).  Cost: O(rounds * vocab), independent
    of corpus row count after the initial word count — the property
    that makes whole-corpus training feasible at 10^12 rows."""
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    words = (docs.select(F.explode(F.split(F.col(text_col), r"\s+"))
                         .alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").agg(F.count("*").cast("long").alias("n"))
             .selectExpr(
                 f"concat(transform(split(w, ''), c -> c), "
                 f"array('{END}')) AS syms", "n")
             .localCheckpoint(eager=True))

    out: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        # adjacent pairs as zip_with(tail-less, head-less) — total for
        # every array size (a fully-merged 1-symbol word yields []),
        # unlike sequence(0, size-2) which DESCENDS at size 1 and
        # indexes out of bounds inside the fused filter codegen
        pairs = (words.selectExpr(
            "n",
            "zip_with(slice(syms, 1, size(syms) - 1), "
            "slice(syms, 2, size(syms) - 1), "
            "(a, b) -> struct(a AS a, b AS b)) AS ps")
            .select(F.explode("ps").alias("p"), "n")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt")))
        top = (pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        out.append((rank, a, b, cnt))

        def apply_batches(it, _a=a, _b=b):
            for pdf in it:
                pdf = pdf.copy()
                pdf["syms"] = [_merge_word(list(s), _a, _b)
                               for s in pdf["syms"]]
                yield pdf

        words = (words.mapInPandas(apply_batches,
                                   "syms array<string>, n long")
                 .localCheckpoint(eager=False))

    return local_df(
        spark, out, "rank int, left string, right string, pair_count long")
