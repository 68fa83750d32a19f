"""D8 + text ops + dedup + ANN against driver testdata / local oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import engine.graph as graph
from engine.ml.ann import cosine_near_dup_pairs, cosine_topk, lsh_topk
from engine.relops import asof_join
from engine.text import dedup as dd
from engine.text.ops import (
    STOPWORDS, with_fingerprint, with_langid, with_quality,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ------------------------------------------------------------------ asof

def test_asof_join_matches_pandas(spark, events):
    clicks = events.filter(F.col("event_type") == "click") \
        .select("event_id", "ts", "user_id", "value")
    buys = events.filter(F.col("event_type") == "purchase") \
        .select("ts", "user_id", F.col("value").alias("buy_value"))
    got = asof_join(clicks, buys, on="ts", by="user_id")
    gpd = got.toPandas().sort_values("event_id").reset_index(drop=True)

    cp = clicks.toPandas().sort_values("ts", kind="mergesort")
    bp = buys.toPandas().sort_values("ts", kind="mergesort")
    want = pd.merge_asof(cp, bp.rename(columns={"ts": "ts_r"}),
                         left_on="ts", right_on="ts_r", by="user_id",
                         direction="backward")
    want = want.sort_values("event_id").reset_index(drop=True)
    assert len(gpd) == len(want)
    pd.testing.assert_series_equal(gpd["buy_value"], want["buy_value"],
                                   check_names=False)
    pd.testing.assert_series_equal(gpd["ts_r"], want["ts_r"], check_names=False)


# ------------------------------------------------------------------ text

def test_quality_and_langid_columns(spark, docs):
    out = with_langid(with_quality(docs)).limit(50).collect()
    for r in out:
        toks = r.text.split(" ")
        assert r.n_tokens == len(toks)
        assert r.char_len == len(r.text)
        want_stop = sum(t in STOPWORDS for t in toks) / len(toks)
        assert abs(r.stop_frac - round(want_stop, 6)) < 1e-9
        nospace = r.text.replace(" ", "").lower()
        want_vowel = sum(c in "aeiou" for c in nospace) / len(nospace)
        assert abs(r.vowel_frac - round(want_vowel, 6)) < 1e-6
        assert r.lang_pred in ("vowelic", "balanced", "consonantal")


def test_fingerprint_matches_python(spark, docs):
    out = with_fingerprint(docs).select("doc_id", "text", "fingerprint") \
        .limit(30).collect()
    for r in out:
        acc = 0
        for ch in r.text:
            acc = (acc * 31 + ord(ch)) % 2147483647
        assert r.fingerprint == acc


# ----------------------------------------------------------------- dedup

def _dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (3, "the quick brown fox jumped over the lazy dog"),         # near dup
        (4, "a completely different sentence about spark engines"),
        (5, "another unrelated string with its own words entirely"),
        (6, "the quick brown fox jumps over a lazy dog"),            # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_exact_dedup(spark):
    df, rows = _dup_docs(spark)
    got = {(r.rep_id, r.dup_count) for r in
           dd.exact_dedup(df, ["text"]).collect()}
    assert (1, 2) in got
    assert len(got) == 5


def test_minhash_signature_udf_matches_oracle(spark):
    df, rows = _dup_docs(spark)
    sig_df = df.select("doc_id", dd.make_minhash_udf()(F.col("text")).alias("sig"))
    for r in sig_df.collect():
        text = dict(rows)[r.doc_id]
        assert list(r.sig) == dd.minhash_signature(text)


def test_minhash_dedup_finds_near_dups(spark):
    df, _ = _dup_docs(spark)
    pairs = {(r.id_a, r.id_b) for r in
             dd.minhash_dedup(df, threshold=0.6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (1, 6) in pairs
    assert all(a < b for a, b in pairs)
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_simhash_near_dups(spark):
    df, rows = _dup_docs(spark)
    sim_by_id = {i: dd.simhash64(t) for i, t in rows}
    got = {(r.id_a, r.id_b): r.hamming for r in
           dd.simhash_near_dups(df, max_dist=10).collect()}
    assert (1, 2) in got and got[(1, 2)] == 0
    for (a, b), h in got.items():
        want = bin((sim_by_id[a] ^ sim_by_id[b]) & ((1 << 64) - 1)).count("1")
        assert h == want


def test_ngram_jaccard_vs_query(spark):
    df, rows = _dup_docs(spark)
    got = {r.doc_id: r.jaccard for r in
           dd.ngram_jaccard_vs_query(df, 1, n=3).collect()}
    assert got[1] == 1.0 and got[2] == 1.0
    assert 0 < got[3] < 1.0
    assert got[4] == 0.0


# ------------------------------------------------------------------- ann

def test_cosine_topk_matches_numpy(spark, embs):
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    q = mat[0].astype(np.float64).tolist()
    k = 10
    got = cosine_topk(embs, q, k).collect()
    sims = (mat.astype(np.float64) @ np.asarray(q)) / (
        np.linalg.norm(mat.astype(np.float64), axis=1) * np.linalg.norm(q))
    order = sorted(zip(np.round(sims, 6), -pdf["vec_id"]), reverse=True)[:k]
    want_ids = [int(-v) for _, v in order]
    assert [r.vec_id for r in got] == want_ids
    assert got[0].vec_id == int(pdf["vec_id"].iloc[0])
    assert abs(got[0].cos_sim - 1.0) < 1e-6


def test_lsh_topk_recall(spark, embs):
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    recalls = []
    for qi in (0, 7, 21):
        q = mat[qi].astype(np.float64).tolist()
        exact = {r.vec_id for r in cosine_topk(embs, q, 10).collect()}
        approx = {r.vec_id for r in
                  lsh_topk(embs, q, 10, bits=6, probe_radius=3).collect()}
        recalls.append(len(exact & approx) / 10)
    # radius-3 probing on 6 bits scans ~65% of buckets; recall must beat
    # the scanned fraction (locality) and the query itself must be found
    assert np.mean(recalls) >= 0.7


def test_cosine_near_dup_exact_vs_lsh(spark):
    r = np.random.default_rng(3)
    base = r.normal(size=(20, 16))
    near = base[:5] + r.normal(0, 0.01, (5, 16))   # near-dups of rows 0-4
    mat = np.concatenate([base, near]).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(25, dtype=np.int64),
                        "embedding": [v.tolist() for v in mat]})
    df = spark.createDataFrame(pdf)
    exact = {(r.id_a, r.id_b) for r in
             cosine_near_dup_pairs(df, 0.99, exact=True).collect()}
    assert {(i, i + 20) for i in range(5)} <= exact
    approx = {(r.id_a, r.id_b) for r in
              cosine_near_dup_pairs(df, 0.99, bits=6, dim=16).collect()}
    assert approx <= exact
    assert len(approx & {(i, i + 20) for i in range(5)}) >= 3


def test_connected_components_min_label(spark, monkeypatch):
    """CC over a known graph: chain 1-2-3-4 plus pair (10,11) plus the
    chain's bridge to 0 — every node must land on the min reachable id,
    exercising multi-hop propagation (diameter 4), on the bounded-collect
    finish and on the distributed rounds."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (0, 4)], "id_a long, id_b long")
    for small_rows in (graph._SMALL_CC_ROWS, 0):
        monkeypatch.setattr(graph, "_SMALL_CC_ROWS", small_rows)
        got = {r.id: r.cluster_id for r in
               graph.connected_components(pairs).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10}, \
            small_rows


def test_dedup_clusters_keep_one_per_cluster(spark):
    """dedup_clusters end-to-end: 3 exact copies of doc A and 2 of doc B
    (long unique bodies), plus unique docs -> copies share a cluster id,
    each cluster has exactly one representative, singletons are their own
    rep."""
    from pyspark.sql import functions as F
    a = "alpha bravo charlie delta echo foxtrot golf hotel india " * 8
    b = "zulu yankee xray whiskey victor uniform tango sierra " * 8
    rows = [(0, a), (1, a), (2, a), (10, b), (11, b),
            (20, "completely unrelated single document body " * 10),
            (21, "another singleton with its own unique words " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.cluster_id, r.is_rep) for r in
           dd.dedup_clusters(df, threshold=0.8).collect()}
    assert {k: v[0] for k, v in got.items()} == {
        0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20, 21: 21}
    assert sorted(k for k, v in got.items() if v[1]) == [0, 10, 20, 21]


def test_lsh_degenerate_bucket_guard_bounds_candidates(spark):
    """r2 VERDICT #5: a pathological corpus (10^4 IDENTICAL docs) must not
    produce a quadratic within-bucket self-join (~5*10^7 pairs).  With the
    guard, every band collapses the single signature cluster to its
    representative: exactly n-1 linear (rep, member) candidate pairs, all
    verified at Jaccard 1 / Hamming 0, so the full duplicate cluster is
    still recoverable through the rep by transitivity."""
    from pyspark.sql import functions as F
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact document body repeated four times " * 4)
        .alias("text"))
    pairs = dd.lsh_candidate_pairs(df, max_bucket=1000)
    rows = pairs.collect()
    assert len(rows) == n - 1
    assert all(r.id_a == 0 for r in rows)  # rep = min id
    verified = dd.minhash_dedup(df, threshold=0.9, max_bucket=1000)
    assert verified.count() == n - 1
    sims = dd.simhash_near_dups(df, max_dist=3, max_bucket=1000)
    assert sims.count() == n - 1
    stats = dd.oversized_bucket_stats(df, max_bucket=1000).collect()
    assert len(stats) == 8  # one oversized bucket per band
    assert all(s.bucket_size == n and s.n_signatures == 1 for s in stats)


def test_lsh_guard_is_identity_below_the_cap(spark, sf_dir):
    """Small buckets take the exact all-pairs path: guarded and unguarded
    candidate sets are identical on the driver fixture (which is how the
    dedup_minhash/dedup_simhash oracles stay valid)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    guarded = {(r.id_a, r.id_b) for r in
               dd.lsh_candidate_pairs(docs, max_bucket=4096).collect()}
    unguarded = {(r.id_a, r.id_b) for r in
                 dd.lsh_candidate_pairs(docs, max_bucket=None).collect()}
    assert guarded == unguarded
    g2 = {(r.id_a, r.id_b, r.hamming) for r in
          dd.simhash_near_dups(docs, max_dist=3, max_bucket=4096).collect()}
    u2 = {(r.id_a, r.id_b, r.hamming) for r in
          dd.simhash_near_dups(docs, max_dist=3, max_bucket=None).collect()}
    assert g2 == u2


def test_planted_duplicate_margins_back_the_recall_theorem(spark, sf_dir):
    """q_ann_lsh_topk / q_ann_ivf_topk hash-check recall 1 on planted
    exact copies of the query vector.  The 'theorem' needs two margins to
    dominate float32-round-trip noise (~1e-7) and cross-host libm ULP:
    (a) every LSH hyperplane dot |q.p| is far from 0 (no signature bit can
    flip), and (b) the query's best-vs-second IVF centroid gap is wide (no
    assignment/probe flip).  Also: every natural cosine stays far below
    the planted cos 1.0."""
    import numpy as np

    import __spark_entry__ as em
    from engine.ml.ann import ivf_train

    q = np.asarray(em.QVEC, np.float64)
    rng = np.random.default_rng(42)
    planes = rng.normal(size=(64, 8))
    margins = np.abs(q @ planes)
    assert margins.min() > 1e-3, f"LSH plane margin too thin: {margins.min()}"

    emb = em._emb_with_planted(spark, sf_dir)
    cents = ivf_train(emb, 16, dim=64)
    dots = np.sort(cents @ (q / np.linalg.norm(q)))[::-1]
    assert dots[0] - dots[1] > 1e-3, f"IVF centroid gap too thin: {dots[0]-dots[1]}"

    import pandas as pd
    nat = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    m = np.stack(nat["embedding"].map(np.asarray)).astype(np.float64)
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    assert cos.max() < 0.9, f"natural cos too close to planted 1.0: {cos.max()}"


def test_emb_near_dup_lsh_equals_exact_on_driver_fixture(spark, sf_dir):
    """The driver key emb_near_dup runs exact=True (r2 ADVICE: LSH parity
    at other sfs was a fixture property, not a theorem); this pins that
    the SCALABLE LSH path still reproduces the exact output on the driver
    fixture, so the path split stays a verification decision, not an
    accuracy regression."""
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    df = emb.unionByName(dups)
    exact = {(r.id_a, r.id_b, r.cos_sim) for r in
             cosine_near_dup_pairs(df, 0.95, exact=True).collect()}
    lsh = {(r.id_a, r.id_b, r.cos_sim) for r in
           cosine_near_dup_pairs(df, 0.95, bits=8, dim=64).collect()}
    assert lsh == exact


def test_minhash_verify_shingles_match_lsh_on_non_ascii(spark):
    # ADVICE r1: LSH candidates and the exact-Jaccard verify must hash the
    # SAME shingle definition (utf-8 byte windows) or recall is measured
    # against a different similarity than the threshold applies on any
    # non-ASCII text.
    base = "café münchen naïve façade œuvre " * 20
    rows = [(1, base), (2, base), (3, base.replace("café", "thé")),
            (4, "совершенно другой текст без общих элементов " * 15)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           dd.minhash_dedup(df, threshold=0.6).collect()}
    assert got[(1, 2)] == 1.0            # identical non-ASCII docs
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert not any(4 in p for p in got)
    # UDF shingles == oracle-form byte-window kernel on non-ASCII text
    sh_df = df.select("doc_id", dd.make_shingle_udf()(F.col("text")).alias("sh"))
    for r in sh_df.collect():
        want = dd._shingle_ids(dict(rows)[r.doc_id]).astype("int64")
        assert sorted(r.sh) == sorted(want.tolist())


def test_ivf_topk_recall_and_determinism(spark, embs):
    from engine.ml.ann import cosine_topk, ivf_topk, ivf_train
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    cents = ivf_train(embs, 16, dim=mat.shape[1])
    cents2 = ivf_train(embs, 16, dim=mat.shape[1])
    assert np.allclose(cents, cents2)  # deterministic train (seeded, id-ordered sample)
    recalls = []
    for qi in (0, 7, 21):
        q = mat[qi].astype(np.float64).tolist()
        exact = {r.vec_id for r in cosine_topk(embs, q, 10).collect()}
        approx = {r.vec_id for r in
                  ivf_topk(embs, q, 10, cents, n_probe=4).collect()}
        recalls.append(len(exact & approx) / 10)
    # probing 4/16 cells scans ~25% of rows; cosine-locality of the cells
    # must beat the scanned fraction, and the query point itself (a table
    # row) must be found in its own cell
    assert np.mean(recalls) >= 0.5


def test_token_counts_match_python_re(spark, docs):
    import re
    from engine.text.ops import BPE_SPLIT_RE, with_token_counts
    pat = re.compile(BPE_SPLIT_RE)
    out = with_token_counts(docs).limit(50).collect()
    for r in out:
        assert r.n_tokens_ws == len(r.text.split(" "))
        assert r.n_pretokens == len(pat.findall(r.text))
        want = round(len(r.text.replace(" ", "")) / r.n_pretokens, 6)
        assert abs(r.chars_per_pretoken - want) < 1e-9


# ----------------------------------------------------- length buckets


def test_length_buckets_matches_python_oracle(spark):
    """Exact equal-depth arithmetic, tie coherence, monotonicity, and
    repartition stability vs a sequential reference."""
    import numpy as np
    from engine.text.ops import length_buckets
    rng = np.random.default_rng(31)
    lens = rng.integers(1, 40, 900)
    rows = [(i, " ".join("w" for _ in range(int(n)))) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(11)
    got = {r.doc_id: (r.n_tokens_ws, r.bucket)
           for r in length_buckets(df, n_buckets=8).collect()}
    # sequential reference: same histogram formula
    order = sorted(range(len(lens)), key=lambda i: lens[i])
    total = len(lens)
    cum = {}
    c = 0
    for i in order:
        c += 1
        cum[int(lens[i])] = c  # last position of each length group
    want = {i: (int(lens[i]), 1 + (cum[int(lens[i])] - 1) * 8 // total)
            for i in range(len(lens))}
    assert got == want
    buckets = [got[i][1] for i in order]
    assert buckets == sorted(buckets)          # monotone in length
    assert set(buckets) == set(range(1, 9))    # all 8 buckets populated


def test_length_buckets_is_broadcast_join(spark, sf_dir):
    from engine.text.ops import length_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = length_buckets(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------- batch cosine top-k

def test_batch_topk_matches_per_query_topk(spark):
    # the batch operator must reproduce cosine_topk run one query at a
    # time (same rounding and tie discipline)
    import numpy as np
    from engine.ml.ann import batch_cosine_topk, cosine_topk
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)])
            for i in range(60)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id < 4").selectExpr("vec_id AS qid",
                                             "embedding")
    got = {}
    for r in batch_cosine_topk(emb, qs, k=3).collect():
        got.setdefault(r.qid, []).append((r.rank, r.vec_id, r.cos_sim))
    for qid, qvec in [(i, v) for i, v in rows[:4]]:
        want = [(j + 1, r.vec_id, r.cos_sim) for j, r in
                enumerate(cosine_topk(emb, qvec, 3).collect())]
        assert sorted(got[qid]) == want


def test_batch_topk_self_match_ranks_first(spark):
    import numpy as np
    from engine.ml.ann import batch_cosine_topk
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=6)])
            for i in range(30)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id < 5").selectExpr("vec_id AS qid",
                                             "embedding")
    top1 = {r.qid: r.vec_id
            for r in batch_cosine_topk(emb, qs, k=1).collect()}
    assert top1 == {i: i for i in range(5)}


def test_ivf_batch_recall1_and_margin(spark):
    # the recall-1 theorem behind ann_ivf_batch at sf0.001: per query
    # the top-4 are exactly {query row, 3 planted copies} at cos 1.0
    # and the natural rank-5 sits below the round-6 tie boundary
    import numpy as np
    from pyspark.sql import functions as F
    from engine.ml.ann import ivf_batch_topk, ivf_train
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "embedding"))
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding")
    copies = (qs.crossJoin(spark.range(0, 3).select(F.col("id").alias("_i")))
              .select((F.lit(100000) + F.col("qid") * 10 + F.col("_i"))
                      .alias("vec_id"), "embedding"))
    corpus = emb.unionByName(copies)
    dim = len(emb.first().embedding)
    cents = ivf_train(corpus, 8, dim=dim)
    out = ivf_batch_topk(corpus, qs, k=5, centroids=cents,
                         n_probe=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        top_ids = {r.vec_id for r in rows[:4]}
        assert top_ids == {qid} | {100000 + qid * 10 + i
                                   for i in range(3)}
        assert all(r.cos_sim == 1.0 for r in rows[:4])
        if len(rows) > 4:  # natural rank-5 strictly below the tie
            assert rows[4].cos_sim < 1.0


# ----------------------------------- nearest as-of (D44, r5 cont.)

def test_asof_nearest_pinned_semantics(spark):
    from engine.relops import asof_join
    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 25), (3, "u", 40), (4, "v", 5)],
        "lid long, k string, t long")
    right = spark.createDataFrame(
        [("u", 0, 100), ("u", 20, 200), ("u", 50, 300)],
        "k string, t long, v long")
    got = {r.lid: (r.t_r, r.v)
           for r in asof_join(left, right, on="t", by="k",
                              direction="nearest").collect()}
    assert got[1] == (0, 100)      # |10-0|=10 < |10-20|=10? equal ->
    # backward tie rule: db=10, df=10 -> backward (t=0) wins
    assert got[2] == (20, 200)     # 5 back vs 25 fwd
    assert got[3] == (50, 300)     # 20 back vs 10 fwd -> forward
    assert got[4] == (None, None)  # key with no right rows


def test_asof_nearest_matches_brute_random(spark):
    import random

    from engine.relops import asof_join
    rng = random.Random(11)
    left = [(i, "k%d" % (i % 3), rng.randrange(1000))
            for i in range(60)]
    # unique (key, t) on the right, as the contract requires
    rts = {("k%d" % (j % 3), rng.randrange(1000)) for j in range(40)}
    right = [(k, t, i * 10) for i, (k, t) in enumerate(sorted(rts))]
    ldf = spark.createDataFrame(left, "lid long, k string, t long")
    rdf = spark.createDataFrame(right, "k string, t long, v long")
    got = {r.lid: (r.t_r, r.v)
           for r in asof_join(ldf, rdf, on="t", by="k",
                              direction="nearest").collect()}
    for lid, k, t in left:
        cands = [(rt, v) for rk, rt, v in right if rk == k]
        if not cands:
            assert got[lid] == (None, None)
            continue
        best = min(cands, key=lambda c: (abs(c[0] - t), c[0] > t))
        assert got[lid] == best, (lid, k, t)


def test_asof_forward_direction(spark):
    from engine.relops import asof_join
    left = spark.createDataFrame([(1, "u", 10)], "lid long, k string, t long")
    right = spark.createDataFrame(
        [("u", 5, 1), ("u", 12, 2)], "k string, t long, v long")
    [r] = asof_join(left, right, on="t", by="k",
                    direction="forward").collect()
    assert (r.t_r, r.v) == (12, 2)
