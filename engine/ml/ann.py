"""Similarity search over embedding columns (task brief): brute-force
cosine top-k baseline + LSH-bucketed approximate variant as the scale
path; embedding-cosine near-duplicate pairs.

Shapes:
- brute force: native `zip_with`/`aggregate` dot product (JVM, codegen)
  against a broadcast query vector -> global top-k.  Exact; O(n) per
  query — the baseline and the verifier.
- LSH (random hyperplane) buckets: one Arrow-batched matmul pass stamps a
  b-bit signature per row; queries probe their own bucket plus all
  Hamming-1 neighbors — at 10^12 rows each probe touches ~(b+1)/2^b of
  the data instead of all of it.  Approximate; recall tested vs brute
  force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from engine.localdf import local_df


def _dot_expr(vec_col: str, qlit: str) -> str:
    return (
        f"aggregate(zip_with({vec_col}, {qlit}, (x, y) -> cast(x as double) * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm_expr(vec_col: str) -> str:
    return (
        f"sqrt(aggregate({vec_col}, cast(0.0 as double), "
        f"(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )


def _vec_literal(q: list[float]) -> str:
    return "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in q) + ")"


def cosine_topk(df: DataFrame, query_vec: list[float], k: int,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k against one query vector — fully
    native expression, no Python in the scan."""
    qlit = _vec_literal(query_vec)
    qnorm = float(np.sqrt(np.dot(query_vec, query_vec)))
    cos = F.expr(_dot_expr(vec_col, qlit)) / (F.expr(_norm_expr(vec_col)) * F.lit(qnorm))
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          bits: int = 8, seed: int = 42,
                          exact: bool = False, dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    exact=True brute-forces all pairs (test oracle / small inputs).
    Otherwise: random-hyperplane LSH buckets bound the pair space, probing
    every pair whose signatures differ in <= 1 bit — expressed as an
    EQUI-join so Catalyst plans a hash join, never a nested loop: the
    probe side explodes each row to (bits + 1) keys (its own bucket plus
    each Hamming-1 neighbor), the build side keeps its single bucket, and
    the join key is the bucket value itself.  Candidate IDs are
    deduplicated BEFORE the vectors are joined back in, so the wide
    embedding arrays ride the shuffle only for surviving candidates.
    Cost at scale: (bits+1)·n skinny (id, key) rows + one equi-join —
    no cross-bucket comparisons, no BroadcastNestedLoopJoin
    (asserted by tests/test_plans.py).
    """
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        sigs = with_lsh_bucket(df, bits=bits, seed=seed, vec_col=vec_col,
                               dim=dim).select(id_col, "bucket")
        # own bucket + the `bits` Hamming-1 neighbors, as plain equi keys
        probes = F.expr(
            f"array_union(array(bucket), "
            f"transform(sequence(0, {bits - 1}), i -> bucket ^ shiftleft(1L, i)))"
        )
        a = sigs.select(F.col(id_col).alias("id_a"),
                        F.explode(probes).alias("probe"))
        b = sigs.select(F.col(id_col).alias("id_b"),
                        F.col("bucket").alias("probe"))
        cand = (a.join(b, "probe")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    cos = dot / (F.expr(_norm_expr("va")) * F.expr(_norm_expr("vb")))
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def make_lsh_bucket_udf(dim: int, bits: int = 8, seed: int = 42):
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(dim, bits))

    @F.pandas_udf(LongType())
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, np.float64) for v in vecs])
        bitsm = (m @ planes) > 0
        weights = (1 << np.arange(bits)).astype(np.int64)
        return pd.Series((bitsm @ weights).astype(np.int64))

    return bucket_udf


def with_lsh_bucket(df: DataFrame, bits: int = 8, seed: int = 42,
                    vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """`dim` is required: inferring it via `df.select(vec_col).first()`
    would run a hidden driver-side job during plan construction (one scan
    per call at cluster scale) — callers know the embedding width from
    their table contract / metadata and must pass it."""
    if dim is None:
        raise ValueError(
            "with_lsh_bucket: pass dim explicitly (embedding width from the "
            "table contract) — inferring it would run a driver-side job")
    return df.withColumn("bucket", make_lsh_bucket_udf(dim, bits, seed)(F.col(vec_col)))


def lsh_topk(df: DataFrame, query_vec: list[float], k: int,
             bits: int = 8, seed: int = 42, probe_radius: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: multi-probe LSH — probe every bucket within
    Hamming distance <= probe_radius of the query's signature, exact
    cosine within the probed set.  probe_radius tunes recall vs scanned
    fraction (~sum_{i<=r} C(bits,i) / 2^bits of the table)."""
    dim = len(query_vec)
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(dim, bits))
    qsig = int(((np.asarray(query_vec) @ planes) > 0)
               @ (1 << np.arange(bits)).astype(np.int64))
    probes = [m ^ qsig for m in range(1 << bits)
              if bin(m).count("1") <= probe_radius]
    bucketed = with_lsh_bucket(df, bits=bits, seed=seed, vec_col=vec_col, dim=dim)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


# ------------------------------------------------------------------- IVF

def ivf_train(df: DataFrame, n_centroids: int = 16, seed: int = 42,
              dim: int | None = None, vec_col: str = "embedding",
              id_col: str = "vec_id", sample_n: int = 2048,
              iters: int = 10) -> np.ndarray:
    """IVF coarse quantizer: k-means centroids from a bounded,
    DETERMINISTIC sample (lowest ids — stable across runs/partitionings,
    unlike `df.sample`).  This is an explicit TRAIN step and runs one
    bounded Spark job by design (collects `sample_n` vectors, never the
    table); at 10^12 rows you train once, persist the centroids, and
    reuse them across queries — mirroring FAISS IVF practice.  Lloyd
    iterations are pure numpy on the driver-side sample."""
    if dim is None:
        raise ValueError("ivf_train: pass dim explicitly (table contract)")
    rows = (df.select(id_col, vec_col).orderBy(id_col).limit(sample_n)
            .collect())
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # cosine on normalized rows
        for c in range(len(cents)):
            m = x[assign == c]
            if len(m):
                v = m.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def make_ivf_assign_udf(centroids: np.ndarray):
    cents = np.asarray(centroids, np.float64)

    @F.pandas_udf(LongType())
    def assign_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, np.float64) for v in vecs])
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int64))

    return assign_udf


def ivf_topk(df: DataFrame, query_vec: list[float], k: int,
             centroids: np.ndarray, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF search: probe the n_probe centroids nearest the query (cosine),
    exact cosine top-k within the probed cells only.  The cell filter is
    a native `isin` over the assignment column — partition-prunable when
    the table is written bucketed/partitioned by cell id; expected scan
    fraction ~ n_probe / n_centroids."""
    cents = np.asarray(centroids, np.float64)
    q = np.asarray(query_vec, np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probes = np.argsort(-(cents @ q))[:n_probe].tolist()
    assigned = df.withColumn("ivf_cell",
                             make_ivf_assign_udf(cents)(F.col(vec_col)))
    cand = assigned.filter(F.col("ivf_cell").isin([int(p) for p in probes]))
    return cosine_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


# -------------------------------------------------------------------- PQ

def pq_train(df: DataFrame, m_sub: int = 8, n_codes: int = 16,
             seed: int = 42, dim: int | None = None,
             vec_col: str = "embedding", id_col: str = "vec_id",
             sample_n: int = 2048, iters: int = 10) -> np.ndarray:
    """Product-quantization codebooks, shape (m_sub, n_codes, dim/m_sub):
    per-subvector L2 k-means over the SAME bounded deterministic sample
    ivf_train uses (lowest ids — stable across runs/partitionings).
    Rows are L2-normalized first so PQ distance is monotone with cosine.
    One bounded Spark job (collects sample_n rows, never the table);
    at 10^12 rows you train once and persist the codebooks — FAISS-PQ
    practice."""
    if dim is None:
        raise ValueError("pq_train: pass dim explicitly (table contract)")
    if dim % m_sub:
        raise ValueError(f"pq_train: dim={dim} not divisible by m_sub={m_sub}")
    dsub = dim // m_sub
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    books = np.zeros((m_sub, n_codes, dsub))
    for m in range(m_sub):
        xs = x[:, m * dsub:(m + 1) * dsub]
        cents = xs[rng.choice(len(xs), size=min(n_codes, len(xs)),
                              replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cents)):
                mem = xs[assign == c]
                if len(mem):
                    cents[c] = mem.mean(axis=0)
        books[m, :len(cents)] = cents
        # Tiny-table guard (r4 ADVICE): when the sample has fewer rows
        # than n_codes, pad the unused codebook rows by CYCLING the real
        # centroids instead of leaving uninitialized memory — encode's
        # argmin breaks ties to the LOWEST code, so padded duplicates
        # can never be selected and determinism holds at any table size.
        if len(cents) < n_codes:
            reps = -(-n_codes // len(cents))
            books[m] = np.tile(cents, (reps, 1))[:n_codes]
    return books


def make_pq_encode_udf(codebooks: np.ndarray):
    """Arrow-batched encoder: each row -> m_sub uint8-range codes
    (argmin L2 per subvector, ties to the lowest code — deterministic).
    The encoded table is the at-scale artifact: 8 ints replace 64
    floats, so the ANN scan reads a 32x smaller column."""
    books = np.asarray(codebooks, np.float64)
    m_sub, n_codes, dsub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode_udf(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, np.float64) for v in vecs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(x), m_sub), np.int32)
        for m in range(m_sub):
            xs = x[:, m * dsub:(m + 1) * dsub]
            d2 = ((xs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return encode_udf


def _adc_lut(query_vec: list[float], codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup table LUT[m][c] = ||q_sub_m - codebook[m][c]||^2 for
    the L2-normalized query."""
    books = np.asarray(codebooks, np.float64)
    m_sub, _, dsub = books.shape
    q = np.asarray(query_vec, np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    return np.stack([((q[m * dsub:(m + 1) * dsub] - books[m]) ** 2).sum(axis=1)
                     for m in range(m_sub)])


def adc_dist_expr(codes_col: str, lut: np.ndarray) -> str:
    """NATIVE asymmetric-distance expression over the codes column: the
    (m_sub x n_codes) LUT is inlined as a nested array literal and the
    per-row score is a transform-with-index + aggregate — whole-stage
    codegen, zero Python in the scan.  This is the point of PQ at scale:
    after the one-time encode, every query is a JVM-side table-lookup
    sum over the compressed codes."""
    lut_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in row) + ")"
        for row in lut) + ")"
    return (
        f"aggregate(transform({codes_col}, (c, i) -> "
        f"element_at(element_at({lut_lit}, i + 1), c + 1)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def pq_topk(df: DataFrame, query_vec: list[float], k: int,
            codebooks: np.ndarray, rerank: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """PQ-ADC top-k with exact re-rank: encode (one Arrow pass — at scale
    this is a one-time materialization, queries read only the codes),
    score every row with the native ADC expression, keep the `rerank`
    best (asc distance, ties asc id), then exact-cosine re-rank ONLY
    those rows (the full vectors ride a broadcast semi-join of `rerank`
    ids, never a wide shuffle).

    Guarantee used by the driver key: an exact copy of the query encodes
    to the per-subvector argmin codes, so its ADC distance is the GLOBAL
    MINIMUM possible (sum of per-subvector minima) — a planted duplicate
    can only be displaced from the candidate pool by rows whose ADC is
    ULP-equal to that minimum, which the fixture margin (asserted in
    tests) excludes."""
    encoded = df.withColumn("codes", make_pq_encode_udf(codebooks)(F.col(vec_col)))
    lut = _adc_lut(query_vec, codebooks)
    scored = encoded.withColumn("adc_dist", F.expr(adc_dist_expr("codes", lut)))
    cand_ids = (scored.select(id_col, "adc_dist")
                .orderBy(F.asc("adc_dist"), F.asc(id_col))
                .limit(rerank).select(id_col))
    cand = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    return cosine_topk(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


def batch_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "qid") -> DataFrame:
    """Batch exact cosine top-k (M37, r5 post-window) — the SERVING
    shape: EVERY query row against the corpus in one plan, where
    cosine_topk takes a single literal vector.  -> (qid, vec_id,
    cos_sim, rank), rank 1..k per query, ties broken (cos DESC, id
    ASC) on the same round-6 discipline as the whole ANN family.

    Scale shape: the query frame is BROADCAST (queries are the small
    side by contract — the serving batch, not the corpus); the corpus
    is scanned ONCE and fanned |Q|-fold by the broadcast nested-loop
    (no shuffle of corpus rows to build candidates); the only shuffle
    is the per-query top-k window keyed by qid.  This is the exact
    brute-force VERIFIER of the family — the candidate-bounded fans
    (lsh_topk / ivf_topk / pq_topk) are the 100 TB path, and they are
    tested against exactly this output."""
    from pyspark.sql import Window

    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col), F.col(vec_col))
    dot = (f"aggregate(zip_with({vec_col}, _qv, "
           "(x, y) -> cast(x as double) * cast(y as double)), "
           "cast(0.0 as double), (acc, v) -> acc + v)")
    cos = F.expr(dot) / (F.expr(_norm_expr(vec_col))
                         * F.expr(_norm_expr("_qv")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"),
                                          F.asc(id_col))
    return (c.crossJoin(F.broadcast(q))
            .select("qid", id_col, F.round(cos, 6).alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_batch_topk(corpus: DataFrame, queries: DataFrame, k: int,
                   centroids: np.ndarray, n_probe: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "qid") -> DataFrame:
    """Batch IVF search (M39, r5 post-window) — the SCALE path of the
    serving shape: where batch_cosine_topk fans the whole corpus
    |Q|-fold, this probes each query's n_probe nearest cells and fans
    only the PROBED rows, through one hash EQUI-join on the cell id
    (partition-prunable when the table is bucketed by cell; expected
    scan fraction ~ n_probe / n_centroids per query).  -> (qid,
    vec_id, cos_sim, rank) — same round-6 + (cos DESC, id ASC) tie
    discipline, same output shape as the exact verifier.

    The query batch is bounded by contract (the serving request, not
    the corpus): one bounded collect derives the per-query probe
    lists driver-side (the ivf_train class of bounded jobs), and the
    (qid, cell) probe frame plus the query vectors are broadcast."""
    from pyspark.sql import Window

    cents = np.asarray(centroids, np.float64)
    qrows = queries.select(F.col(qid_col).alias("qid"),
                           F.col(vec_col).alias("_qv")).collect()
    probes = []
    for r in qrows:
        q = np.asarray(r._qv, np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        for c in np.argsort(-(cents @ q))[:n_probe].tolist():
            probes.append((r.qid, int(c)))
    spark = corpus.sparkSession
    probe_df = local_df(spark, probes, "qid long, ivf_cell long")
    qdf = queries.select(F.col(qid_col).alias("qid"),
                         F.col(vec_col).alias("_qv"))
    assigned = corpus.withColumn(
        "ivf_cell", make_ivf_assign_udf(cents)(F.col(vec_col)))
    cand = (assigned.join(F.broadcast(probe_df), "ivf_cell")
            .join(F.broadcast(qdf), "qid"))
    dot = (f"aggregate(zip_with({vec_col}, _qv, "
           "(x, y) -> cast(x as double) * cast(y as double)), "
           "cast(0.0 as double), (acc, v) -> acc + v)")
    cos = F.expr(dot) / (F.expr(_norm_expr(vec_col))
                         * F.expr(_norm_expr("_qv")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"),
                                          F.asc(id_col))
    return (cand.select("qid", id_col, F.round(cos, 6).alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
