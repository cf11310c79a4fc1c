"""Embedding similarity search: brute-force top-k, LSH ANN, centroids.

Training-data-pipeline operators over the ``embeddings`` table
(``vec_id, embedding: array<float>, label``):

* ``cosine_topk`` — exact brute-force cosine top-k (the correctness
  baseline every ANN variant is judged against);
* ``ann_lsh_top1`` — random-hyperplane LSH bucketing: probes compare
  only against same-bucket candidates (the scale path — at 10^12 rows
  the bucket equi-join replaces the n*m cross product);
* ``centroid_assign`` — nearest-centroid classification (per-label mean
  vector), the engine analog of the reference's kNN-over-RAT-rows
  classifiers (``apply_rat_knn``, python/src/rastergis.cpp method table).

Numeric determinism (the design invariant that makes these operators
oracle-checkable *and* cluster-size independent): embeddings are
quantized once to integers (``round(v * 1000)``); every dot product,
norm and distance is then exact int64 arithmetic whose sums are
associative — partition order cannot change a single bit.  Doubles
appear only in final single divisions/sqrts (IEEE-identical anywhere).
All vector math runs in Catalyst higher-order array functions
(``transform`` / ``zip_with`` / ``aggregate``) — JVM-side, no UDF.

The distance-squared trick for centroids keeps even the *mean* exact:
with S_i = sum of member components and n = member count,

    n^2 * ||v - S/n||^2 = sum_i (n*v_i - S_i)^2   (all int64)

so the argmin over labels compares exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["quantize", "adaptive_planes", "cosine_topk", "ann_lsh_top1",
           "ann_lsh_multiprobe_top1", "ann_multiprobe_topk",
           "neardup_pairs", "centroid_assign", "gram_matrix",
           "power_iteration_int", "pca_project_dominant",
           "mnf_noise_gram", "ann_ivf_top1"]


def quantize(df: DataFrame, col: str = "embedding",
             out: str = "q", scale: int = 1000) -> DataFrame:
    """array<float> -> array<long> by round(double(v)*scale).

    The cast to DOUBLE before scaling is load-bearing: float32 * 1000
    evaluated in single precision can land EXACTLY on a .5 boundary that
    double-precision math avoids (e.g. f32(0.3195)*1000 = 319.5 in f32
    but 319.4999999... in f64), making the rounded grid engine-dependent.
    In double, v*1000 = k+0.5 exactly would need v = (2k+1)/2000 — not
    representable in binary — so no half-boundary ever occurs and every
    engine rounds identically.
    """
    return df.withColumn(
        out, F.expr(f"transform({col}, v -> "
                    f"CAST(round(CAST(v AS DOUBLE) * {scale}.0) AS BIGINT))")
    )


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"


def _norm_sq(col: str) -> str:
    return _DOT.format(a=col, b=col)


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                id_col: str = "vec_id",
                max_query_rows: int | None = 65536,
                dim: int = 64) -> DataFrame:
    """Exact cosine top-k: every query against every corpus vector.

    Output: (qid, vec_id, rank, sim); self-matches excluded; ties broken
    by vec_id.  The small query side is broadcast so the corpus never
    shuffles — exact-baseline semantics hold only while the broadcast is
    bounded, so the query side is SIZE-GATED: if it exceeds
    ``max_query_rows`` the operator falls over to the two-sided
    multi-probe-LSH path (:func:`ann_multiprobe_topk`) instead of
    broadcasting an unbounded relation into a cross join (at 10^12
    corpus rows an unbounded query broadcast is a guaranteed OOM long
    before the n*m pair cost bites).  The fall-over is approximate
    (standard LSH recall); pass ``max_query_rows=None`` to force the
    exact path for a query side you have proven small.
    """
    if max_query_rows is not None:
        # one column-pruned count job on the (filtered) query side —
        # cheap relative to any n*m scoring it gates
        n_q = queries.select(id_col).count()
        if n_q > max_query_rows:
            return ann_multiprobe_topk(queries, corpus, k=k,
                                       id_col=id_col, dim=dim)
    # norms are computed ONCE per side (n + m evaluations), never per
    # pair — per-pair work is exactly one zip_with dot product.  The
    # small query side is broadcast so the corpus never shuffles.
    q = quantize(queries).select(
        F.col(id_col).alias("qid"), F.col("q").alias("qv"),
        F.expr(_norm_sq("q")).alias("nq"))
    c = quantize(corpus).select(
        F.col(id_col).alias("vec_id"), F.col("q").alias("cv"),
        F.expr(_norm_sq("q")).alias("nc"))
    dot = F.expr(_DOT.format(a="qv", b="cv"))
    sim = dot.cast("double") / F.sqrt((F.col("nq") * F.col("nc"))
                                      .cast("double"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", F.col("rank").cast("long").alias("rank"),
                "sim")
    )


def adaptive_planes(n_rows: int, target_load: int = 64,
                    lo: int = 4, hi: int = 24) -> int:
    """Corpus-size-adaptive hyperplane count: ~``target_load`` vectors
    per bucket.

    Within-bucket candidate pairing is quadratic in bucket load, so a
    FIXED plane count silently degenerates toward all-pairs as the
    corpus grows (256 buckets at 10^12 rows = 4x10^9 per bucket).
    ``n_planes = ceil(log2(n / target_load))`` keeps the expected load
    constant at any corpus size; clamped to [lo, hi] because past ~24
    planes single-probe recall collapses (the right scale-out beyond
    that is MinHash-style banding over more bits, several independent
    plane sets OR'd together — see ``minhash_bands`` for the pattern).
    """
    import math

    need = max(float(n_rows), 1.0) / float(target_load)
    return max(lo, min(hi, int(math.ceil(math.log2(max(need, 2.0))))))


def _bucket_expr(qcol: str, n_planes: int, dim: int) -> str:
    """Random-hyperplane LSH bucket id from the quantized vector.

    Plane p component i = ((p*37 + i*73) % 19) - 9 — a deterministic
    integer pseudo-plane (same formula in the SQL oracle); bucket bit p =
    (v . plane_p) > 0.
    """
    bits = []
    for p in range(n_planes):
        proj = (f"aggregate(zip_with({qcol}, transform(sequence(0, {dim - 1}),"
                f" i -> CAST(({p} * 37 + i * 73) % 19 - 9 AS BIGINT)),"
                f" (x, w) -> x * w), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
        bits.append(f"IF({proj} > 0, {1 << p}, 0)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def ann_lsh_top1(vectors: DataFrame, n_planes: int | None = None, dim: int = 64,
                 id_col: str = "vec_id") -> DataFrame:
    """Approximate 1-NN: hyperplane-LSH bucket join + exact rerank.

    Each vector meets only same-bucket candidates — the equi-join on
    ``bucket`` is the only shuffle, and it scales as the bucket load, not
    n^2.  Vectors alone in their bucket drop out (standard single-probe
    LSH recall loss; multi-probe = union over neighbour buckets).
    """
    if n_planes is None:
        # corpus-adaptive sizing (one metadata-only count); pass an
        # explicit n_planes to pin the bucketing (e.g. for oracles)
        n_planes = adaptive_planes(vectors.count())
    v = quantize(vectors).withColumn(
        "bucket", F.expr(_bucket_expr("q", n_planes, dim))
    ).select(F.col(id_col).alias("vid"), "q", "bucket",
             F.expr(_norm_sq("q")).alias("nrm"))
    a = v.alias("a")
    b = v.alias("b")
    dot = F.expr(_DOT.format(a="a.q", b="b.q"))
    sim = dot.cast("double") / F.sqrt((F.col("a.nrm") * F.col("b.nrm"))
                                      .cast("double"))
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vid") != F.col("b.vid")))
        .select(F.col("a.vid").alias("qid"), F.col("b.vid").alias("vec_id"),
                F.col("a.bucket").alias("bucket"), sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return pairs.withColumn("rn", F.row_number().over(w)) \
        .where(F.col("rn") == 1).drop("rn")


def ann_lsh_multiprobe_top1(vectors: DataFrame, n_planes: int | None = None,
                            dim: int = 64,
                            id_col: str = "vec_id") -> DataFrame:
    """Multi-probe LSH 1-NN: probe own bucket + all 1-bit-flip buckets.

    Single-probe LSH misses neighbours that land one hyperplane away;
    probing the Hamming-1 ring (n_planes + 1 buckets per query) trades a
    ~9x candidate fan-out for near-exact recall — the standard
    multi-probe refinement.  The probe side explodes its bucket ring
    (pure Catalyst); the build side stays keyed once.
    """
    if n_planes is None:
        # corpus-adaptive sizing (one metadata-only count); pass an
        # explicit n_planes to pin the bucketing (e.g. for oracles)
        n_planes = adaptive_planes(vectors.count())
    v = quantize(vectors).withColumn(
        "bucket", F.expr(_bucket_expr("q", n_planes, dim))
    ).select(F.col(id_col).alias("vid"), "q", "bucket",
             F.expr(_norm_sq("q")).alias("nrm"))
    flips = ", ".join(f"CAST(bucket ^ {1 << p} AS BIGINT)"
                      for p in range(n_planes))
    probes = v.withColumn(
        "probe", F.explode(F.expr(f"array(bucket, {flips})")))
    a = probes.alias("a")
    b = v.alias("b")
    dot = F.expr(_DOT.format(a="a.q", b="b.q"))
    sim = dot.cast("double") / F.sqrt((F.col("a.nrm") * F.col("b.nrm"))
                                      .cast("double"))
    pairs = (
        a.join(b, (F.col("a.probe") == F.col("b.bucket"))
               & (F.col("a.vid") != F.col("b.vid")))
        .select(F.col("a.vid").alias("qid"), F.col("b.vid").alias("vec_id"),
                sim.alias("sim"))
        .dropDuplicates(["qid", "vec_id"])
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return pairs.withColumn("rn", F.row_number().over(w)) \
        .where(F.col("rn") == 1).drop("rn")


def ann_multiprobe_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                        n_planes: int | None = None, dim: int = 64,
                        id_col: str = "vec_id") -> DataFrame:
    """Two-sided multi-probe LSH top-k: arbitrary query set vs corpus.

    The scale fall-over for :func:`cosine_topk` when the query side is
    too large to broadcast: both sides are bucketed by the SAME
    deterministic hyperplanes, the query side explodes its Hamming-1
    probe ring, and candidates meet on a plain bucket equi-join — the
    only shuffle, scaling with bucket load rather than n*m.  Exact
    integer rerank within candidates; output schema matches
    ``cosine_topk`` (qid, vec_id, rank, sim); recall is approximate
    (candidates limited to the probe ring, standard multi-probe LSH).
    """
    if n_planes is None:
        n_planes = adaptive_planes(corpus.count())
    def prep(df, name):
        return quantize(df).withColumn(
            "bucket", F.expr(_bucket_expr("q", n_planes, dim))
        ).select(F.col(id_col).alias(name), "q", "bucket",
                 F.expr(_norm_sq("q")).alias("nrm"))
    flips = ", ".join(f"CAST(bucket ^ {1 << p} AS BIGINT)"
                      for p in range(n_planes))
    a = prep(queries, "qid").withColumn(
        "probe", F.explode(F.expr(f"array(bucket, {flips})"))).alias("a")
    b = prep(corpus, "vec_id").alias("b")
    dot = F.expr(_DOT.format(a="a.q", b="b.q"))
    sim = dot.cast("double") / F.sqrt((F.col("a.nrm") * F.col("b.nrm"))
                                      .cast("double"))
    pairs = (
        a.join(b, (F.col("a.probe") == F.col("b.bucket"))
               & (F.col("a.qid") != F.col("b.vec_id")))
        .select("a.qid", "b.vec_id", sim.alias("sim"))
        .dropDuplicates(["qid", "vec_id"])
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", F.col("rank").cast("long").alias("rank"),
                "sim")
    )


def neardup_pairs(vectors: DataFrame, threshold: float = 0.9,
                  n_planes: int | None = None, dim: int = 64,
                  id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH-bucketed candidates).

    The embedding-space dedup method: candidate pairs share a hyperplane
    bucket (single-probe — recall grows with multi-probe ring union),
    kept when exact cosine >= threshold.  Output: (vec_a < vec_b, sim).
    """
    if n_planes is None:
        # corpus-adaptive sizing (one metadata-only count); pass an
        # explicit n_planes to pin the bucketing (e.g. for oracles)
        n_planes = adaptive_planes(vectors.count())
    v = quantize(vectors).withColumn(
        "bucket", F.expr(_bucket_expr("q", n_planes, dim))
    ).select(F.col(id_col).alias("vid"), "q", "bucket",
             F.expr(_norm_sq("q")).alias("nrm"))
    a = v.alias("a")
    b = v.alias("b")
    dot = F.expr(_DOT.format(a="a.q", b="b.q"))
    sim = dot.cast("double") / F.sqrt((F.col("a.nrm") * F.col("b.nrm"))
                                      .cast("double"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"),
                sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def gram_matrix(vectors: DataFrame, dim: int = 64,
                quantized: bool = False) -> DataFrame:
    """Exact integer Gram/scatter matrix G[i,j] = sum_v q_i * q_j.

    The distributed core of PCA / whitening (reference:
    ``perform_image_pca`` / ``whiten_image``, imagecalc/__init__.py:
    594-818, imageutils/__init__.py:3933): the only cluster-scale step
    is this d x d scatter accumulation — the eigendecomposition of a
    64x64 matrix is a driver-side triviality afterwards.  Quantized
    int64 sums are exact and associative, so G is bit-identical under
    any partitioning (and SQL-oracle checkable).  Upper triangle only
    (G is symmetric).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import codec

    d = int(dim)
    schema = StructType([StructField("i", LongType()),
                         StructField("j", LongType()),
                         StructField("g", LongType())])

    def similarity_gram_matrix(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            embs = batch.column("embedding").to_pylist()
            if quantized:
                m = np.asarray(embs, np.int64)
            else:
                m = np.round(np.asarray(embs, np.float64) * 1000) \
                    .astype(np.int64)
            acc += m.T @ m
        iu, ju = np.triu_indices(d)
        yield codec.to_batch({"i": iu, "j": ju, "g": acc[iu, ju]}, schema)

    # one partial d x d matrix per task (never per row), merged by a
    # groupBy over <= d*(d+1)/2 keys — constant-size shuffle at any scale
    return vectors.select("embedding") \
        .mapInArrow(similarity_gram_matrix, schema=schema) \
        .groupBy("i", "j").agg(F.sum("g").alias("g"))


#: shared exact-integer power-iteration constants — the SQL oracle
#: unrolls the IDENTICAL recurrence, so both engines agree bit-for-bit
PCA_ITERS = 12
PCA_GRAM_SHIFT = 10        # pre-scale G by trunc-div 2^10: int64
                           # headroom to ~1e8 rows at |q| <= 10^4
PCA_VSCALE = 1 << 20       # iterate at ~2^20 fixed-point magnitude


def power_iteration_int(g_full, n_iter: int = PCA_ITERS):
    """Dominant eigenvector of a scatter matrix — EXACT integer ops.

    The eigen-step of ``perform_image_pca`` (reference:
    imagecalc/__init__.py:594-818, which eigendecomposes the band
    covariance driver-side).  A float ``eigh`` would be
    LAPACK-version-dependent and not oracle-checkable, so the engine
    pins a fixed-point power iteration instead: ``u = G' v``;
    ``v <- trunc(u / max(|u|>>20, 1))`` with trunc-toward-zero
    division, ``n_iter`` rounds from the all-ones start.  Every step is
    int64 (bounds: |G'| < 2^43 after the 2^10 pre-shift, |v| <= 2^20+4,
    so |u| < 2^62) and the same recurrence unrolls as 12 SQL CTEs in
    the oracle — convergence quality is a property of the data;
    cross-engine equality is exact by construction.
    """
    import numpy as np

    g = np.sign(g_full) * (np.abs(np.asarray(g_full, np.int64))
                           >> PCA_GRAM_SHIFT)
    v = np.full(g.shape[0], PCA_VSCALE, dtype=np.int64)
    for _ in range(n_iter):
        u = g @ v
        d = max(int(np.abs(u).max()) >> 20, 1)
        v = (np.sign(u) * (np.abs(u) // d)).astype(np.int64)
    return v


def pca_project_dominant(vectors: DataFrame, dim: int = 64,
                         id_col: str = "vec_id") -> DataFrame:
    """PCA projection APPLY: every vector onto the dominant component.

    Reference: ``perform_image_pca`` (imagecalc/__init__.py:594) —
    fit the component on (a sample of) the data, then project every
    pixel/vector through it.  Two-phase plan: (1) the distributed
    exact-int scatter (:func:`gram_matrix` — the only cluster-scale
    step) collected as a d x d triviality; (2) the driver-side
    :func:`power_iteration_int`; (3) a second distributed pass
    projecting each quantized vector (``pc1 = sum_i q_i * w_i``, exact
    int64, pure Catalyst aggregate — no UDF).  At 10^12 rows both
    passes are single map-side scans; the d x d collect is O(d^2).
    """
    import numpy as np

    d = int(dim)
    rows = gram_matrix(vectors, dim=d).collect()
    g = np.zeros((d, d), np.int64)
    for r in rows:
        g[r["i"], r["j"]] = r["g"]
        g[r["j"], r["i"]] = r["g"]
    w = power_iteration_int(g)
    v = quantize(vectors)
    terms = " + ".join(f"(q[{i}] * CAST({int(w[i])} AS BIGINT))"
                       for i in range(d))
    return v.select(F.col(id_col), F.expr(f"({terms})").alias("pc1"))


def mnf_noise_gram(vectors: DataFrame, dim: int = 64,
                   id_col: str = "vec_id") -> DataFrame:
    """MNF noise-covariance core: scatter of adjacent-id differences.

    Reference: ``perform_image_mnf`` (imagecalc/__init__.py:715) —
    MNF = PCA in the metric of a noise covariance estimated from
    NEIGHBOUR DIFFERENCES (the classic Green et al. shift estimator;
    the reference differences adjacent pixels, the embedding analog
    differences adjacent vec_ids).  Output is the exact-int d x d
    noise scatter N[i,j] = sum (q_v - q_{v+1})_i (q_v - q_{v+1})_j in
    the same (i, j, g) upper-triangle shape as :func:`gram_matrix`;
    the driver then whitens and re-eigendecomposes — d x d trivia.
    The join on ``vec_id + 1`` is a co-partitioned equi-join (both
    sides hash on the same key); one shuffle, no skew.
    """
    v = quantize(vectors).select(F.col(id_col).alias("vid"), "q")
    nxt = v.select((F.col("vid") - 1).alias("vid"),
                   F.col("q").alias("q2"))
    diffs = v.join(nxt, "vid").select(
        F.expr("zip_with(q, q2, (a, b) -> a - b)").alias("embedding"))
    return gram_matrix(diffs, dim=dim, quantized=True)


def centroid_assign(vectors: DataFrame, dim: int = 64,
                    id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid assignment with exact integer distance ordering.

    Centroids = per-label component sums + counts (never divided); the
    argmin compares ``sum_i (n*v_i - S_i)^2`` — exact, so the predicted
    label is bit-stable under any partitioning.  This is one assignment
    sweep of Lloyd's k-means / an IVF coarse quantizer build.
    """
    v = quantize(vectors).select(F.col(id_col).alias("vid"), "label", "q")
    comp = v.select(
        "vid", "label",
        F.posexplode(F.col("q")).alias("i", "x"),
    )
    cents = comp.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    dist = (
        comp.join(cents, "i")
        .withColumn("d", (F.col("n") * F.col("x") - F.col("s"))
                    * (F.col("n") * F.col("x") - F.col("s")))
        .groupBy("vid", "label", "clabel", "n")
        .agg(F.sum("d").alias("a2"))
        # exact int64 sums, then ONE division: A/n^2 (labels have
        # different member counts, so the n^2 scale must divide out);
        # both operands are < 2^53 so the double is exact pre-division.
        .withColumn("dist2", F.col("a2").cast("double")
                    / (F.col("n") * F.col("n")).cast("double"))
    )
    w = Window.partitionBy("vid").orderBy(F.asc("dist2"), F.asc("clabel"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("vid").alias("vec_id"), "label",
                F.col("clabel").alias("pred_label"),
                (F.col("label") == F.col("clabel")).alias("is_correct"))
    )


# --------------------------------------------------------------------------
# SQ8 scalar quantization of the embedding column (LLM-pipeline op:
# the faiss ScalarQuantizer-QT_8bit analog — per-dimension [min, max]
# trained over the corpus, 8-bit codes, reconstruction error).
# --------------------------------------------------------------------------

def embed_sq8(embeddings: DataFrame) -> DataFrame:
    """Per-dimension corpus min/max -> 8-bit codes
    c = floor((x - mn) * 255 / (mx - mn)) (clamped degenerate dims to
    0), reconstruction mn + c*(mx-mn)/255, and per-vector code/error
    checksums.  All arithmetic on exact float32->DOUBLE casts with
    correctly-rounded ops, per-term 2^30 quantised error sums — exact
    across engines.  Scale shape: ONE explode of (n x d) rows, one
    d-row broadcast join back, one groupBy(vec_id) — the train pass is
    a pure map-side-combinable min/max aggregate."""
    dims = embeddings.selectExpr(
        "vec_id", "posexplode(embedding) AS (d, xf)") \
        .selectExpr("vec_id", "d", "CAST(xf AS DOUBLE) AS x")
    stats = dims.groupBy("d").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx"))
    j = dims.join(F.broadcast(stats), "d")
    j = j.selectExpr(
        "vec_id", "d", "x", "mn", "mx",
        "CAST(CASE WHEN mx = mn THEN 0 ELSE least(floor("
        "((x - mn) * CAST(255.0 AS DOUBLE)) / (mx - mn)),"
        " CAST(255.0 AS DOUBLE)) END AS BIGINT) AS code")
    j = j.selectExpr(
        "vec_id", "code",
        "mn + (CAST(code AS DOUBLE) * (mx - mn))"
        " / CAST(255.0 AS DOUBLE) AS recon",
        "x")
    j = j.selectExpr(
        "vec_id", "code",
        "CAST(floor(((x - recon) * (x - recon))"
        " * CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS errq")
    return j.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("d_dims"),
        F.sum("code").cast("long").alias("sum_code"),
        F.min("code").cast("long").alias("min_code"),
        F.max("code").cast("long").alias("max_code"),
        F.sum("errq").cast("long").alias("sum_err_q"))


def ann_ivf_top1(vectors: DataFrame, n_cells: int = 8, nprobe: int = 2,
                 dim: int = 64, id_col: str = "vec_id",
                 query_ids_below: int | None = None) -> DataFrame:
    """IVF approximate 1-NN: coarse quantizer + nprobe cell search.

    The faiss IndexIVFFlat shape, built deterministically so both
    engines agree bit-for-bit:

    1. COARSE TRAIN — one Lloyd sweep: seed centroids are the first
       ``n_cells`` vectors (vec_id < n_cells); every vector is assigned
       to its nearest seed by EXACT integer distance
       ``sum_i (x_i - s_i)^2`` (ties -> lowest cell), then the trained
       centroid of each cell is kept as exact component sums + count
       (never divided) — the same never-divide trick as
       :func:`centroid_assign`.
    2. PROBE — each query ranks cells by
       ``sum_i (n*x_i - S_i)^2 / n^2`` (exact int64 numerator, one
       correctly-rounded double division; ties -> lowest cell) and
       searches the top ``nprobe`` inverted lists.
    3. RERANK — exact quantized cosine against the probed cells'
       members, top-1 (ties -> lowest vec_id).

    Scale shape: the only shuffles are the dim-bounded centroid
    aggregations and the cell-keyed candidate equi-join — candidate
    count scales with probed-list load (~ nprobe * n / n_cells per
    query), not n^2.  At corpus scale the coarse train is one pass and
    the inverted lists are the partitioning.
    """
    v = quantize(vectors).select(
        F.col(id_col).alias("vid"), "q",
        F.expr(_norm_sq("q")).alias("nrm"))
    comp = v.select("vid", F.posexplode(F.col("q")).alias("i", "x"))
    seedc = (comp.where(F.col("vid") < n_cells)
             .select(F.col("vid").alias("cell"), "i",
                     F.col("x").alias("s")))
    d0 = (comp.join(F.broadcast(seedc), "i")
          .withColumn("d", (F.col("x") - F.col("s"))
                      * (F.col("x") - F.col("s")))
          .groupBy("vid", "cell").agg(F.sum("d").alias("d2")))
    w0 = Window.partitionBy("vid").orderBy(F.asc("d2"), F.asc("cell"))
    assign = (d0.withColumn("rn", F.row_number().over(w0))
              .where(F.col("rn") == 1).select("vid", "cell"))
    cents = (comp.join(assign, "vid")
             .groupBy(F.col("cell").alias("ccell"), "i")
             .agg(F.sum("x").alias("cs"), F.count(F.lit(1)).alias("cn")))
    pd_ = (comp.join(F.broadcast(cents), "i")
           .withColumn("d", (F.col("cn") * F.col("x") - F.col("cs"))
                       * (F.col("cn") * F.col("x") - F.col("cs")))
           .groupBy("vid", "ccell", "cn").agg(F.sum("d").alias("a2"))
           .withColumn("dist2", F.col("a2").cast("double")
                       / (F.col("cn") * F.col("cn")).cast("double")))
    wp = Window.partitionBy("vid").orderBy(F.asc("dist2"), F.asc("ccell"))
    probes = (pd_.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select(F.col("vid").alias("qid"),
                      F.col("ccell").alias("cell")))
    if query_ids_below is not None:
        # gate the QUERY side (index build stays corpus-wide): the
        # rerank join cost is queries x probed-list load, the same
        # reason cosine_topk bounds its broadcast side
        probes = probes.where(F.col("qid") < query_ids_below)
    members = assign.select(F.col("vid").alias("mid"), "cell")
    a = v.select(F.col("vid").alias("qid"), F.col("q").alias("qa"),
                 F.col("nrm").alias("na"))
    b = v.select(F.col("vid").alias("mid"), F.col("q").alias("qb"),
                 F.col("nrm").alias("nb"))
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    cand = (probes.join(members, "cell")
            .where(F.col("qid") != F.col("mid"))
            .join(a, "qid").join(b, "mid")
            .select("qid", F.col("mid").alias("vec_id"),
                    (dot.cast("double")
                     / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
                     ).alias("sim")))
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (cand.withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") == 1).drop("rn"))
