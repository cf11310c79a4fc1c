"""Text-analysis + deduplication operators for training-data pipelines.

These extend the engine beyond the reference's geospatial surface with the
operations a large-scale (100 TB) training-data pipeline needs over the
``documents`` table: quality scoring, language ID, token counting,
fingerprinting, exact + near deduplication (n-gram Jaccard, MinHash+LSH,
SimHash).  The reference's closest precedents are its attribute-table ops
(``rm_feat_att_duplicates``, vectorutils/__init__.py:3320 — exact dedup;
``count_feats_per_att_val`` :297) — everything else is new surface.

Design rules:

* every operator is pure Spark built-ins (split / explode / groupBy /
  higher-order array functions) — JVM-side, whole-stage-codegen, no
  Python in the hot path;
* all hashing is ``md5`` (identical output in every engine) so the
  DuckDB oracle can recompute signatures independently — and so results
  are stable across cluster sizes and Spark versions (xxhash64 would be
  fine too, but md5's cross-engine portability buys free verification);
* near-dup joins are *candidate-generation + verify*: shingle/band
  equi-joins produce a small candidate set (the LSH guarantee), exact
  Jaccard verifies.  At 10^12 docs the band-bucket join is the only
  shuffle and it is an equi-join Catalyst can sort-merge + AQE-skew.

Scale notes: shingling explodes ~L rows per doc (L = token count) but
they reduce immediately into per-(band) buckets / per-pair counts —
classic map-side-heavy, reduce-light shape.  The pairwise verify join
touches only candidate pairs, never the n^2 cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "tokens",
    "shingles",
    "text_quality",
    "token_count",
    "lang_id",
    "doc_fingerprint",
    "winnow_fingerprints",
    "ngram_jaccard_pairs",
    "minhash_bands",
    "minhash_pairs",
    "simhash",
]

STOPWORDS = ("the", "a", "of", "and", "in")


def tokens(docs: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace tokenization as an array column (kept, not exploded)."""
    return docs.withColumn("toks", F.split(F.col(text), " "))


def shingles(docs: DataFrame, n: int = 3, text: str = "text",
             key: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles: one row per (doc, shingle).

    ``transform(sequence(...))`` builds the shingle array JVM-side; the
    explode is the only row expansion in the dedup pipeline.

    Docs with fewer than ``n`` tokens yield no shingles (the CASE guard
    is load-bearing: Spark's ``sequence(1, 0)`` steps DOWN to [1, 0] and
    ``slice(toks, 0, n)`` raises, while DuckDB's ``generate_series(1, 0)``
    is empty — the guard makes both engines agree on "no rows").
    """
    return (
        tokens(docs, text)
        .select(key, F.explode(F.expr(
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(1, size(toks) - {n - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {n}))) "
            f"ELSE CAST(array() AS array<string>) END"
        )).alias("s"))
        .distinct()
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: token counts, lengths, stopword ratio.

    Everything derives from integer counts; the two ratios are single
    divisions of exact ints (bit-stable anywhere).
    """
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    t = tokens(docs)
    return (
        t.withColumn("n_tokens", F.size("toks"))
        .withColumn("n_stop", F.size(F.expr(
            f"filter(toks, t -> t IN ({stop_arr}))")))
        .withColumn("avg_token_len",
                    (F.length("text") - (F.col("n_tokens") - 1)).cast("double")
                    / F.col("n_tokens").cast("double"))
        .withColumn("stop_ratio",
                    F.col("n_stop").cast("double")
                    / F.col("n_tokens").cast("double"))
    )


#: BPE-ish lexer: letter runs | digit runs | single non-alnum non-space
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count(docs: DataFrame, text: str = "text") -> DataFrame:
    """Regex tokenization + BPE-style subword estimate per document.

    ``n_re_tokens`` counts lexer tokens (letter runs, digit runs,
    single punctuation); ``n_bpe_est`` estimates subword pieces as
    ``ceil(len(token)/4)`` per token (the ~4-chars-per-BPE-piece rule
    of thumb), summed with exact integer arithmetic inside
    ``aggregate`` so no explode/shuffle is needed — one narrow
    projection per document, embarrassingly parallel at any scale.
    The pattern uses only portable character classes (identical
    semantics in Java regex and RE2).
    """
    arr = f"regexp_extract_all({text}, '{TOKEN_RE}', 0)"
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({arr}) AS BIGINT)").alias("n_re_tokens"),
        F.expr(
            f"aggregate({arr}, CAST(0 AS BIGINT),"
            " (acc, t) -> acc + CAST((length(t) + 3) DIV 4 AS BIGINT))"
        ).alias("n_bpe_est"),
        F.expr(f"CAST(length({text}) AS BIGINT)").alias("n_chars_tot"))


def _ascii_code(ch: str):
    """Code point of ``ch``; raises for a non-ASCII character, which
    would overflow the base-256 gram pack (the DuckDB twin raises too)."""
    code = F.ascii(ch).cast("long")
    return F.when(code < 128, code).otherwise(F.raise_error(
        F.concat(F.lit("non-ASCII character in gram text: "), F.col(ch))))


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4,
                        text: str = "text") -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    Classic winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
    algorithm): hash every character ``k``-gram of the normalized text,
    slide a window of ``w`` consecutive gram hashes, and keep each
    window's minimum; the DISTINCT selected hash values per document
    are the fingerprint set (the guarantee: any shared substring of
    length >= k + w - 1 yields a shared fingerprint).

    The gram hash is the EXACT base-256 pack of the k (ASCII) gram
    chars into one BIGINT (``sum code(pos+i) * 256^(k-1-i)``, k <= 8)
    — collision-free, so numeric fingerprint equality == substring
    equality, and pure integer whole-stage-codegen ops (the previous
    per-position md5+hex was the suite's heaviest constant).  It is
    assembled from one per-char explode + k-1 LEADs over the same
    (doc_id, pos) ordering the winnow min-window needs, so Catalyst
    plans ONE sort and no extra Exchange.

    Plan shape: one explode (~L rows/doc), one sort-within-doc for the
    analytic windows, then a groupBy with map-side partial aggregation
    that collapses to the small distinct-fingerprint set — at 100 TB
    the explode is embarrassingly parallel and the only full shuffle
    carries the already-collapsed (doc, fp) pairs.  Docs shorter than
    ``k + w - 1`` chars degenerate to a single whole-doc window
    (standard boundary rule).
    """
    if k > 8:
        raise ValueError("base-256 gram pack requires k <= 8")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), " +", " ")
    g = (docs.select("doc_id", norm.alias("_n"))
         .withColumn("_ng", F.length("_n") - F.lit(k - 1))
         .where(F.col("_ng") >= 1)
         # shuffle DOC rows (1 row, ~L bytes), not exploded char rows
         # (~L rows x ~30 bytes): this hash layout already satisfies the
         # analytic windows' distribution, so Catalyst adds no second
         # Exchange above the explode — ~20x less shuffle traffic.
         .repartition(F.col("doc_id"))
         .select("doc_id", "_ng",
                 F.posexplode(F.expr("split(_n, '')"))
                 .alias("pos0", "ch"))
         .select("doc_id", "_ng",
                 (F.col("pos0") + 1).alias("pos"),
                 _ascii_code("ch").alias("code")))
    ord_win = "OVER (PARTITION BY doc_id ORDER BY pos)"
    pack = " + ".join(
        f"lead(code, {i}) {ord_win} * {256 ** (k - 1 - i)}L"
        for i in range(k))
    win = (f"min(gh) OVER (PARTITION BY doc_id ORDER BY pos "
           f"ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)")
    sel = (g.withColumn("gh", F.expr(pack))
           .withColumn("wmin", F.expr(win))
           .where((F.col("pos") <= F.greatest(F.col("_ng") - F.lit(w - 1),
                                              F.lit(1)))
                  & (F.col("pos") <= F.col("_ng"))))
    return (sel.groupBy("doc_id", F.col("wmin").alias("fp"))
            .agg(F.count("*").cast("long").alias("n_windows")))


#: per-language stopword votes for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "zh": ("de5", "shi4", "le5"),
}


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID (n-gram-heuristic class).

    Scores each language by marker-token hits; argmax with a fixed
    language order tiebreak (deterministic).  On marker-free text every
    score is 0 and the first language wins — the standard "unknown
    defaults to majority class" behaviour.
    """
    t = tokens(docs)
    score_cols = []
    for lang, marks in LANG_MARKERS.items():
        arr = ", ".join(f"'{m}'" for m in marks)
        t = t.withColumn(f"_s_{lang}",
                         F.size(F.expr(f"filter(toks, t -> t IN ({arr}))")))
        score_cols.append(f"_s_{lang}")
    # argmax via greatest + first-match CASE (ties -> earlier lang)
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = None
    for lang in LANG_MARKERS:
        cond = F.col(f"_s_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return t.withColumn("pred_lang", pred).drop("toks", *score_cols)


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Normalized content fingerprint (md5 of lower/trimmed text).

    ``fp`` = 32-hex digest; ``fp16`` = 16-hex prefix (the join key a
    dedup pass would bucket on).  Normalization: lowercase + trim +
    whitespace collapse — the document-fingerprinting normalizer.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return docs.withColumn("fp", F.md5(norm)) \
        .withColumn("fp16", F.substring(F.col("fp"), 1, 16))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.2,
                        max_df: int | None = None) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard over shared-shingle pairs.

    Candidate pairs = docs sharing >= 1 shingle (equi-join on the shingle
    string); Jaccard = |A n B| / (|A| + |B| - |A n B|) from exact counts.

    ``max_df``: the scale guard — shingles appearing in more than
    ``max_df`` documents are excluded from CANDIDATE GENERATION (a
    stopword-heavy shingle otherwise pairs every document containing
    it: the quadratic hot key).  Verification stays EXACT over the full
    shingle sets (candidate-driven joins, the same two-phase shape as
    ``minhash_pairs``), so reported jaccard values are unaffected —
    only pairs sharing NOTHING BUT ultra-common shingles are missed,
    which at ``threshold`` >= 0.2 is precisely the noise class.  With
    ``max_df=None`` the candidate join is the raw shared-shingle join
    (small-corpus/oracle mode).
    """
    sh = shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    if max_df is None:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        rare = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")) \
            .where(F.col("df") <= int(max_df)).select("s")
        shc = sh.join(rare, "s", "left_semi")
        a = shc.alias("a")
        b = shc.alias("b")
        cand = (
            a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sh_a = sh.select(F.col("doc_id").alias("doc_a"), "s")
        sh_b = sh.select(F.col("doc_id").alias("doc_b"), "s")
        # no broadcast hint on the candidate list: its size scales with
        # the corpus near-dup rate (billions of pairs on a 100 TB crawl
        # with a high dup rate), so a mandatory broadcast is an OOM.
        # These are plain equi-joins; AQE's runtime size statistics
        # promote the candidate side to a broadcast join whenever it is
        # actually small (autoBroadcastJoinThreshold), which is the
        # size-gate — measured stats, not a compile-time guess.
        common = (
            cand
            .join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "s"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        common
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("ns", "ns_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("ns", "ns_b"), "doc_b")
        .withColumn("jaccard",
                    F.col("n_common").cast("double")
                    / (F.col("ns_a") + F.col("ns_b") - F.col("n_common"))
                    .cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def minhash_bands(docs: DataFrame, n_hashes: int = 8, band_size: int = 4,
                  n: int = 3) -> DataFrame:
    """MinHash signature bands: one row per (doc, band) with its bucket.

    h_k(shingle) = md5("k:shingle") 16-hex prefix; sig_k = min over the
    doc's shingles (string min — md5 hex is fixed-width so lexicographic
    = numeric order).  Band bucket = md5 of the '|'-joined sigs in
    k-order.  Portable to the letter across engines.
    """
    sh = shingles(docs, n)
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("k")
    hashed = sh.select("doc_id", "s", seeds).withColumn(
        "hk", F.substring(
            F.md5(F.concat(F.col("k").cast("string"), F.lit(":"),
                           F.col("s"))), 1, 16)
    )
    sigs = hashed.groupBy("doc_id", "k").agg(F.min("hk").alias("sig"))
    return (
        sigs.withColumn("band_id", (F.col("k") / band_size).cast("long"))
        .groupBy("doc_id", "band_id")
        .agg(F.md5(F.concat_ws("|", F.expr(
            "transform(array_sort(collect_list(struct(k, sig))), x -> x.sig)"
        ))).alias("bucket"))
    )


def minhash_pairs(docs: DataFrame, n_hashes: int = 8, band_size: int = 4,
                  n: int = 3, threshold: float = 0.0) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-bucket join then exact verify.

    The bucket equi-join is the LSH trick: only docs agreeing on one
    whole band of signatures meet — at corpus scale this is the
    difference between n^2 and ~n candidate pairs.  Each surviving pair
    is verified with exact Jaccard (candidate-generation + refine, the
    same two-phase shape as the spatial join).
    """
    bands = minhash_bands(docs, n_hashes, band_size, n)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-verify ONLY the LSH candidates (the whole point of banding):
    # the shingle joins are candidate-driven — never the all-pairs
    # shared-shingle join.  Deliberately NO broadcast hint on ``cand``:
    # the candidate count scales with the corpus near-dup rate (a 100 TB
    # crawl at a 20% dup rate has billions of pairs), so a mandatory
    # broadcast is an OOM waiting to happen.  AQE size-gates at runtime:
    # when the measured candidate side is under
    # autoBroadcastJoinThreshold it becomes a broadcast join anyway,
    # otherwise a sort-merge equi-join with bounded per-task memory.
    sh = shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        cand
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("ns", "ns_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("ns", "ns_b"), "doc_b")
        .withColumn("jaccard",
                    F.col("n_common").cast("double")
                    / (F.col("ns_a") + F.col("ns_b") - F.col("n_common"))
                    .cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """16-bit SimHash over distinct tokens (md5-nibble sign votes).

    bit b of simhash = majority vote of bit b across token hashes, where
    token-hash bit b = top bit of md5 hex nibble b (hex char >= '8').
    Identical arithmetic in any engine; Hamming distance on ``simhash16``
    is the near-dup metric.
    """
    tok = tokens(docs).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("t"))
    h = tok.withColumn("m", F.md5(F.col("t")))
    pos = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    votes = (
        h.select("doc_id", "m", pos)
        .withColumn("vote", F.when(
            F.expr("substr(m, CAST(b AS INT) + 1, 1)") >= "8", 1).otherwise(-1))
        .groupBy("doc_id", "b").agg(F.sum("vote").alias("sgn"))
    )
    weight = F.expr("IF(sgn > 0, shiftleft(CAST(1 AS BIGINT), "
                    "CAST(b AS INT)), CAST(0 AS BIGINT))")
    return votes.groupBy("doc_id").agg(F.sum(weight).alias("simhash16"))


def dedup_clusters(docs: DataFrame, n_hashes: int = 8, band_size: int = 4,
                   n: int = 3, threshold: float = 0.8,
                   rounds: int = 6) -> DataFrame:
    """Connected components over verified near-duplicate pairs — the
    canonical-document step every dedup pipeline needs after pair
    generation (keep one doc per duplicate cluster).

    Distributed min-label propagation with pointer compression, pure
    DataFrame ops: label_0 = doc_id; each round takes the min label
    over the 1-hop neighbourhood, then compresses label = label(label).
    ``rounds`` = R resolves component diameters up to ~2^R (near-dup
    clusters are shallow; R=6 is generous).  Every step is a
    hash-partitioned equi-join/groupBy — no driver state, no
    collect — so the same plan runs on a 10^10-doc corpus; this is the
    hash-to-min family of Kiveris et al. (2014), the log-round CC used
    for web-scale dedup.  The DuckDB oracle unrolls the identical
    rounds (same trick as the clump pointer-doubling oracle).

    Returns one row per document: (doc_id, cluster_id = min doc_id of
    its component, cluster_size, is_canonical).
    """
    pairs = minhash_pairs(docs, n_hashes, band_size, n, threshold)
    # edges are reused every round and the per-round frames are reused
    # twice (min-propagate, then the compression self-join):
    # localCheckpoint truncates the lineage so the logical plan stays
    # O(1) per round instead of doubling — without it Catalyst
    # re-analyzes a 2^rounds join tree.  On a cluster this is also
    # where a real CC materializes its frontier between rounds.
    e0 = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = e0.union(
        e0.select(F.col("doc_b").alias("doc_a"),
                  F.col("doc_a").alias("doc_b")))
    lab = docs.select("doc_id").distinct() \
        .withColumn("lab", F.col("doc_id"))
    for _ in range(rounds):
        nl = lab.select(F.col("doc_id").alias("nid"),
                        F.col("lab").alias("nlab"))
        m = (lab.alias("l")
             .join(edges.alias("e"),
                   F.col("l.doc_id") == F.col("e.doc_a"), "left")
             .join(nl.alias("n"),
                   F.col("e.doc_b") == F.col("n.nid"), "left")
             .groupBy(F.col("l.doc_id").alias("doc_id"))
             .agg(F.least(
                 F.min("l.lab"),
                 F.coalesce(F.min("n.nlab"), F.min("l.lab"))).alias("lab"))
             ).localCheckpoint()
        t = m.select(F.col("doc_id").alias("tid"),
                     F.col("lab").alias("tlab"))
        lab = (m.alias("m")
               .join(t.alias("t"), F.col("m.lab") == F.col("t.tid"))
               .select(F.col("m.doc_id").alias("doc_id"),
                       F.col("t.tlab").alias("lab")))
    sizes = lab.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (lab.join(sizes, "lab")
            .select(F.col("doc_id"),
                    F.col("lab").alias("cluster_id"),
                    F.col("cluster_size"),
                    (F.col("doc_id") == F.col("lab")).alias("is_canonical")))


def decontaminate(docs: DataFrame, bench_mod: int = 97, n: int = 3,
                  thres: int = 2) -> DataFrame:
    """Benchmark decontamination (LLM-pipeline op): flag training
    documents sharing word n-grams with a held-out benchmark set —
    the standard eval-contamination sweep (n-gram overlap against the
    eval corpus, GPT-3 appendix-C style; public method).

    Benchmark = docs with doc_id % bench_mod == 0; every other doc is
    scored by how many of its DISTINCT n-gram shingles appear in the
    benchmark's shingle set, and flagged when >= thres.  Scale shape:
    the shingle equi-join shuffles only (doc, shingle) pairs; no
    broadcast hint (AQE size-gates the small benchmark side — the r3
    dedup-join lesson), no all-pairs anywhere."""
    sh = shingles(docs, n=n)
    bench = sh.where(f"doc_id % {bench_mod} = 0") \
        .select("s").distinct().withColumn("hit", F.lit(1))
    train = sh.where(f"doc_id % {bench_mod} <> 0")
    g = train.join(bench, "s", "left").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
        .alias("n_overlap"))
    return g.selectExpr(
        "doc_id", "n_shingles", "n_overlap",
        f"CAST(CASE WHEN n_overlap >= {thres} THEN 1 ELSE 0 END"
        " AS BIGINT) AS contaminated")
