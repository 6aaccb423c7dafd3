"""Vector similarity search over embedding columns (``array<float>``).

Two tiers, same output shape, designed for the 100 TB regime:

- **brute_force_topk** — exact cosine top-k. The query side is small by
  construction (a probe set), so it is BROADCAST; the corpus side streams
  partition-parallel with no shuffle until the final per-query top-k
  window (which shuffles only #queries × #candidates-per-partition rows
  after a partial ``row_number`` prune would — at k ≪ N the window input
  is the bottleneck, so keep the probe set bounded).
- **bucketed_ann** — sign-bit LSH (random-hyperplane family degenerated to
  axis hyperplanes: bucket = sign bits of the first ``n_bits`` dims).
  Join on bucket equality restricts candidates to ~N/2^bits per query;
  recall is tunable via multi-probe (not implemented round 1). This is
  the scale path: the bucket join is an equi-join Spark hash-partitions.

All math is expression-level: ``zip_with`` product + sequential
``aggregate`` fold in double — deterministic and portable (the DuckDB
oracle's ``list_dot_product`` folds the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# NOTE: an expression-unrolled dot (64 chained getItem/multiply/add
# nodes) was measured 2.4× SLOWER than the fold on the O(N²) pair scan —
# the huge expression tree falls out of whole-stage codegen. The fast
# exact path for bounded pair scans is neardup_pairs_broadcast below
# (numpy candidate generation + exact fold rescore), not unrolling.


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (padding/empty) vector yields NULL instead
    # of an ANSI DIVIDE_BY_ZERO crash; NULL scores sort last under desc
    # ranking and fail >= thresholds, which is the wanted semantics.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (self-matches excluded).

    Scores are rounded BEFORE ranking so the (score, id) order is a total
    order identical across engines.
    """
    from pyspark.sql import Window

    # norms staged once per vector: the BNLJ scores |queries|×|corpus|
    # candidate rows, and re-folding both norms per row triples the
    # interpreted-lambda work the dot product already costs
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        norm(_as_double(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sign_bucket(vec_col: Column, n_bits: int = 8) -> Column:
    """Bucket id from the sign bits of the first n_bits dimensions.

    ``try_element_at``, not ``element_at``: under ANSI (the session
    default) a vector shorter than n_bits would otherwise abort the job
    with INVALID_ARRAY_INDEX instead of treating the missing dimension
    as a 0-bit — one truncated ingest row must not kill the bucketing
    pass (same degradation hyperplane_bucket gets from zip_with)."""
    b = None
    for i in range(n_bits):
        bit = F.when(
            F.try_element_at(vec_col, F.lit(i + 1)) > 0, F.lit(2 ** i)
        ).otherwise(F.lit(0))
        b = bit if b is None else b + bit
    return b.cast("bigint")


def deterministic_planes(
    dim: int, n_bits: int, salt: str = "lsh"
) -> list[list[float]]:
    """Pseudo-random hyperplane coefficients in [-1, 1), derived from
    md5 so they are identical on every engine/run without an RNG —
    the same portability recipe as the hash-sampling operators. 6-decimal
    rounding keeps the literals exactly representable in SQL text."""
    import hashlib

    return [
        [
            round(
                int(hashlib.md5(f"{salt}|{i}|{j}".encode()).hexdigest()[:8], 16)
                / 2 ** 31
                - 1.0,
                6,
            )
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """True random-hyperplane LSH bucket: bit i = sign(planes[i]·v).

    Unlike :func:`sign_bucket` (axis-aligned: signs of the FIRST n
    dims), every hyperplane mixes ALL dimensions, so bucket collision
    probability follows the SimHash cosine bound ``1 - θ/π`` per bit
    regardless of where the signal lives in the vector. Both engines
    fold the dot product sequentially over identical literals, so the
    bit pattern is deterministic cross-engine."""
    b = None
    for i, p in enumerate(planes):
        d = dot(vec_col, F.array(*[F.lit(float(c)) for c in p]))
        bit = F.when(d > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        b = bit if b is None else b + bit
    return b.cast("bigint")


def _hamming_probes(bucket: Column, n_bits: int, radius: int) -> Column:
    """Array of every bucket within Hamming distance ``radius`` of the
    input — the multi-probe fan-out shared by bucketed_ann and
    neardup_pairs_bucketed. Fan-out is C(n_bits,0..radius):
    1 / 1+n / 1+n+n(n-1)/2 for radius 0/1/2."""
    masks = [0]
    if radius >= 1:
        masks += [2 ** i for i in range(n_bits)]
    if radius >= 2:
        masks += [
            2 ** i | 2 ** j for i in range(n_bits) for j in range(i + 1, n_bits)
        ]
    if radius >= 3:
        raise NotImplementedError("probe radius > 2 not supported")
    return F.array(*[bucket.bitwiseXOR(F.lit(m)) for m in masks])


def bucketed_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    round_digits: int = 6,
    multi_probe: int = 0,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket.

    ``planes`` switches the hash family from axis-aligned sign bits to
    true random hyperplanes (:func:`hyperplane_bucket`,
    ``deterministic_planes``) — better bucket balance when the signal
    is spread across dimensions; ``n_bits`` is then ``len(planes)``.

    ``multi_probe=r`` probes every bucket within Hamming distance r of
    the query's bucket (r ≤ 2; fan-out 1+n_bits at r=1, +C(n_bits,2) at
    r=2) — the standard multi-probe LSH recall/compute trade: near
    neighbors whose borderline dimensions flipped sign land a few bits
    away. The probe fan-out happens on the (small, broadcast) query side
    only; a corpus vector lives in exactly one bucket, so no candidate
    is scored twice.
    """
    from pyspark.sql import Window

    if planes is not None:
        n_bits = len(planes)

        def _bucket(v: Column) -> Column:
            return hyperplane_bucket(v, planes)
    else:
        def _bucket(v: Column) -> Column:
            return sign_bucket(v, n_bits)

    # norms staged once per vector (not re-folded per candidate row —
    # HOF lambdas are interpreted; see neardup_pairs_bucketed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        norm(_as_double(vec_col)).alias("qn"),
        _bucket(_as_double(vec_col)).alias("bucket"),
    )
    if multi_probe >= 1:
        q = q.select(
            "query_id", "qv", "qn",
            F.explode(
                _hamming_probes(F.col("bucket"), n_bits, multi_probe)
            ).alias("bucket"),
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
        _bucket(_as_double(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _centroid_frame(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """(cid, ce) frame: the n smallest-id corpus vectors (deterministic
    seed quantizer)."""
    return (
        corpus.orderBy(F.col(id_col)).limit(n_centroids)
        .select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("ce"))
    )


def _assign_lists(
    corpus: DataFrame, cent: DataFrame, id_col: str, vec_col: str, round_digits: int
) -> DataFrame:
    """(neighbor_id, cv, cv_norm, list_id): each corpus vector's
    argmax-cosine centroid via max(struct(score, -cid)) — partial-
    aggregatable, so the N·K assign rows map-side combine back to N
    before any shuffle. Vector and centroid norms are staged once per
    row/centroid (the assign scores N·K candidates — re-folding norms
    per candidate triples the interpreted-lambda work); ``cv_norm``
    rides along so downstream candidate scoring never re-folds it."""
    # coalesce(score, -2): cosine ∈ [-1,1]∪{NULL(zero-norm)}; -2 sorts a
    # null score below every real one identically in Spark and DuckDB
    cscore = F.coalesce(
        F.round(
            F.try_divide(
                dot(F.col("_v"), F.col("ce")), F.col("_n") * F.col("ce_n")
            ),
            round_digits,
        ),
        F.lit(-2.0),
    )
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("_v"),
            norm(_as_double(vec_col)).alias("_n"),
        )
        .crossJoin(F.broadcast(cent.withColumn("ce_n", norm(F.col("ce")))))
        .select(
            "neighbor_id", "_v", "_n",
            F.struct(cscore.alias("s"), (-F.col("cid")).alias("neg_cid")).alias("sc"),
        )
        .groupBy("neighbor_id")
        .agg(
            F.max("sc").alias("best"),
            F.first("_v").alias("cv"),
            F.first("_n").alias("cv_norm"),
        )
        .select(
            "neighbor_id", "cv", "cv_norm",
            (-F.col("best.neg_cid")).alias("list_id"),
        )
    )


def _probe_lists(
    queries: DataFrame, cent: DataFrame, id_col: str, vec_col: str,
    n_probe: int, round_digits: int,
) -> DataFrame:
    """(query_id, qv, qn, list_id): each query's n_probe nearest
    centroids (window over the small probe set only); the query norm is
    staged once and rides along for candidate scoring."""
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(F.desc("ps"), F.asc("cid"))
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("qv"),
            norm(_as_double(vec_col)).alias("qn"),
        )
        .crossJoin(F.broadcast(cent.withColumn("ce_n", norm(F.col("ce")))))
        .withColumn(
            "ps",
            F.coalesce(
                F.round(
                    F.try_divide(
                        dot(F.col("qv"), F.col("ce")),
                        F.col("qn") * F.col("ce_n"),
                    ),
                    round_digits,
                ),
                F.lit(-2.0),
            ),
        )
        .withColumn("prn", F.row_number().over(wq))
        .where(F.col("prn") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cid").alias("list_id"))
    )


def _score_candidates(
    assigned: DataFrame, probes: DataFrame, k: int, round_digits: int
) -> DataFrame:
    """Equi-join candidates on list_id, exact rounded-cosine top-k."""
    from pyspark.sql import Window

    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")),
                    F.col("qn") * F.col("cv_norm"),
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_centroids`` lists, probe only the query's ``n_probe``
    nearest lists, score exactly within them.

    The three IVF stages, each shuffle-aware:

    1. **Assign** — every corpus vector scores against the (broadcast,
       tiny) centroid set and keeps its argmax-cosine list id via
       ``max(struct(score, -cid))``: a partial-aggregatable ``groupBy``
       that map-side combines the K candidate rows back down to N before
       any shuffle (no window over N·K rows). Cost N·K dot products —
       inherent to IVF, embarrassingly parallel.
    2. **Probe** — each query fans out to its ``n_probe`` nearest lists
       (window over the small probe set only).
    3. **Search** — candidates come from an EQUI-join on ``list_id``
       (queries broadcast), so Spark touches ~``n_probe/K`` of the corpus
       per query instead of all of it; exact rounded-cosine top-k window
       ranks them.

    Centroids are the ``n_centroids`` smallest-id corpus vectors —
    deterministic and oracle-expressible.
    """
    cent = _centroid_frame(corpus, id_col, vec_col, n_centroids)
    assigned = _assign_lists(corpus, cent, id_col, vec_col, round_digits)
    probes = _probe_lists(queries, cent, id_col, vec_col, n_probe, round_digits)
    return _score_candidates(assigned, probes, k, round_digits)


def neardup_pairs_bucketed(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_bits: int = 8,
    round_digits: int = 6,
    multi_probe: int = 1,
) -> DataFrame:
    """Near-dup pairs via sign-bucket candidate generation + exact verify.

    The scale path for :func:`neardup_pairs`: candidate pairs must have
    sign buckets (first ``n_bits`` dims) within Hamming distance
    ``multi_probe`` (0 = identical bucket), so pair generation is an
    EQUI-join Spark hash-partitions — expected ~(1+n_bits)·N²/2^n_bits
    candidate rows at multi_probe=1 instead of the cartesian N²/2 — then
    the exact rounded-cosine threshold verifies each candidate. The
    probe fan-out explodes one join side ×(1+n_bits); each qualifying
    pair matches on exactly one probe value (a vector lives in one real
    bucket), so no dedup pass is needed. Recall remains bounded: pairs
    whose buckets differ in ≥2 bits are not considered — raise
    ``n_bits``/probing or fall back to :func:`neardup_pairs` to measure.
    """
    # norms are computed ONCE per vector here — computing cosine() per
    # candidate would re-fold each side's norm for every one of the
    # ~(1+n_bits)·N²/2^n_bits candidate rows (HOF lambdas are
    # interpreted; tripling the per-candidate fold work is real cost)
    v = emb.select(
        F.col(id_col).alias("_id"),
        _as_double(vec_col).alias("_v"),
        norm(_as_double(vec_col)).alias("_n"),
        sign_bucket(_as_double(vec_col), n_bits).alias("bucket"),
    )
    a = v.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"), "bucket",
    )
    if multi_probe >= 1:
        a = a.select(
            "id_a", "va", "na",
            F.explode(
                _hamming_probes(F.col("bucket"), n_bits, multi_probe)
            ).alias("bucket"),
        )
    b = v.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"), "bucket",
    )
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                ),
                round_digits,
            ),
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 6,
) -> DataFrame:
    """All pairs (a<b) with rounded cosine ≥ threshold — embedding-space
    near-duplicate detection. O(N²/2) scoring: exact brute-force baseline
    kept for recall measurement; at scale use neardup_pairs_bucketed.
    For a BOUNDED population, neardup_pairs_broadcast returns the same
    pair set ~10× faster."""
    # norms staged once per vector (brute_force_topk pattern): the BNLJ
    # scores N²/2 pairs and the interpreted lambda folds dominate — one
    # dot fold per pair instead of dot + two norm folds is a 3× cut.
    # Arithmetic is unchanged (same folds, same na*nb order), so scores
    # stay bit-identical to the unstaged form.
    a = emb.select(
        F.col(id_col).alias("id_a"),
        _as_double(vec_col).alias("va"),
        norm(_as_double(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        _as_double(vec_col).alias("vb"),
        norm(_as_double(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                ),
                round_digits,
            ),
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def neardup_pairs_broadcast(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 6,
    margin: float = 1e-3,
) -> DataFrame:
    """Exact brute-force pair scan for BOUNDED measurement populations —
    the same pair set as :func:`neardup_pairs`, restructured as numpy
    candidate generation + exact expression rescore:

    1. the (bounded — callers cap it; r07 uses ≤2000 vectors) population
       is collected once and broadcast; each partition matmuls its rows
       against the full matrix and emits (id_a < id_b) pairs whose numpy
       cosine ≥ ``threshold - margin``;
    2. survivors (a few thousand, not N²/2) are rescored with the SAME
       fold-dot/round expression ``neardup_pairs`` uses and re-filtered
       at the real threshold.

    The margin covers numpy-vs-sequential-fold FP divergence (relative
    error ~dim·ulp ≈ 1e-14; margin is 11 orders above it), so step 1
    cannot drop a true pair and step 2 makes the scores bit-identical to
    the all-expression baseline. Zero-norm vectors: numpy NaN fails the
    ≥ test, matching try_divide's NULL. NOT for unbounded corpora — the
    collect is the point (one driver materialization buys an O(N²/2)
    interpreted-fold scan back); production near-dup stays
    ``neardup_pairs_bucketed``.
    """
    import numpy as np
    import pandas as pd

    # propagate the INPUT id type (review r9: a hard-coded `long`
    # schema broke Arrow conversion for string/int32 ids, which the
    # sibling pair generators accept)
    id_t = emb.schema[id_col].dataType.simpleString()
    rows = emb.select(F.col(id_col), _as_double(vec_col).alias("v")).where(
        F.col(vec_col).isNotNull()
    ).collect()
    if not rows:
        return emb.sparkSession.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, score double"
        )
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    spark = emb.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_nrm = spark.sparkContext.broadcast(nrm)
    cut = threshold - margin

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(list(pdf["_v"]), dtype=np.float64)
            c_nrm = np.linalg.norm(c_mat, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (c_mat @ b_mat.value.T) / np.outer(c_nrm, b_nrm.value)
            hit = (sims >= cut) & (c_ids[:, None] < b_ids.value[None, :])
            ai, bi = np.nonzero(hit)
            yield pd.DataFrame(
                {"id_a": c_ids[ai], "id_b": b_ids.value[bi]}
            )

    cands = emb.select(
        F.col(id_col), _as_double(vec_col).alias("_v")
    ).where(F.col(vec_col).isNotNull()).mapInPandas(
        gen, schema=f"id_a {id_t}, id_b {id_t}"
    )
    a = emb.select(
        F.col(id_col).alias("id_a"),
        _as_double(vec_col).alias("va"),
        norm(_as_double(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        _as_double(vec_col).alias("vb"),
        norm(_as_double(vec_col)).alias("nb"),
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "score",
            F.round(
                F.try_divide(
                    dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
                ),
                round_digits,
            ),
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.9,
    n_clusters: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023, public):
    cluster the embedding corpus with a coarse quantizer, then WITHIN each
    cluster drop every vector that has a lower-id neighbor with rounded
    cosine ≥ ``tau`` — one canonical representative survives per tight
    semantic neighborhood, and cross-cluster pairs are never scored.

    Output: (id_col, list_id, keep) for EVERY corpus row — callers keep
    ``keep`` rows and get an audit trail for the rest.

    Scale shape (the whole point of the clustering step): pairwise cosine
    is quadratic, so it runs per-cluster only — an equi-join on
    ``list_id`` that Spark hash-partitions, cost Σ Bᵢ² instead of N².
    ``n_clusters`` is the knob that bounds Bᵢ (SemDeDup uses ~100k
    clusters at web scale; the assignment pass is the same broadcast
    argmax as IVF and map-side combines). The drop rule (min-id dominator)
    is deterministic and independent of join order, so replays and
    engine ports agree row-for-row.

    Centroids are the ``n_clusters`` smallest-id corpus vectors
    (deterministic seed quantizer, DuckDB-replayable).
    """
    cent = _centroid_frame(corpus, id_col, vec_col, n_clusters)
    assigned = _assign_lists(corpus, cent, id_col, vec_col, round_digits)
    a = assigned.select(
        F.col("neighbor_id").alias("id_a"), F.col("cv").alias("va"),
        F.col("cv_norm").alias("na"), "list_id",
    )
    b = assigned.select(
        F.col("neighbor_id").alias("id_b"), F.col("cv").alias("vb"),
        F.col("cv_norm").alias("nb"), "list_id",
    )
    sim = F.round(
        F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        round_digits,
    )
    dropped = (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim >= F.lit(tau))
        .select(F.col("id_b").alias("_dropped_id"))
        .distinct()
    )
    return (
        assigned.select(F.col("neighbor_id").alias(id_col), "list_id")
        .join(
            dropped, F.col(id_col) == F.col("_dropped_id"), "left"
        )
        .select(
            id_col, "list_id", F.col("_dropped_id").isNull().alias("keep")
        )
    )
