"""Embedding quantization for large-vector-corpus storage/ANN.

Scalar (per-vector min/max) int8 quantization — the standard 4× memory
reduction applied before an embedding corpus is indexed (FAISS
``SQ8``-style, public recipe). Everything is expression-level array
math (``transform`` / ``zip_with`` / ``aggregate``): no UDFs, runs
per-row inside the scan projection, zero shuffles — at 100 TB the
quantization pass is a straight map over the corpus and writes 1/4 the
bytes.

Engine-portability contract (these queries are DuckDB-oracle-checked):
- compute in float64 (the float32→double cast is exact),
- quantize with ``floor(z + 0.5)`` (identical on every engine; plain
  ``round()`` half-up vs half-even differs between engines),
- the quantized codes and their sums are exact integers — hash-stable;
  only reconstruction-error columns need fixed rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, bits: int = 8
) -> DataFrame:
    """Per-vector scalar quantization to ``bits`` (default int8).

    Output per vector: the integer code array ``q`` (0..2^bits-1), the
    dequantization parameters (``q_min``, ``q_scale``), and the max
    absolute reconstruction error. A zero-range vector (scale 0)
    quantizes to all-zero codes and reconstructs exactly.
    """
    levels = (1 << bits) - 1
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.array_min(v).alias("q_min"),
        ((F.array_max(v) - F.array_min(v)) / levels).alias("q_scale"),
    )
    q = F.when(
        F.col("q_scale") == 0,
        F.transform(F.col("_v"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor((x - F.col("q_min")) / F.col("q_scale") + 0.5),
        )
    )
    with_q = staged.withColumn("q", q)
    err = F.array_max(
        F.zip_with(
            F.col("_v"),
            F.col("q"),
            lambda x, c: F.abs(x - (F.col("q_min") + c * F.col("q_scale"))),
        )
    )
    return with_q.select(
        id_col,
        "q",
        "q_min",
        "q_scale",
        err.alias("max_abs_err"),
    )


def dequantize(q: Column, q_min: Column, q_scale: Column) -> Column:
    """Reconstruct the float64 vector from codes + params."""
    return F.transform(q, lambda c: q_min + c * q_scale)


# --------------------------------------------------------------------------
# Product quantization (PQ): m sub-codebooks, ADC search
# --------------------------------------------------------------------------
#
# The classic vector-compression scheme (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", public): split each
# d-dim vector into m contiguous sub-vectors, quantize each against its
# own k-entry codebook, store m small codes per vector. Search runs in
# the compressed domain via ADC — per query, precompute the m×k table
# of (query-subvector ↔ centroid) distances, then every corpus vector's
# approximate distance is m table lookups summed.
#
# Codebooks here are SEED codebooks — the sub-vectors of the k corpus
# rows with the smallest (md5-bucket, id) — not Lloyd-iterated k-means.
# That keeps the whole pipeline expressible in plain relational algebra
# (so the DuckDB oracle can replay it bit-for-bit) and deterministic on
# any engine. Scale shape:
#   * codebook: ORDER BY hash LIMIT k on the corpus — the driver holds
#     k·d doubles (k=16, d=64 → 8 KiB), broadcast everywhere;
#   * encode: explode ×m, broadcast-join ×k candidates, argmin — a
#     map-side plan whose only shuffles are the two keyed argmin/
#     regroup aggregations (partial aggs collapse them);
#   * ADC: the m×k distance table per query is a broadcast; corpus
#     codes never leave their partitions until the final top-k.
#
# Engine parity: every distance is a²+c²−2ac from three SEQUENTIAL-fold
# dot products (matches DuckDB's list_dot_product order), rounded into
# integer micro-units BEFORE any argmin or cross-group sum — integer
# comparisons and integer sums are associativity-proof; float sums
# across groups are not.


def _sq_dist_micros(a: Column, b: Column) -> Column:
    """Squared L2 distance in integer micro-units (round-half-up)."""
    from .similarity import dot

    d = dot(a, a) + dot(b, b) - 2 * dot(a, b)
    return F.floor(d * 1_000_000 + F.lit(0.5)).cast("bigint")


def _unit(vec_col: str) -> Column:
    """Cast to double and L2-normalize (zero vectors stay zero).

    PQ approximates L2 distance, but the engine's exact-search baseline
    ranks by COSINE — on unit vectors ‖a−b‖² = 2−2·cos(a,b), so
    normalizing first makes the ADC order agree with the cosine order
    (the standard FAISS recipe for cosine/IP metrics). Division by the
    sequential-fold norm is engine-portable; parity rounding still
    happens only at the integer-micros distance stage.
    """
    from .similarity import dot

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = F.sqrt(dot(v, v))
    return F.when(n == 0, v).otherwise(F.transform(v, lambda x: x / n))


def pq_seed_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    salt: str = "pq",
) -> DataFrame:
    """(subspace, code, centroid) rows: the k hash-ordered seed rows'
    sub-vectors, code = hash-order rank 0..k-1. m·k rows total."""
    from .sampling import _bucket

    seeds = (
        # NULL vectors filtered BEFORE seeding (review r9: a NULL
        # landing in the k hash-ordered seeds killed the driver with a
        # bare TypeError)
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_sid"), _unit(vec_col).alias("_sv"))
        .orderBy(_bucket(F.col("_sid"), salt), F.col("_sid"))
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("no non-null vectors to seed the codebook")
    dim = len(seeds[0]["_sv"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    spark = df.sparkSession
    rows = [
        (s, code, [float(x) for x in r["_sv"][s * sub:(s + 1) * sub]])
        for code, r in enumerate(seeds)
        for s in range(m)
    ]
    return spark.createDataFrame(
        rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
    )


def _collect_codebook(
    codebook, m: int
) -> tuple[dict[int, list[tuple[int, list[float], float]]], int]:
    """Driver-side codebook: {subspace: [(code, centroid, c·c), ...]}
    plus sub_dim — THE single collection/validation block shared by the
    expression and pandas encoders (their outputs are contractually
    bit-identical, so the fold order and coverage check must never
    fork; review r7). c·c is folded sequentially to match
    list_dot_product's order."""
    cents: dict[int, list[tuple[int, list[float], float]]] = {}
    for r in codebook.collect():
        cc = 0.0
        for x in r["centroid"]:
            cc += x * x  # sequential, matches list_dot_product's fold
        cents.setdefault(r["subspace"], []).append(
            (r["code"], list(r["centroid"]), cc)
        )
    if sorted(cents) != list(range(m)):
        raise ValueError("codebook subspaces do not cover 0..m-1")
    sub_dim = len(next(iter(cents.values()))[0][1])
    return cents, sub_dim


def _assert_encodable(
    df: DataFrame, vec_col: str, m: int, sub_dim: int
) -> None:
    """Corpus-side dimension guard shared by BOTH encoders (review r9:
    pq_encode had no analogue of pq_adc_topk's query guard, so one
    truncated ingest row produced confidently-wrong codes — empty
    slices fold to 0.0 and argmin picks the smallest self-dot centroid
    — silently polluting every later ADC search over the index; and
    the pandas encoder crashed on a NULL row while the expression path
    emitted one, forking the bit-identical contract). One bounded agg;
    fails loudly with the offending row count."""
    want_dim = m * sub_dim
    bad = df.agg(
        F.sum(
            F.when(
                F.col(vec_col).isNull()
                | (F.size(F.col(vec_col)) != want_dim),
                1,
            ).otherwise(0)
        ).alias("n_bad")
    ).first()["n_bad"]
    if bad:
        raise ValueError(
            f"{bad} corpus vector(s) are NULL or not {want_dim}-"
            f"dimensional (codebook: m={m} × sub_dim={sub_dim}) — "
            "filter or repair them before encoding; garbage codes "
            "would silently poison every ADC search over the index"
        )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: DataFrame,
    m: int = 8,
) -> DataFrame:
    """Encode each vector: per subspace, the argmin-distance code.

    Output (id, subspace, code, dist_micros) — one row per (vector,
    subspace); ties on the integer distance break to the smaller code.
    NULL or wrong-dimension vectors fail loudly (`_assert_encodable`).
    """
    from .similarity import dot

    # the codebook is m·k rows by construction — inline it as LITERALS so
    # encoding is a pure map over the scan: no join, no argmin shuffle,
    # and the candidate loop folds ONE dot product per centroid (a·a is
    # staged once per subspace; c·c is a driver-computed constant).
    # d = a·a + c·c − 2·a·c keeps the exact term order of the oracle.
    cents, sub_dim = _collect_codebook(codebook, m)
    _assert_encodable(df, vec_col, m, sub_dim)

    v = _unit(vec_col)
    staged = df.select(
        F.col(id_col),
        *[F.slice(v, s * sub_dim + 1, sub_dim).alias(f"_sub{s}") for s in range(m)],
    ).select(
        id_col,
        *[F.col(f"_sub{s}") for s in range(m)],
        *[dot(F.col(f"_sub{s}"), F.col(f"_sub{s}")).alias(f"_aa{s}") for s in range(m)],
    )
    bests = []
    for s in range(m):
        sub = F.col(f"_sub{s}")
        aa = F.col(f"_aa{s}")
        cands = [
            F.struct(
                F.floor(
                    (aa + F.lit(cc) - 2 * dot(sub, F.array(*[F.lit(x) for x in cv])))
                    * 1_000_000 + F.lit(0.5)
                ).cast("bigint").alias("d"),
                F.lit(code).cast("int").alias("code"),
            )
            for code, cv, cc in sorted(cents[s])
        ]
        bests.append(F.sort_array(F.array(*cands)).getItem(0))
    return staged.select(
        F.col(id_col), F.posexplode(F.array(*bests)).alias("subspace", "_b")
    ).select(
        id_col,
        "subspace",
        F.col("_b.code").alias("code"),
        F.col("_b.d").alias("dist_micros"),
    )


def pq_adc_topk(
    codes: DataFrame,
    code_id: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    codebook: DataFrame,
    m: int = 8,
    k: int = 3,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """ADC search over PQ codes: (query_id, neighbor_id, adc_micros,
    rank ≤ k) by ascending approximate squared distance.

    The per-query distance table (queries × codebook = |q|·m·k rows) is
    built once and broadcast; corpus codes join it map-side, then one
    keyed sum (INTEGER micro-units — associativity-proof) and one
    per-query top-k window.

    With ``rerank=R`` (requires ``corpus``), the ADC order only SHORTLISTS
    R candidates per query; the final top-k re-scores the shortlist with
    exact cosine on the full vectors — FAISS's refine step. Compressed-
    domain distances can't preserve top-k margins on weakly-clustered
    data (the ADC error is of the same order as the neighbor gaps), but
    they concentrate the true neighbors into a small shortlist; the
    re-rank touches only |queries|·R full vectors, so the corpus is
    still scanned in compressed form."""
    from pyspark.sql import Window

    # validate m against the CODEBOOK and the query dims up front: a
    # mismatch makes zip_with pad with NULLs, every adc_micros NULL, and
    # the ascending window then hands back k ARBITRARY ids as "nearest"
    # with no error anywhere (review r7). Both probes are bounded
    # (codebook is m·k rows; ONE distinct-remainder agg over the queries
    # — ADVICE r7: checking only `.first()` let a later query row with a
    # bad dimension through to exactly that silent failure).
    probe = codebook.agg(
        F.count_distinct(F.col("subspace")).alias("n"),
        F.min(F.size("centroid")).alias("sub_dim"),
    ).first()
    cb_m = probe["n"]
    if cb_m != m:
        raise ValueError(
            f"m={m} does not match the codebook's {cb_m} subspaces"
        )
    # the exact expected dimension, and NULL-safe (review r9: under
    # ANSI, size(NULL) is NULL so the old `% m != 0` probe passed NULL
    # vectors — and a 32-dim query against a 64-dim/m=8 codebook passed
    # too since 32 % 8 == 0 — both reproducing the silent arbitrary
    # top-k this guard was added to prevent)
    want_dim = int(probe["sub_dim"]) * m
    bad = queries.agg(
        F.sum(
            F.when(
                F.col(query_vec).isNull()
                | (F.size(_unit(query_vec)) != want_dim),
                1,
            ).otherwise(0)
        ).alias("n_bad")
    ).first()["n_bad"]
    if bad:
        raise ValueError(
            f"{bad} query vector(s) are NULL or not {want_dim}-dimensional"
            f" (codebook: m={m} × sub_dim={want_dim // m})"
        )

    qv = _unit(query_vec)
    dim_expr = F.size(qv)
    sub_len = (dim_expr / m).cast("int")
    qslices = F.array(*[
        F.slice(qv, F.lit(s).cast("int") * sub_len + 1, sub_len)
        for s in range(m)
    ])
    qsub = queries.select(
        F.col(query_id).alias("_qid"), F.posexplode(qslices).alias("subspace", "qsub")
    )
    table = qsub.join(F.broadcast(codebook), "subspace").select(
        "_qid",
        "subspace",
        "code",
        _sq_dist_micros(F.col("qsub"), F.col("centroid")).alias("_qd"),
    )
    scored = (
        codes.withColumnRenamed(code_id, "_nid")
        .join(F.broadcast(table), ["subspace", "code"])
        .where(F.col("_nid") != F.col("_qid"))
        .groupBy("_qid", "_nid")
        .agg(F.sum("_qd").alias("adc_micros"))
    )
    w = Window.partitionBy("_qid").orderBy(
        F.asc("adc_micros"), F.asc("_nid")
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                F.col("_qid").alias("query_id"),
                F.col("_nid").alias("neighbor_id"),
                "adc_micros",
                "rank",
            )
        )
    if corpus is None:
        raise ValueError("rerank requires the corpus vectors")
    from .similarity import _as_double, dot as vdot, norm

    shortlist = (
        scored.withColumn("_srank", F.row_number().over(w))
        .where(F.col("_srank") <= rerank)
        .select("_qid", "_nid", "adc_micros")
    )
    cvec = corpus.select(
        F.col(code_id).alias("_nid"),
        _as_double(query_vec).alias("_cv"),
        norm(_as_double(query_vec)).alias("_cn"),
    )
    qvec = queries.select(
        F.col(query_id).alias("_qid"),
        _as_double(query_vec).alias("_qv"),
        norm(_as_double(query_vec)).alias("_qn"),
    )
    exact = (
        cvec.join(F.broadcast(shortlist), "_nid")
        .join(F.broadcast(qvec), "_qid")
        .withColumn(
            "_score",
            F.round(
                F.try_divide(
                    vdot(F.col("_qv"), F.col("_cv")),
                    F.col("_qn") * F.col("_cn"),
                ),
                6,
            ),
        )
    )
    w2 = Window.partitionBy("_qid").orderBy(F.desc("_score"), F.asc("_nid"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_nid").alias("neighbor_id"),
            "adc_micros",
            "rank",
        )
    )


def pq_encode_pandas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: DataFrame,
    m: int = 8,
) -> DataFrame:
    """Arrow-batched numpy variant of :func:`pq_encode` — identical
    output, ~order-of-magnitude faster per row.

    The accumulations run DIM-SEQUENTIALLY but row-vectorized (one
    ``acc += x[:, i] * c[i]`` per dimension), so every row sees the
    same left-assoc IEEE addition order as the expression path's
    sequential fold and the oracle's ``list_dot_product`` — the numpy
    speedup comes from batching rows, never from re-associating sums
    (``np.dot`` uses pairwise summation and would NOT be bit-stable
    against the fold). Use this form when the encode map dominates; the
    expression path stays the no-Python default.
    """
    import numpy as np
    import pandas as pd

    cents, sub_dim = _collect_codebook(codebook, m)
    _assert_encodable(df, vec_col, m, sub_dim)
    # per subspace: (k, sub_dim) centroid matrix + (k,) self-dot vector,
    # rows in code order so argmin's first-hit tiebreak = smallest code
    cmats = {
        s: (
            np.array([cv for _, cv, _ in sorted(cents[s])], dtype=np.float64),
            np.array([cc for _, _, cc in sorted(cents[s])], dtype=np.float64),
        )
        for s in range(m)
    }

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def encode(batches):
        for pdf in batches:
            ids = pdf["_id"].to_numpy()
            V = np.array(list(pdf["_v"]), dtype=np.float64)
            if V.size == 0:
                continue
            # sequential-fold norm, then per-element division (matches
            # the expression path's _unit exactly)
            nsq = np.zeros(len(V))
            for i in range(V.shape[1]):
                nsq += V[:, i] * V[:, i]
            n = np.sqrt(nsq)
            safe = np.where(n == 0, 1.0, n)
            Vn = V / safe[:, None]
            out_id, out_s, out_code, out_d = [], [], [], []
            for s in range(m):
                sub = Vn[:, s * sub_dim:(s + 1) * sub_dim]
                aa = np.zeros(len(V))
                for i in range(sub_dim):
                    aa += sub[:, i] * sub[:, i]
                cmat, cself = cmats[s]
                dists = np.empty((len(V), cmat.shape[0]), dtype=np.int64)
                for c in range(cmat.shape[0]):
                    ac = np.zeros(len(V))
                    for i in range(sub_dim):
                        ac += sub[:, i] * cmat[c, i]
                    dists[:, c] = np.floor(
                        (aa + cself[c] - 2 * ac) * 1_000_000 + 0.5
                    ).astype(np.int64)
                best = dists.argmin(axis=1)  # first min → smallest code
                out_id.append(ids)
                out_s.append(np.full(len(V), s, dtype=np.int32))
                out_code.append(best.astype(np.int32))
                out_d.append(dists[np.arange(len(V)), best])
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_id),
                    "subspace": np.concatenate(out_s),
                    "code": np.concatenate(out_code),
                    "dist_micros": np.concatenate(out_d),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return src.mapInPandas(
        encode,
        schema=f"{id_col} {id_type}, subspace INT, code INT, dist_micros BIGINT",
    )
