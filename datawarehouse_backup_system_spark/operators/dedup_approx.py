"""Approximate / content-similarity deduplication at scale.

Beyond the reference's exact row_hash dedup (SURVEY §2.3), a training-data
pipeline needs near-duplicate detection. All operators here are pure
DataFrame compositions — no UDFs — so they stay JVM-side and scale by
partitioning:

- **exact_dedup** — hash-groupBy, the 100 TB version of J1 without order
  semantics (keep min id per content hash).
- **MinHash + LSH** — shingle → K md5-minhashes → band buckets →
  candidate pairs from bucket self-join → exact Jaccard verify. The
  band self-join is the only shuffle that matters; bucket ids are
  md5-uniform so it parallelizes evenly, and candidate verification
  touches only the (tiny) candidate set instead of O(N²) pairs.
- **SimHash** — per-token hash bits, weighted majority vote → compact
  fingerprint; near-dups have small Hamming distance. Entirely
  expression-based (hex-digit bit extraction), groupBy(id) is the only
  shuffle.
- n-gram Jaccard verify for candidate pairs (shared by LSH + brute paths).

Hashes are md5-derived, so results are deterministic and engine-portable
(the DuckDB oracles compute byte-identical signatures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datawarehouse_backup_system_spark.operators.hashing import row_hash_col
from datawarehouse_backup_system_spark.operators.text import tokens as _tokens


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the smallest id per exact content hash (order-free exact dedup;
    the deterministic-order variant is operators.dedup.self_dedup_first)."""
    h = row_hash_col(content_cols)
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_h")
    )


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥1 word ``n``-gram
    with any eval/benchmark document, with the count of distinct shared
    shingles — the overlap audit every pretraining corpus runs before
    training (eval answers leaking into train data inflate scores).

    The eval side is small by construction (benchmarks are thousands of
    docs, the corpus is billions), so its distinct shingle set BROADCASTs
    into an equi-join against the train shingles: the corpus is touched
    in one linear pass, no corpus-side shuffle before the per-doc count.
    """
    t_sh = word_shingles(train, id_col, text_col, n)
    e_sh = word_shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    return (
        t_sh.join(F.broadcast(e_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )


def _staged_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks) — fanned-out, tokenized once. Shared by the array and
    exploded shingle views so their gram recipes can never fork."""
    from datawarehouse_backup_system_spark.operators.skew import (
        fan_out_small_scan,
    )

    return fan_out_small_scan(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))


def _gram_set_expr(toks: Column, n: int) -> Column:
    """DISTINCT word n-gram shingle set of a token array, as one
    expression. n parallel slices zipped, then a trivial concat lambda:
    ~3× faster than transform(sequence)+element_at (higher-order lambdas
    are interpreted; per-element array indexing dominates — measured at
    sf0.1). greatest(…, 0) keeps the slice length total — slice() raises
    on a negative length, and this expression must stay safe even if a
    planner rewrite ever evaluates it on a row the size>=n filter would
    drop (the FilterExec-reordering trap documented in lm.bigram_rows).
    """
    gram_cnt = F.greatest(F.size(toks) - n + 1, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, gram_cnt).alias(f"t{j}") for j in range(n)]
    )
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"t{j}"] for j in range(n)])
    )
    return F.array_distinct(grams)


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document DISTINCT word n-gram shingle SET as an array:
    (id, shset). Documents shorter than n words are dropped — the same
    population :func:`word_shingles` emits, just one row per document
    instead of one per shingle.

    This is the r11-optimization representation of the shingle relation:
    keeping the set in-row means per-document derivations (minhash
    signature, set size, pairwise intersection) stay NARROW expressions
    instead of explode → corpus-wide shuffle → re-aggregate round trips
    (guide §2.3/§2.4 — fewer exchanges, fewer bytes; the exploded form
    remains for consumers that genuinely join ON the shingle value,
    e.g. decontamination).
    """
    # Stage the token array once: higher-order functions are interpreted
    # (no codegen / no common-subexpression elimination), so referencing
    # the raw split() inside the transform lambda would re-split the text
    # per element (_staged_tokens; fan_out_small_scan inside it is the
    # conditional repartition — a no-op on corpus-scale inputs).
    # distinctness per (id, shingle) only needs per-ROW dedup (each doc
    # is one row): array_distinct is a narrow per-row operation.
    staged = _staged_tokens(df, id_col, text_col)
    toks = F.col("_toks")
    return staged.where(F.size(toks) >= n).select(
        F.col(id_col), _gram_set_expr(toks, n).alias("shset")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Expression-only: the :func:`shingle_sets` gram recipe exploded.
    Documents shorter than n words produce no shingles. Use this form
    only when the consumer joins ON the shingle value; per-document
    derivations are cheaper on the un-exploded set (:func:`shingle_sets`).

    The gram-set expression is exploded INLINE (r12 optimization —
    VERDICT r11 What's-wrong #1): composing this view as
    ``shingle_sets(...).select(explode(shset))`` made the generator
    child a plain ATTRIBUTE, so Catalyst's InferFiltersFromGenerate
    (which deliberately skips complex children, SPARK-33544) inferred a
    ``size(shset) > 0 AND isnotnull(shset)`` filter that pushdown then
    inlined BELOW the projection — the whole tokenize+zip+transform+
    array_distinct ran once in the Filter (where interpreted HOF
    subtrees re-evaluate the split per slice reference) and AGAIN in
    the Project. Measured ~2× on every consumer of the exploded view
    (t09/d13/d14/r08) while array-form consumers were unaffected.
    Keeping the expression inside the Generate evaluates it exactly
    once per row; the size>=n filter already drops shingle-less docs.
    """
    staged = _staged_tokens(df, id_col, text_col)
    toks = F.col("_toks")
    return staged.where(F.size(toks) >= n).select(
        F.col(id_col),
        F.explode(_gram_set_expr(toks, n)).alias("shingle"),
    )


def minhash_signature(
    shingles: DataFrame, id_col: str, k: int = 9
) -> DataFrame:
    """K minhash values per id from ONE md5 per shingle.

    ``md5(shingle)`` is split into two 56-bit halves h1, h2 (14 hex chars
    each); hash function i is the Kirsch-Mitzenmacher affine combination
    ``h_i = h1 + i*h2`` and the signature component is MIN over shingles.
    One md5 evaluation per (id, shingle) row instead of K — the k-way
    fan-out is integer multiply-add, which codegen folds into the
    aggregate. Bounds: h1, h2 < 2^56, so h1 + (k-1)*h2 < k*2^56; k ≤ 127
    stays inside signed-64 (no ANSI overflow). Deterministic and portable
    (DuckDB: ``('0x' || substr(md5(s), ..)')::BIGINT`` halves)."""
    assert 1 <= k <= 127, "k*2^56 must fit signed 64-bit"
    h = F.md5(F.col("shingle"))
    staged = shingles.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 14), 16, 10).cast("bigint").alias("_h1"),
        F.conv(F.substring(h, 15, 14), 16, 10).cast("bigint").alias("_h2"),
    )
    aggs = [
        F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"mh{i}")
        for i in range(k)
    ]
    return staged.groupBy(id_col).agg(*aggs)


def minhash_mins(shset: Column, k: int = 9) -> Column:
    """Per-ROW minhash signature of a shingle-set array: array<bigint>
    of the K Kirsch-Mitzenmacher minima, byte-identical to
    :func:`minhash_signature`'s mh0..mh{k-1} (parity pytest-pinned).

    One fold over the set (the :func:`simhash_expr` pattern): the inner
    transform materializes ONE md5 split per element — interpreted HOFs
    have no CSE, so binding the (h1, h2) struct array first keeps the
    hash single-evaluation — and the aggregate's zip_with updates all K
    running minima per element. No explode, no groupBy, NO SHUFFLE:
    the signature becomes a linear map over the corpus (r11
    optimization; the grouped variant shuffled one partially-aggregated
    row per (id, map-partition) — this form shuffles nothing at all).
    """
    assert 1 <= k <= 127, "k*2^56 must fit signed 64-bit"
    hpairs = F.transform(
        F.transform(shset, F.md5),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 14), 16, 10)
            .cast("bigint")
            .alias("h1"),
            F.conv(F.substring(h, 15, 14), 16, 10)
            .cast("bigint")
            .alias("h2"),
        ),
    )
    idx = F.array(*[F.lit(i).cast("bigint") for i in range(k)])
    init = F.array(
        *[F.lit(9223372036854775807).cast("bigint") for _ in range(k)]
    )
    return F.aggregate(
        hpairs,
        init,
        lambda acc, x: F.zip_with(
            acc, idx, lambda m, i: F.least(m, x["h1"] + i * x["h2"])
        ),
    )


def minhash_signature_sets(
    docsh: DataFrame, id_col: str, k: int = 9, set_col: str = "shset"
) -> DataFrame:
    """(id, mh0..mh{k-1}) from a :func:`shingle_sets` frame — the
    shuffle-free signature pass (see :func:`minhash_mins`). The _mins
    array is bound in its own projection; CollapseProject keeps it
    single-evaluation because an expensive expression referenced K
    times is never inlined (plan-pinned in tests)."""
    return docsh.select(
        F.col(id_col), minhash_mins(F.col(set_col), k).alias("_mins")
    ).select(
        F.col(id_col),
        *[
            F.element_at(F.col("_mins"), i + 1).alias(f"mh{i}")
            for i in range(k)
        ],
    )


def lsh_bands(sigs: DataFrame, id_col: str, k: int, band_size: int) -> DataFrame:
    """Signature → (id, band_idx, band_key) rows; ids sharing a band_key in
    a band are candidate near-duplicates."""
    assert k % band_size == 0, "k must be divisible by band_size"
    bands = []
    for b in range(k // band_size):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, F.col("b.band_idx"), F.col("b.band_key"))


def cap_hot_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
) -> DataFrame:
    """Drop rows of buckets larger than ``max_bucket_size`` — THE
    hot-bucket cap, shared by the self-join and incremental LSH paths
    so the cap semantics can never fork between them. ``None`` = no
    cap (passthrough)."""
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (
        df.withColumn("_bn", F.count("*").over(w))
        .where(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Self-join on (band_idx, band_key) → distinct ordered candidate pairs.

    ``max_bucket_size`` drops degenerate hot buckets before the self-join
    (standard LSH practice: a bucket of B members contributes B² join
    rows; near-dup pairs live in tiny buckets, while mega-buckets are
    low-signal artifacts — e.g. many documents sharing the globally
    minimal shingle of a small vocabulary). This bounds worst-case join
    size and removes stragglers at scale.
    """
    bands = cap_hot_buckets(bands, ["band_idx", "band_key"], max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_idx") == F.col(f"b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    k: int = 9,
    band_size: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    stage_path: str | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified duplicate pairs
    (id_a < id_b, exact jaccard ≥ threshold).

    r11 OPTIMIZATION — the shingle relation stays in its PER-DOCUMENT
    ARRAY form (:func:`shingle_sets`) end to end:

    - signatures are a per-row fold (:func:`minhash_mins`) — the old
      explode → groupBy(id) signature pass and its exchange are gone;
    - set sizes are ``F.size`` — the old sizes groupBy and its two
      joins are gone;
    - pair verification joins the candidate list to the array frame
      twice and computes |A∩B| as ``size(array_intersect(..))`` —
      the old form equi-joined the FULL exploded shingle relation on
      (id, shingle), which at corpus scale re-shuffled every shingle
      occurrence; now only candidate documents' sets move (AQE
      broadcasts the candidate list when it is small).

    Values are identical (same md5-derived minima, |A∩B| over the same
    distinct sets — parity pytest-pinned; the DuckDB oracle is
    unchanged). Plan: 2 exchanges touch corpus-derived data (hot-bucket
    window + band self-join — the one shuffle LSH fundamentally needs)
    instead of 6.

    The array frame is referenced by THREE subtrees (signatures, verify
    ×2). By default each consumer re-runs the tokenize+gram projection,
    which beats building an InMemoryRelation (measured r7, re-measured
    r11 on the array form). ``stage_path`` parquet-stages the array
    frame instead: consumers scan columnar storage, executor loss never
    recomputes the gram expansion, and the stage is reusable across runs
    over the same corpus snapshot.
    """
    docsh = shingle_sets(df, id_col, text_col, shingle_n)
    if stage_path is not None:
        docsh.write.mode("overwrite").parquet(stage_path)
        # explicit schema: an all-short corpus (no shingles) stages
        # only _SUCCESS and inference would raise (review r11, the
        # shards.py review-r8 trap)
        docsh = df.sparkSession.read.schema(docsh.schema).parquet(stage_path)
    sigs = minhash_signature_sets(docsh, id_col, k)
    cands = lsh_candidate_pairs(
        lsh_bands(sigs, id_col, k, band_size), id_col, max_bucket_size
    )
    # AQE strategy for the verify joins (review r11): max_bucket_size
    # bounds PER-BUCKET fan-out, not the TOTAL pair count — a near-dup-
    # heavy corpus yields Theta(N) candidate pairs under any cap, and a
    # forced broadcast ships them through the driver (the exact OOM
    # path the r10 fix closed for the uncapped case). AQE broadcasts at
    # runtime exactly when the pair set is actually small.
    a = docsh.select(F.col(id_col).alias("id_a"), F.col("shset").alias("_sa"))
    b = docsh.select(F.col(id_col).alias("id_b"), F.col("shset").alias("_sb"))
    scored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("bigint")
            .alias("n_inter"),
            F.size("_sa").cast("bigint").alias("n_a"),
            F.size("_sb").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return scored.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"
    )


def dedup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve verified near-dup PAIRS into canonical GROUPS: connected
    components by iterative min-label propagation. Output (node,
    canonical_id) where canonical_id = MIN id in the node's component —
    the standard final step of a minhash-dedup pipeline (keep canonical,
    drop the rest), which needs transitivity the pair list alone lacks
    (a~b, b~c ⇒ {a,b,c} even when a~c never scored).

    Each round is one shuffle (neighbor-label join + min-agg); rounds
    bound by component diameter, with driver early-stop when a round
    changes nothing. Convergence detection for NUMERIC ids is a single
    aggregation, not a join: each node's label is min(old ∪ neighbor
    labels), so labels are monotone non-increasing and the label SUM
    strictly decreases iff any label changed (summed as decimal(38,0) —
    no overflow at any node count). For NON-numeric ids (string doc ids
    are common in real corpora) the sum would cast to NULL and NULL ==
    NULL would fake convergence after one hop, silently splitting any
    component of diameter ≥ 2 — so those fall back to a changed-row
    count (old-vs-new label join per round; labels are still monotone
    under lexicographic min, so zero changes ⇒ fixpoint). Labels persist
    per round and the previous round is unpersisted — lineage stays
    shallow. At 100 TB scale this is the same alternating-join shape
    GraphX/GraphFrames use; hot components are bounded because near-dup
    verification caps pair degree.
    """
    # both directions from ONE scan of pairs: a two-branch
    # union(edges, reversed) evaluates the (expensive) pairs pipeline
    # twice when building the persisted frame — measured on c01/d09 once
    # shingles stopped being cached. The explode keeps it single-pass.
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst")
                    ),
                    F.struct(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )

    # Sum-based convergence is only sound for INTEGRAL labels: a
    # fractional label cast to decimal(38,0) rounds, so distinct labels
    # can collide and the sum test could fake convergence (same failure
    # class the string fallback guards against). Float/double/scaled
    # decimals take the changed-count path.
    label_type = labels.schema["label"].dataType
    numeric_ids = isinstance(
        label_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(label_type, T.DecimalType) and label_type.scale == 0)

    def _label_sum(df: DataFrame):
        s = df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if s["s"] is None and s["n"] > 0:  # cast produced NULLs — unsound
            raise TypeError(
                "dedup_groups: label sum is NULL for a non-empty label set"
            )
        return s["s"]

    def _changed(old: DataFrame, new: DataFrame) -> int:
        return (
            old.select("node", F.col("label").alias("_old"))
            .join(new, "node")
            .where(F.col("_old") != F.col("label"))
            .count()
        )

    converged = False
    new_labels = None
    try:
        prev_sum = _label_sum(labels) if numeric_ids else None
        for _ in range(max_iter):
            neighbor_labels = (
                und.join(labels, und.dst == labels.node)
                .select(F.col("src").alias("node"), "label")
            )
            new_labels = (
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .persist()
            )
            if numeric_ids:
                new_sum = _label_sum(new_labels)
                settled = new_sum == prev_sum
                prev_sum = new_sum
            else:
                settled = _changed(labels, new_labels) == 0
            labels.unpersist()
            labels = new_labels
            new_labels = None
            if settled:
                converged = True
                break
    except Exception:
        # mirror the non-convergence branch: never leak persisted frames
        und.unpersist()
        labels.unpersist()
        if new_labels is not None:
            new_labels.unpersist()
        raise
    und.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"dedup_groups did not converge within max_iter={max_iter} "
            "rounds (a component's diameter exceeds it) — returning "
            "partial labels would silently split duplicate groups; "
            "raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("canonical_id"))


def _hex_digit_val(h: Column, pos: int) -> Column:
    """Value 0..15 of the pos-th (1-based) hex char — portable (instr)."""
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, pos, 1)) - 1


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint over whitespace tokens (frequency-weighted).

    bit j of md5(token) = (hexdigit(j//4+1) >> (3 - j%4)) & 1; the
    fingerprint sets bit j iff Σ_tokens (2·bit_j − 1) > 0. The single
    BIGINT fingerprint bounds ``bits`` to 60 (2^j literals must fit a
    signed long; bits%4==0); wider fingerprints would need multiple
    columns. Library default 16 matches the oracle query.
    """
    assert bits % 4 == 0 and 4 <= bits <= 60
    tok = (
        df.select(
            F.col(id_col),
            F.explode(_tokens(F.col(text_col))).alias("token"),
        )
        .withColumn("h", F.md5(F.col("token")))
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                2 * F.shiftright(_hex_digit_val(F.col("h"), j // 4 + 1), 3 - j % 4)
                .bitwiseAND(F.lit(1))
                - 1
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_expr(text_col: Column, bits: int = 16) -> Column:
    """Per-ROW SimHash — identical semantics to :func:`simhash` (parity
    test pins it) but as a pure expression: no explode, no groupBy, NO
    SHUFFLE. This makes the fingerprint usable inside append-mode
    Structured Streaming (stateless projection +
    ``dropDuplicatesWithinWatermark`` = streaming signature dedup) and
    turns the batch fingerprint pass into a linear map.

    The token array is staged and md5'd ONCE per token (interpreted
    HOFs have no CSE — extracting 16 bits from a lambda-recomputed md5
    would hash every token 16×); the fold then accumulates the ±1 bit
    sums in one pass over the hash array.

    NULL text yields a NULL fingerprint (expression semantics); the
    groupBy variant OMITS such rows instead (explode drops them) —
    filter ``text IS NOT NULL`` first where row-set parity matters.
    """
    assert bits % 4 == 0 and 4 <= bits <= 60
    hashes = F.transform(
        _tokens(text_col), lambda t: F.md5(t)
    )

    def _bits(h: Column) -> Column:
        return F.array(
            *[
                F.shiftright(_hex_digit_val(h, j // 4 + 1), 3 - j % 4)
                .bitwiseAND(F.lit(1))
                for j in range(bits)
            ]
        )

    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _bits(h), lambda a, b: a + 2 * b - 1),
    )
    weights = F.array(*[F.lit(2 ** j).cast("bigint") for j in range(bits)])
    return F.aggregate(
        F.zip_with(
            sums, weights,
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — pair distance for simhash buckets."""
    return F.bit_count(a.bitwiseXOR(b))


def incremental_neardup_pairs(
    new_df: DataFrame,
    history_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    k: int = 9,
    band_size: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the EXISTING corpus only —
    the incremental form of :func:`minhash_lsh_dedup` that a 100 TB
    pipeline actually runs per ingest: history is never re-paired with
    itself, so the cost scales with the batch, not the corpus.

    Candidate generation is a band-key equi-join of the (tiny) new-batch
    LSH bands AGAINST the history bands — at scale the history side is
    the persisted LSH index of the corpus (computed once, appended per
    batch; cf. ``stage_path`` in :func:`minhash_lsh_dedup`), and the
    new side broadcasts into it. Verification (exact Jaccard) touches
    only candidate documents' shingles. The hot-bucket cap applies to
    the HISTORY side (a mega-bucket there is the low-signal artifact
    that would fan every future batch out quadratically).

    Output: (id_new, id_hist, n_inter, n_new, n_hist, jaccard) for
    pairs with exact Jaccard >= threshold.

    r11 optimization: the same per-document-array form as
    :func:`minhash_lsh_dedup` — shuffle-free signatures
    (:func:`minhash_mins`), in-row set sizes, and array_intersect
    verification, so the HISTORY side's shingle occurrences are never
    exploded or re-shuffled per batch (only candidate documents' sets
    move through the verify joins).
    """
    dn = shingle_sets(new_df, id_col, text_col, shingle_n)
    dh = shingle_sets(history_df, id_col, text_col, shingle_n)
    bands_new = lsh_bands(
        minhash_signature_sets(dn, id_col, k), id_col, k, band_size
    )
    bands_hist = lsh_bands(
        minhash_signature_sets(dh, id_col, k), id_col, k, band_size
    )
    bands_hist = cap_hot_buckets(
        bands_hist, ["band_idx", "band_key"], max_bucket_size
    )
    cand = (
        F.broadcast(
            bands_new.select(
                F.col(id_col).alias("id_new"), "band_idx", "band_key"
            )
        )
        .join(
            bands_hist.select(
                F.col(id_col).alias("id_hist"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .select("id_new", "id_hist")
        .distinct()
    )
    # candidates are batch-bounded (tiny new side × capped history
    # buckets) ONLY when the cap is set; uncapped, AQE picks the join
    cand_side = F.broadcast(cand) if max_bucket_size is not None else cand
    return (
        cand_side.join(
            dn.select(F.col(id_col).alias("id_new"), F.col("shset").alias("_sn")),
            "id_new",
        )
        .join(
            dh.select(F.col(id_col).alias("id_hist"), F.col("shset").alias("_sh")),
            "id_hist",
        )
        .select(
            "id_new",
            "id_hist",
            F.size(F.array_intersect("_sn", "_sh"))
            .cast("bigint")
            .alias("n_inter"),
            F.size("_sn").cast("bigint").alias("n_new"),
            F.size("_sh").cast("bigint").alias("n_hist"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_new") + F.col("n_hist") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_new", "id_hist", "n_inter", "n_new", "n_hist", "jaccard")
    )
