"""Training-pipeline extensions, round 4: duplicated-span statistics,
DSIR importance weights, leakage-safe splits, per-domain caps, and
linear quality-classifier gating.

All public-method lineage (Lee et al. 2022 dedup spans; Xie et al. 2023
DSIR; C4/RefinedWeb host caps; CCNet-style linear quality filters) — no
reference-repo counterpart; these extend the LLM-curation layer the
builder brief grades as first-class.

Hash-parity rules as repo-wide: md5-prefix integer hashes, arithmetic in
identical left-associated order on both engines, floating aggregates
either decimal-quantized before summing or rounded only at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation, importance, text
from ..operators.hashing import md5_prefix_long
from .base import QuerySpec, load
from .llm_ops import D09_SQL, _neardup_corpus_and_pairs

# --------------------------------------------------------------------------
# t21 — duplicated n-token span statistics (ExactSubstr-lite)
# --------------------------------------------------------------------------
_T21_N = 8


def t21_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count/fraction of 8-token spans that also appear in
    another document (operators.text.dup_spans). The sf0.01 corpus has
    ~1000 genuinely repeated spans, so both the positive and zero paths
    are exercised. doc_id < 500 bounds oracle cost as sf grows."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return text.dup_spans(docs, "doc_id", "text", n=_T21_N)


T21_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t
  FROM documents WHERE doc_id < 500
),
spans AS (
  SELECT doc_id,
         ('0x' || substr(md5(array_to_string(t[i+1:i+8], ' ')), 1, 14))::BIGINT
           AS span_h
  FROM d, UNNEST(range(len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
dup AS (
  SELECT span_h
  FROM (SELECT DISTINCT doc_id, span_h FROM spans)
  GROUP BY span_h HAVING COUNT(*) >= 2
),
totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
dups AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans
  FROM spans WHERE span_h IN (SELECT span_h FROM dup)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       ROUND(CASE WHEN COALESCE(t.n_spans, 0) > 0
                  THEN COALESCE(p.n_dup_spans, 0) * 1.0 / t.n_spans
                  ELSE 0.0 END, 6) AS dup_frac
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 500) b
LEFT JOIN totals t USING (doc_id)
LEFT JOIN dups p USING (doc_id)
"""


# --------------------------------------------------------------------------
# t22 — DSIR hashed-unigram importance weights (target = English docs)
# --------------------------------------------------------------------------
_T22_BUCKETS = 64


def t22_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.importance.dsir_weights with lang='en' as the target
    domain over the whole corpus as source. Bucket log-ratios are
    quantized to DECIMAL(18,9) before the per-doc sum, so the aggregate
    is order-independent and engine-exact."""
    docs = load(spark, sf_dir, "documents")
    return importance.dsir_weights(
        docs,
        "doc_id",
        "text",
        target_pred=F.col("lang") == "en",
        n_buckets=_T22_BUCKETS,
        alpha=1.0,
        quantize_decimals=9,
    )


T22_SQL = rf"""
WITH tok AS (
  SELECT doc_id, lang, token FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS token
    FROM documents
  ) t WHERE token <> ''
),
b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(token), 1, 14))::BIGINT % {_T22_BUCKETS} AS bucket
  FROM tok
),
src AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket),
tgt AS (SELECT bucket, COUNT(*) AS c FROM b WHERE lang = 'en' GROUP BY bucket),
base AS (SELECT unnest(range({_T22_BUCKETS})) AS bucket),
ratio AS (
  SELECT base.bucket,
         CAST(ROUND(
           ln((COALESCE(tgt.c, 0) + 1.0) / (tt.total + {_T22_BUCKETS}.0))
           - ln((COALESCE(src.c, 0) + 1.0) / (st.total + {_T22_BUCKETS}.0)),
         9) AS DECIMAL(18,9)) AS lr
  FROM base
  LEFT JOIN src ON src.bucket = base.bucket
  LEFT JOIN tgt ON tgt.bucket = base.bucket,
       (SELECT COUNT(*) AS total FROM b) st,
       (SELECT COUNT(*) AS total FROM b WHERE lang = 'en') tt
),
agg AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(r.lr) AS DOUBLE) AS weight
  FROM b JOIN ratio r ON r.bucket = b.bucket
  GROUP BY b.doc_id
)
SELECT u.doc_id,
       CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(agg.weight, 0.0) AS weight
FROM (SELECT DISTINCT doc_id FROM documents) u
LEFT JOIN agg ON agg.doc_id = u.doc_id
"""


# --------------------------------------------------------------------------
# t23 — leakage-safe split over the near-dup corpus
# --------------------------------------------------------------------------
def t23_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.curation.leakage_safe_split on the d09 perturbed corpus:
    near-dup components co-travel (split hashed from the component's
    canonical min-id), singletons hash on their own id. The oracle
    replays d09's recursive-CTE component resolution, then the same
    md5 split buckets."""
    corpus, pairs = _neardup_corpus_and_pairs(spark, sf_dir)
    return curation.leakage_safe_split(
        corpus, pairs, "doc_id", val_pct=10, test_pct=10
    )


# Reuse d09's CTE chain verbatim (corpus → pairs → reach); swap only the
# final projection for canonical + hash-bucket split assignment.
_T23_TAIL = """
, groups AS (SELECT node, MIN(r) AS canon FROM reach GROUP BY node),
canon AS (
  SELECT c.doc_id, COALESCE(g.canon, c.doc_id) AS canon
  FROM (SELECT DISTINCT doc_id FROM corpus) c
  LEFT JOIN groups g ON g.node = c.doc_id
),
sel AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(canon AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
  FROM canon
)
SELECT doc_id,
       CASE WHEN b < 10 THEN 'test'
            WHEN b < 20 THEN 'val'
            ELSE 'train' END AS split
FROM sel
"""
_D09_FINAL = "SELECT node, MIN(r) AS canonical_id FROM reach GROUP BY node"
if _D09_FINAL not in D09_SQL:  # ValueError, not assert: -O strips asserts
    raise ValueError("d09 oracle changed shape; update t23 tail")
T23_SQL = D09_SQL.replace(_D09_FINAL, "") + _T23_TAIL


# --------------------------------------------------------------------------
# t24 — per-domain cap (keep best N per source)
# --------------------------------------------------------------------------
_T24_KEEP = 10


def t24_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.curation.domain_cap: keep the 10 longest documents per
    source (length as the quality proxy), doc_id as the deterministic
    tiebreak. One hash-partitioned window — the C4/RefinedWeb per-host
    balancing shape."""
    docs = load(spark, sf_dir, "documents")
    capped = curation.domain_cap(
        docs, "source", [F.col("n_chars").desc()], _T24_KEEP, id_col="doc_id"
    )
    return capped.select("doc_id", "source", "n_chars")


T24_SQL = f"""
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= {_T24_KEEP}
"""


# --------------------------------------------------------------------------
# t25 — linear quality-classifier gate (fixed literal weights)
# --------------------------------------------------------------------------
# Literal weights in the style of a trained linear quality filter.
_T25_W_CHARS = 0.002
_T25_W_TOK = 0.03
_T25_W_PUNCT = -0.5
_T25_BIAS = -1.0


def t25_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear logit z = b + w·(n_chars, n_tokens, punct_ratio) computed
    in fixed left-associated order (bit-identical across engines —
    sigmoid is monotone so gating on z is equivalent to gating on
    σ(z), without cross-engine exp() in the hashed output)."""
    docs = load(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.length("text").cast("double").alias("f_chars"),
        text.token_count(F.col("text")).cast("double").alias("f_tok"),
        (
            text.punct_count(F.col("text")).cast("double")
            * F.lit(1.0)
            / (F.length("text").cast("double") + F.lit(1.0))
        ).alias("f_punct"),
    )
    z = (
        F.lit(_T25_BIAS)
        + F.lit(_T25_W_CHARS) * F.col("f_chars")
        + F.lit(_T25_W_TOK) * F.col("f_tok")
        + F.lit(_T25_W_PUNCT) * F.col("f_punct")
    )
    return feats.select(
        "doc_id",
        F.round(z, 6).alias("logit"),
        (z > 0).alias("keep"),
    )


T25_SQL = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(len(text) AS DOUBLE) AS f_chars,
         CAST(len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS DOUBLE) AS f_tok,
         CAST(len(text) - len(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))
              AS DOUBLE) * 1.0 / (CAST(len(text) AS DOUBLE) + 1.0) AS f_punct
  FROM documents
),
z AS (
  SELECT doc_id,
         {_T25_BIAS} + {_T25_W_CHARS} * f_chars
                     + {_T25_W_TOK} * f_tok
                     + {_T25_W_PUNCT} * f_punct AS zv
  FROM f
)
SELECT doc_id, ROUND(zv, 6) AS logit, zv > 0 AS keep FROM z
"""


SPECS: list[QuerySpec] = [
    QuerySpec("t21_dup_spans", t21_dup_spans, T21_SQL,
              "cross-document duplicated 8-token span statistics"),
    QuerySpec("t22_dsir_weights", t22_dsir_weights, T22_SQL,
              "DSIR hashed-unigram importance weights (en target)"),
    QuerySpec("t23_leakage_split", t23_leakage_split, T23_SQL,
              "near-dup-aware train/val/test split (components co-travel)"),
    QuerySpec("t24_domain_cap", t24_domain_cap, T24_SQL,
              "per-source quality-ranked document cap"),
    QuerySpec("t25_quality_lr", t25_quality_lr, T25_SQL,
              "linear quality-classifier logit gate (literal weights)"),
]


# --------------------------------------------------------------------------
# t26 — hashed bigram-LM score (perplexity-style quality filter)
# --------------------------------------------------------------------------
_T26_PAIR_B = 4096
_T26_CTX_B = 1024
_T26_K = 0.5


def t26_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.lm.bigram_lm_scores over documents: an in-corpus hashed
    bigram LM (CCNet-style perplexity filtering with hashing-trick state
    bounds); decimal-quantized log-prob sums keep the score engine-exact."""
    from ..operators import lm

    docs = load(spark, sf_dir, "documents")
    return lm.bigram_lm_scores(
        docs, "doc_id", "text",
        pair_buckets=_T26_PAIR_B, ctx_buckets=_T26_CTX_B, k=_T26_K,
    )


T26_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         ('0x' || substr(md5(t[i+1] || ' ' || t[i+2]), 1, 14))::BIGINT
           % {_T26_PAIR_B} AS bp,
         ('0x' || substr(md5(t[i+1]), 1, 14))::BIGINT
           % {_T26_CTX_B} AS bc
  FROM d, UNNEST(range(len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
pc AS (SELECT bp, COUNT(*) AS c_pair FROM bg GROUP BY bp),
cc AS (SELECT bc, COUNT(*) AS c_ctx FROM bg GROUP BY bc),
sc AS (
  SELECT bg.doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(ROUND(
           ln((pc.c_pair + {_T26_K}) / (cc.c_ctx + {_T26_K * _T26_PAIR_B})),
         9) AS DECIMAL(18,9))) AS s
  FROM bg JOIN pc ON pc.bp = bg.bp JOIN cc ON cc.bc = bg.bc
  GROUP BY bg.doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       COALESCE(CAST(sc.s AS DOUBLE), 0.0) AS sum_logp,
       CASE WHEN COALESCE(sc.n_bigrams, 0) > 0
            THEN ROUND(CAST(sc.s AS DOUBLE) / sc.n_bigrams, 6) END AS avg_logp
FROM (SELECT DISTINCT doc_id FROM documents) b
LEFT JOIN sc ON sc.doc_id = b.doc_id
"""

SPECS.append(
    QuerySpec("t26_bigram_lm", t26_bigram_lm, T26_SQL,
              "hashed bigram-LM mean log-prob (perplexity-style filter)")
)


# --------------------------------------------------------------------------
# e05 — embedding coverage audit (documents ↔ embeddings alignment)
# --------------------------------------------------------------------------
def e05_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit for multimodal/vector warehouses: per embedding
    label, how many vectors exist, how many align to a document
    (vec_id = doc_id join), and how many are orphans. A single outer
    join + one agg; at scale both sides are id-bucketed so the join
    co-locates. The subset-filtered doc side (doc_id < 250) plants a
    nonzero orphan count so the audit's failure path is exercised."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 250)
    emb = load(spark, sf_dir, "embeddings")
    joined = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), F.lit(1).alias("_m")),
        "vec_id",
        "left_outer",
    ).withColumn("_has_doc", F.col("_m").isNotNull())
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.when(F.col("_has_doc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_with_doc"),
            F.sum(F.when(~F.col("_has_doc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        )
        .select(F.col("label").cast("int").alias("label"),
                "n_vecs", "n_with_doc", "n_orphans")
    )


E05_SQL = """
SELECT CAST(e.label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_doc,
       CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM embeddings e
LEFT JOIN (SELECT doc_id FROM documents WHERE doc_id < 250) d
       ON d.doc_id = e.vec_id
GROUP BY e.label
"""


# --------------------------------------------------------------------------
# t27 — corpus report card (per source × lang health aggregates)
# --------------------------------------------------------------------------
def t27_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily corpus dashboard: per (source, lang) document counts,
    token totals, length stats, and short-doc share. ONE map-side
    combining agg over a narrow projection — the query a warehouse user
    schedules hourly at 100 TB, so it must stay a single shuffle."""
    docs = load(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text"))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0))
            .cast("bigint")
            .alias("n_short"),
        )
    )


T27_SQL = r"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+'))) AS BIGINT)
         AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
FROM documents
GROUP BY source, lang
"""

SPECS.append(
    QuerySpec("e05_embedding_coverage", e05_embedding_coverage, E05_SQL,
              "per-label embedding↔document alignment audit")
)
SPECS.append(
    QuerySpec("t27_corpus_report", t27_corpus_report, T27_SQL,
              "per source×lang corpus health aggregates")
)


# --------------------------------------------------------------------------
# t28 — n-gram diversity per source (self-repetition signal)
# --------------------------------------------------------------------------
def t28_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-over-total word-trigram ratio per source: the corpus-level
    self-repetition/diversity metric (low ratio = templated or boilerplate
    sources; the distinct-n-grams diversity measure from text-generation
    evaluation applied to corpus audit). Trigram hashes are computed in
    ONE array expression and only BIGINTs shuffle; the exact distinct is
    a second agg on the same uniform hash key."""
    docs = load(spark, sf_dir, "documents")
    t = text.tokens(F.col("text"))  # THE canonical tokenizer (review r8)
    # slice+arrays_zip, hash AFTER the explode: md5 inside a transform()
    # lambda runs interpreted per element (~10× slower, measured on the
    # t26 bigram path); the flat post-explode expression is codegen'd.
    tri = F.when(
        F.size(t) >= 3,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 2).alias("a"),
            F.slice(t, 2, F.size(t) - 2).alias("b"),
            F.slice(t, 3, F.size(t) - 2).alias("c"),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))
    rows = docs.select("source", F.explode(tri).alias("_t")).select(
        "source",
        md5_prefix_long(
            F.concat_ws(" ", F.col("_t.a"), F.col("_t.b"), F.col("_t.c"))
        ).alias("h"),
    )
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.countDistinct("h").cast("bigint").alias("n_distinct"),
        F.round(F.countDistinct("h") / F.count(F.lit(1)), 6).alias("diversity"),
    )


T28_SQL = r"""
WITH d AS (
  SELECT source, string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t FROM documents
),
tri AS (
  SELECT source,
         ('0x' || substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 14))::BIGINT AS h
  FROM d, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
       ROUND(COUNT(DISTINCT h) * 1.0 / COUNT(*), 6) AS diversity
FROM tri GROUP BY source
"""


# --------------------------------------------------------------------------
# t29 — padding-waste report (sequence-packing efficiency planning)
# --------------------------------------------------------------------------
_T29_MAXLEN = 128


def t29_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source padding economics at a fixed context length: if each
    document is chunked into ceil(n_tok/L) sequences of length L, how
    many token slots are padding? ``efficiency`` is the number that
    motivates sequence packing (t06) — pure integer arithmetic until the
    final rounded ratio, so the report is engine-exact."""
    docs = load(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text")).cast("bigint")
    per_doc = docs.select(
        "source",
        n_tok.alias("_n"),
        F.floor((n_tok + F.lit(_T29_MAXLEN - 1)) / F.lit(_T29_MAXLEN))
        .cast("bigint")
        .alias("_seqs"),
    )
    return per_doc.groupBy("source").agg(
        F.sum("_n").cast("bigint").alias("total_tokens"),
        F.sum("_seqs").cast("bigint").alias("total_seqs"),
        (F.sum("_seqs") * _T29_MAXLEN - F.sum("_n"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(
            F.sum("_n") / (F.sum("_seqs") * _T29_MAXLEN), 6
        ).alias("efficiency"),
    )


T29_SQL = rf"""
WITH f AS (
  SELECT source,
         len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS n,
         (len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) + {_T29_MAXLEN - 1})
           // {_T29_MAXLEN} AS seqs
  FROM documents
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(seqs) AS BIGINT) AS total_seqs,
       CAST(SUM(seqs) * {_T29_MAXLEN} - SUM(n) AS BIGINT) AS padding_tokens,
       ROUND(SUM(n) * 1.0 / (SUM(seqs) * {_T29_MAXLEN}), 6) AS efficiency
FROM f GROUP BY source
"""

SPECS.append(
    QuerySpec("t28_ngram_diversity", t28_ngram_diversity, T28_SQL,
              "distinct/total trigram diversity per source")
)
SPECS.append(
    QuerySpec("t29_padding_waste", t29_padding_waste, T29_SQL,
              "padding-waste / packing-efficiency report per source")
)


# --------------------------------------------------------------------------
# t30 — OOV rate per source against the corpus top-K vocabulary
# --------------------------------------------------------------------------
_T30_K = 100


def t30_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary pressure per source: build the corpus top-100
    token vocabulary (count desc, token asc — a total order), then
    measure the fraction of each source's token OCCURRENCES that fall
    outside it. The tokenizer-planning companion to t13's vocab build:
    a high-OOV source either needs vocab budget or is noise. Vocab is
    ≤K rows → broadcast left-semi flag; two aggs otherwise."""
    docs = load(spark, sf_dir, "documents")
    # ONE tokenize+explode pass (review r11 pass F: the exploded frame
    # fed both the vocab build and the flag join — two corpus scans —
    # and the join ran per token OCCURRENCE): roll up to
    # (source, token, cnt) first; the vocab derives from the compact
    # rollup and the flag join input shrinks from occurrences to
    # distinct (source, token) pairs.
    counts = (
        docs.select(
            "source",
            F.explode(text.tokens(F.col("text"))).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # persisted: distinct (source, token) pairs — compact — and it
        # feeds both the vocab build and the flag join (the z02 rule:
        # exchange reuse is a heuristic, the persist is a guarantee)
        .persist()
    )
    vocab = (
        counts.groupBy("token")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), F.col("token"))
        .limit(_T30_K)
        .select("token")
    )
    flagged = counts.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "token", "left"
    )
    oov_cnt = F.sum(
        F.when(F.col("_in").isNull(), F.col("cnt")).otherwise(0)
    )
    return flagged.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        oov_cnt.cast("bigint").alias("n_oov"),
        F.round(oov_cnt / F.sum("cnt"), 6).alias("oov_rate"),
    )


T30_SQL = rf"""
WITH tok AS (
  SELECT source, token FROM (
    SELECT source, unnest(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS token
    FROM documents
  ) t WHERE token <> ''
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ORDER BY c DESC, token LIMIT {_T30_K}
  )
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v ON v.token = tok.token
GROUP BY source
"""

SPECS.append(
    QuerySpec("t30_oov_rate", t30_oov_rate, T30_SQL,
              "per-source OOV fraction vs corpus top-K vocabulary")
)


# --------------------------------------------------------------------------
# t31 — sentence segmentation (built-in expression path)
# --------------------------------------------------------------------------
def t31_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence rows: mark-then-split boundaries (portable —
    RE2 has no lookbehind) via functions.udtfs.sentences_expr, exploded
    with position."""
    from ..functions.udtfs import sentences_expr

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    # the synthetic corpus has no sentence punctuation, so boundaries are
    # injected deterministically (both engines identically) before the
    # split — t05's PII-injection pattern
    injected = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit(". "),
            F.substring("text", 61, 60), F.lit("! "),
            F.substring("text", 121, 60), F.lit("? "),
            F.substring("text", 181, 60),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        F.posexplode(sentences_expr(F.col("text"))).alias("sent_idx", "sentence"),
    ).select(
        "doc_id",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        F.length("sentence").cast("bigint").alias("sent_chars"),
        F.md5(F.col("sentence")).alias("sent_hash"),
    )


T31_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         substr(text, 1, 60) || '. ' || substr(text, 61, 60) || '! '
         || substr(text, 121, 60) || '? ' || substr(text, 181, 60) AS text
  FROM documents WHERE doc_id < 300
),
d AS (
  SELECT doc_id,
         list_filter(
           string_split(
             regexp_replace(trim(text), '([.!?])[ \t\n\f\r\x0B]+', '\1' || chr(1), 'g'),
             chr(1)),
           x -> x <> '') AS sents
  FROM inj
)
SELECT doc_id,
       CAST(u.i AS BIGINT) AS sent_idx,
       CAST(len(d.sents[u.i + 1]) AS BIGINT) AS sent_chars,
       md5(d.sents[u.i + 1]) AS sent_hash
FROM d, UNNEST(range(len(d.sents))) AS u(i)
"""

SPECS.append(
    QuerySpec("t31_sentences", t31_sentences, T31_SQL,
              "sentence segmentation rows (portable mark-then-split)")
)


# --------------------------------------------------------------------------
# b02 — per-user behavior sequences (training-sequence assembly)
# --------------------------------------------------------------------------
def b02_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-user event-type sequences — the assembly step for
    behavioral/recommendation training data. Order is total
    ((ts, event_id) — event_id breaks timestamp ties), the sequence is
    fingerprinted so the output stays one compact row per user. ONE
    groupBy: collect_list of (ts, event_id, type) structs, array_sort
    (struct field order IS the sort key), then a pure projection."""
    ev = load(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_s")
        )
        .select(
            "user_id",
            F.size("_s").cast("bigint").alias("seq_len"),
            F.md5(
                F.concat_ws("|", F.transform(F.col("_s"), lambda s: s["event_type"]))
            ).alias("seq_hash"),
            F.element_at(F.col("_s"), 1)["event_type"].alias("first_event"),
            F.element_at(F.col("_s"), -1)["event_type"].alias("last_event"),
        )
    )
    return seq


B02_SQL = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS seq_len,
       md5(string_agg(event_type, '|' ORDER BY ts, event_id)) AS seq_hash,
       MAX(CASE WHEN rn = 1 THEN event_type END) AS first_event,
       MAX(CASE WHEN rn = n THEN event_type END) AS last_event
FROM o
GROUP BY user_id
"""

SPECS.append(
    QuerySpec("b02_user_sequences", b02_user_sequences, B02_SQL,
              "ordered per-user event sequences with fingerprint")
)


# r7 consolidation (COVERAGE.md): t28 -> t19 (distinct-ngram ratio is an
# entropy-family diversity stat), t29 -> t06 (padding waste is the
# pack_sequences accounting). Parity pinned in tests/test_folded_twins.py.
_FOLDED = {"t28_ngram_diversity", "t29_padding_waste",
           # candidate batch: b02 -> a04 (per-user event-sequence twins)
           "b02_user_sequences"}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
