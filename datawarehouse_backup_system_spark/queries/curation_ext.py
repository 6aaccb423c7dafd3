"""Curation-extension queries: the round-4 training-data operators.

Five new first-class LLM-pipeline capabilities, each an operator under
the hard (driver/DuckDB) correctness signal:

- **t11** — cross-document LINE-level boilerplate removal
  (:func:`~..operators.text.line_dedup`, the CCNet/RefinedWeb pass):
  multi-line documents are synthesized deterministically (8-token body
  lines + a header line shared by ALL docs + a footer shared by half),
  so the oracle proves the frequent lines vanish from every document
  while unique lines survive in order.
- **t12** — deterministic domain-mixture sampling to per-domain token
  budgets (:func:`~..operators.sampling.domain_mixture`): the mixing
  step of a pretraining pipeline, hash-derived so the sample is
  reproducible across engines/retries; verified via the per-domain
  achieved-vs-target summary.
- **t13** — corpus-wide vocabulary top-k (unigrams + bigrams) — the
  counting pass a BPE/vocab build starts from.
- **t14** — per-document TF-IDF top terms (exact-int divisions evaluated
  in double with oracle-identical expression shape).
- **e01** — int8 scalar quantization of the embedding corpus
  (FAISS-SQ8-style): codes and code-sums are exact integers, so the
  quantizer itself is hash-verified, plus a bounded reconstruction
  error column.

At 100 TB: t11 is one near-unique-key agg + an AQE-broadcast anti-join;
t12 never shuffles the corpus (one domain agg + broadcast plan +
stateless filter); t13/t14 are Zipf-friendly partial-agg groupBys; e01
is a pure per-row projection writing 1/4 the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import zorder
from ..operators.quantize import quantize_embeddings
from ..operators.sampling import domain_mixture
from ..operators.text import (
    line_dedup,
    tfidf_top_terms,
    token_count,
    tokens,
    vocab_topk,
)
from .base import QuerySpec, load

# --------------------------------------------------------------------------
# t11 — line-level boilerplate dedup over synthesized multi-line docs
# --------------------------------------------------------------------------
_T11_HEADER = "== site header: all rights reserved =="
_T11_FOOTER = "standard footer text"
_T11_MIN_DF = 10
_T11_LINE_TOKENS = 8


def _synth_multiline(docs: DataFrame) -> DataFrame:
    """documents.text has no newlines; build deterministic multi-line
    docs: body = 8-token lines from the real text, plus a header line
    every doc shares and a footer line even doc_ids share. The same
    synthesis runs in the oracle, so the line_dedup comparison is over
    identical inputs."""
    t = F.split(F.trim(F.col("text")), " ")
    n_lines = F.ceil(F.size(t) / F.lit(8.0)).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice(t, i * _T11_LINE_TOKENS + 1, _T11_LINE_TOKENS), " "
            ),
        ),
        "\n",
    )
    text = F.concat(
        F.lit(_T11_HEADER + "\n"),
        body,
        F.when(F.col("doc_id") % 2 == 0, F.lit("\n" + _T11_FOOTER)).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", text.alias("text"))


def t11_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _synth_multiline(load(spark, sf_dir, "documents"))
    return line_dedup(docs, "doc_id", "text", min_df=_T11_MIN_DF)


T11_SQL = f"""
WITH toks AS (
  -- literal-space split ON PURPOSE: _synth_multiline's Spark side
  -- splits on ' ' (synthesis input, not tokenization) — review r11
  -- changed only the five oracles whose Spark side uses tokens()
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
synth AS (
  SELECT doc_id,
    '{_T11_HEADER}' || chr(10) ||
    array_to_string(
      list_transform(range(0, CAST(ceil(len(t)/8.0) AS BIGINT)),
                     i -> array_to_string(t[(i*{_T11_LINE_TOKENS}+1):(i*{_T11_LINE_TOKENS}+{_T11_LINE_TOKENS})], ' ')),
      chr(10))
    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '{_T11_FOOTER}' ELSE '' END
      AS text
  FROM toks
),
split_docs AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth
),
lines AS (
  SELECT doc_id, u.s['pos'] AS pos, u.s['line'] AS line, md5(u.s['line']) AS lh
  FROM split_docs,
       unnest(list_transform(range(0, len(ls)),
                             i -> {{'pos': i, 'line': ls[i+1]}})) u(s)
),
boiler AS (
  SELECT lh FROM lines WHERE trim(line) <> '' GROUP BY lh
  HAVING count(DISTINCT doc_id) >= {_T11_MIN_DF}
),
kept AS (
  SELECT l.* FROM lines l ANTI JOIN boiler b ON l.lh = b.lh
),
reassembled AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.ls) AS INT) AS n_lines,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(r.clean_text, '') AS clean_text
FROM split_docs s LEFT JOIN reassembled r ON s.doc_id = r.doc_id
"""


# --------------------------------------------------------------------------
# t12 — domain-mixture sampling to per-domain token budgets
# --------------------------------------------------------------------------
_T12_SALT = "mx"


def t12_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    targets = (
        docs.select("source")
        .distinct()
        .withColumn(
            "target_tokens", (300 * (src_num % 4 + 1)).cast("bigint")
        )
    )
    mix = domain_mixture(
        docs, "doc_id", "source", "n_tokens", targets, salt=_T12_SALT
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    sampled = mix.groupBy("source").agg(
        F.count(F.lit(1)).alias("sampled_docs"),
        F.sum("n_tokens").alias("sampled_tokens"),
    )
    return (
        totals.join(targets, "source")
        .join(sampled, "source", "left")
        .select(
            "source",
            "total_docs",
            "total_tokens",
            "target_tokens",
            F.coalesce("sampled_docs", F.lit(0)).alias("sampled_docs"),
            F.coalesce("sampled_tokens", F.lit(0)).alias("sampled_tokens"),
        )
    )


T12_SQL = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) AS INT) AS n_tokens
  FROM documents
),
targets AS (
  SELECT DISTINCT source,
         CAST(300 * (CAST(substr(source, 4) AS INT) % 4 + 1) AS BIGINT)
           AS target_tokens
  FROM documents
),
totals AS (
  SELECT source, count(*) AS total_docs, sum(n_tokens) AS total_tokens
  FROM docs GROUP BY source
),
plan AS (
  SELECT t.source, t.total_docs, t.total_tokens, g.target_tokens,
         CAST(floor(least(1.0, g.target_tokens * 1.0 / t.total_tokens)
                    * 1000000) AS BIGINT) AS thresh
  FROM totals t JOIN targets g USING (source)
),
sampled AS (
  SELECT d.source, count(*) AS sampled_docs, sum(d.n_tokens) AS sampled_tokens
  FROM docs d JOIN plan p USING (source)
  WHERE CAST('0x' || substr(md5('{_T12_SALT}' || CAST(d.doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) % 1000000 < p.thresh
  GROUP BY d.source
)
SELECT p.source,
       CAST(p.total_docs AS BIGINT) AS total_docs,
       CAST(p.total_tokens AS BIGINT) AS total_tokens,
       p.target_tokens,
       CAST(coalesce(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
       CAST(coalesce(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
FROM plan p LEFT JOIN sampled s ON p.source = s.source
"""


# --------------------------------------------------------------------------
# t13 — corpus vocabulary top-k (unigrams + bigrams)
# --------------------------------------------------------------------------
_T13_K = 25


def t13_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return vocab_topk(docs, "text", k=_T13_K)


T13_SQL = f"""
WITH toks AS (
  SELECT string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM documents
),
uni AS (SELECT 'uni' AS kind, unnest(t) AS term FROM toks),
bi AS (
  SELECT 'bi' AS kind,
         unnest(list_transform(range(2, len(t) + 1),
                               i -> t[i-1] || ' ' || t[i])) AS term
  FROM toks WHERE len(t) >= 2
),
counts AS (
  SELECT kind, term, count(*) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY kind, term
)
SELECT kind, term, cnt, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY kind
                               ORDER BY cnt DESC, term) AS rank
  FROM counts
) WHERE rank <= {_T13_K}
"""


# --------------------------------------------------------------------------
# t14 — per-document TF-IDF top terms
# --------------------------------------------------------------------------
_T14_TOP_N = 3


def t14_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top_n=_T14_TOP_N)


T14_SQL = f"""
WITH tf AS (
  SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) AS term FROM documents
),
cnt AS (
  SELECT doc_id, term, count(*) AS tf_count FROM tf GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf_count) AS doc_tokens FROM cnt GROUP BY doc_id),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM cnt GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT c.doc_id, c.term,
         (c.tf_count * 1.0 / dl.doc_tokens)
           * ln(nd.n_docs * 1.0 / dfreq.doc_freq) AS score
  FROM cnt c JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, round(score, 6) AS tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= {_T14_TOP_N}
"""


# --------------------------------------------------------------------------
# e01 — int8 scalar quantization of the embedding corpus
# --------------------------------------------------------------------------
def e01_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    return q.select(
        "vec_id",
        F.size("q").alias("n_dims"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("q_sum"),
        F.element_at("q", 1).alias("q_first"),
        F.element_at("q", -1).alias("q_last"),
        F.array_min("q").alias("code_min"),
        F.array_max("q").alias("code_max"),
        F.round("q_min", 6).alias("v_min"),
        F.round("max_abs_err", 6).alias("max_err"),
    )


#: the SQ8 quantize CTE chain (embedding -> q_min/q_scale -> integer
#: codes) shared by E01_SQL and _R05_APPROX_SQL, so the two oracles can
#: never silently replay different quantizers (review r8)
_SQ8_CTES = """
WITH vsrc AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sq AS (
  SELECT vec_id, v, list_min(v) AS q_min,
         (list_max(v) - list_min(v)) / 255 AS q_scale
  FROM vsrc
),
qz AS (
  SELECT vec_id, v, q_min, q_scale,
         CASE WHEN q_scale = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(
                     v, x -> CAST(floor((x - q_min) / q_scale + 0.5) AS BIGINT))
         END AS q
  FROM sq
)"""


E01_SQL = f"""{_SQ8_CTES}
SELECT vec_id,
       CAST(len(q) AS INT) AS n_dims,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       q[1] AS q_first,
       q[-1] AS q_last,
       CAST(list_min(q) AS BIGINT) AS code_min,
       CAST(list_max(q) AS BIGINT) AS code_max,
       round(q_min, 6) AS v_min,
       round(list_max(list_transform(range(1, len(v) + 1),
                                     i -> abs(v[i] - (q_min + q[i] * q_scale)))),
             6) AS max_err
FROM qz
"""


# --------------------------------------------------------------------------
# r05 — recall@3 of exact search over the SQ8-quantized corpus
# --------------------------------------------------------------------------
def r05_recall_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number that justifies e01 at scale: top-k over the
    DEQUANTIZED int8 corpus vs top-k over the original float corpus.
    High recall ⇒ the 4× smaller representation is safe to index; the
    recall rows themselves are hash-verified by the oracle (which
    replays quantize→dequantize→score in SQL)."""
    from ..operators.quantize import dequantize
    from ..operators import similarity
    from .extras import _emb_queries, _recall_frame

    emb, probes = _emb_queries(spark, sf_dir)
    qz = quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    deq = qz.select(
        "vec_id",
        dequantize(F.col("q"), F.col("q_min"), F.col("q_scale")).alias(
            "embedding"
        ),
    )
    exact = similarity.brute_force_topk(emb, probes, k=3)
    approx = similarity.brute_force_topk(
        deq, deq.where(F.col("vec_id") % 100 == 0), k=3
    )
    return _recall_frame(exact, approx)


_R05_APPROX_SQL = f"""{_SQ8_CTES},
dv AS (
  SELECT vec_id, list_transform(q, c -> q_min + c * q_scale) AS e FROM qz
),
qr AS (SELECT vec_id AS query_id, e AS qe FROM dv WHERE vec_id % 100 = 0),
scored AS (
  SELECT qr.query_id, dv.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, e)
               / NULLIF(sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(e, e)), 0),
               6) AS score
  FROM qr JOIN dv ON dv.vec_id <> qr.query_id
)
SELECT query_id, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _r05_sql() -> str:
    from .extras import _recall_sql

    return _recall_sql(_R05_APPROX_SQL)


# --------------------------------------------------------------------------
# c01 — canonical-representative selection per near-dup group
# --------------------------------------------------------------------------
def c01_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a pipeline actually DOES with d09's connected components:
    keep one representative per duplicate group and drop the rest. The
    standard heuristic keeps the longest member (perturbed variants are
    truncations); ties break on doc id so the choice is total. Output is
    the per-group decision record — group id, member count, the kept doc
    and its length — i.e. the audit log of the dedup pass.

    Scale: reuses the d09 component labels (one bounded iterative
    pass over near-dup pairs — components are small by construction);
    the selection itself is ONE window over members keyed by group, and
    member counts ride the same shuffle. No new corpus-wide work.
    """
    from pyspark.sql import Window

    from ..operators.dedup_approx import dedup_groups
    from .llm_ops import _neardup_corpus_and_pairs

    corpus, pairs = _neardup_corpus_and_pairs(spark, sf_dir)
    groups = dedup_groups(pairs)
    n_tok = corpus.select(
        F.col("doc_id"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    members = groups.join(n_tok, groups.node == n_tok.doc_id).select(
        "canonical_id", "node", "n_tokens"
    )
    # ONE shuffle on canonical_id serves both outputs: the ranked
    # representative and the member count ride the same window
    # partitioning, so the members subtree (which contains the
    # ITERATIVE component pass) is evaluated once — the old
    # kept-join-stats form evaluated it twice (union-double-eval
    # lesson, SCALE.md)
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("n_tokens"), F.asc("node")
    )
    wall = Window.partitionBy("canonical_id")
    return (
        members.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wall))
        .where(F.col("rk") == 1)
        .select(
            "canonical_id",
            "n_members",
            F.col("node").alias("kept_doc_id"),
            F.col("n_tokens").alias("kept_n_tokens"),
        )
    )


def _c01_sql() -> str:
    from .llm_ops import D09_SQL

    return f"""
WITH groups AS (SELECT node, canonical_id FROM ({D09_SQL}) g),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 1000,
         array_to_string(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')[3:], ' ')
  FROM documents
  WHERE doc_id < 40 AND len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) > 8
  UNION ALL
  SELECT doc_id + 2000,
         array_to_string(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')[5:], ' ')
  FROM documents
  WHERE doc_id < 40 AND len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) > 8
),
ntok AS (
  SELECT doc_id,
         CAST(len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) AS INT) AS n_tokens
  FROM corpus
),
members AS (
  SELECT g.canonical_id, g.node, n.n_tokens
  FROM groups g JOIN ntok n ON n.doc_id = g.node
),
kept AS (
  SELECT canonical_id, node AS kept_doc_id, n_tokens AS kept_n_tokens
  FROM (
    SELECT *, row_number() OVER (PARTITION BY canonical_id
                                 ORDER BY n_tokens DESC, node) AS rk
    FROM members
  ) WHERE rk = 1
),
stats AS (
  SELECT canonical_id, count(*) AS n_members FROM members GROUP BY canonical_id
)
SELECT s.canonical_id, s.n_members, k.kept_doc_id, k.kept_n_tokens
FROM stats s JOIN kept k USING (canonical_id)
"""


# --------------------------------------------------------------------------
# t15 — sliding-window document chunking (RAG / pretraining prep)
# --------------------------------------------------------------------------
_T15_CHUNK = 32
_T15_OVERLAP = 8


def t15_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text",
        chunk_tokens=_T15_CHUNK, overlap=_T15_OVERLAP,
    )


_T15_STRIDE = _T15_CHUNK - _T15_OVERLAP
T15_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM documents
),
chunked AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, greatest(1, CAST(ceil((len(t) - {_T15_OVERLAP}) / {_T15_STRIDE}.0) AS BIGINT))),
           i -> {{'chunk_id': i,
                 'chunk_text': array_to_string(
                     t[(i*{_T15_STRIDE}+1):(i*{_T15_STRIDE}+{_T15_CHUNK})], ' ')}}
         )) AS c
  FROM toks
)
SELECT doc_id,
       CAST(c['chunk_id'] AS INT) AS chunk_id,
       CAST(len(string_split(c['chunk_text'], ' ')) AS INT) AS n_chunk_tokens,
       c['chunk_text'] AS chunk_text
FROM chunked
"""


# --------------------------------------------------------------------------
# t16 — per-domain exact-rank quantile filter (cut the worst quartile)
# --------------------------------------------------------------------------
def t16_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import quantile_filter

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_filter(
        docs, "doc_id", "source", "n_chars", drop_frac=0.25
    )


T16_SQL = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
  WHERE n_chars IS NOT NULL  -- NULL scores are unrankable (r9 parity)
) WHERE rk > floor(n * 0.25)
"""


# --------------------------------------------------------------------------
# i01 — incremental near-dup: new batch vs existing corpus
# --------------------------------------------------------------------------
def i01_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest near-dup pass: a perturbed 'new batch' (every 7th doc,
    first 3 tokens dropped, re-idd +500000) is deduped AGAINST the full
    corpus without history ever re-pairing with itself — the cost shape
    a 100 TB pipeline needs (batch × index, not corpus × corpus)."""
    from ..operators.dedup_approx import incremental_neardup_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    new = docs.where((F.col("doc_id") % 7 == 0) & (F.size(toks) > 6)).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.array_join(F.slice(toks, 4, F.size(toks) - 3), " ").alias("text"),
    )
    pairs = incremental_neardup_pairs(
        new, docs, "doc_id", "text",
        shingle_n=3, k=9, band_size=3, threshold=0.5, max_bucket_size=20,
    )
    return pairs.select(
        "id_new", "id_hist", "n_inter", "n_new", "n_hist",
        F.round("jaccard", 6).alias("jaccard"),
    )


_I01_MH = ", ".join(f"MIN(h1 + {i} * h2) AS mh{i}" for i in range(9))


def _i01_bands(side: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh{3*b} || '|' || mh{3*b+1} || '|' || mh{3*b+2}) AS band_key "
        f"FROM sigs_{side}"
        for b in range(3)
    )


I01_SQL = f"""
WITH hist AS (SELECT doc_id, text FROM documents),
new_batch AS (
  SELECT doc_id + 500000 AS doc_id,
         array_to_string(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')[4:], ' ') AS text
  FROM documents
  WHERE doc_id % 7 = 0 AND len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) > 6
),
toks_hist AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM hist),
toks_new AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM new_batch),
sh_hist AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks_hist, UNNEST(range(len(t) - 2)) AS u(i) WHERE len(t) >= 3
),
sh_new AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks_new, UNNEST(range(len(t) - 2)) AS u(i) WHERE len(t) >= 3
),
h_hist AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM sh_hist
),
h_new AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM sh_new
),
sigs_hist AS (SELECT doc_id, {_I01_MH} FROM h_hist GROUP BY doc_id),
sigs_new AS (SELECT doc_id, {_I01_MH} FROM h_new GROUP BY doc_id),
bands_hist_all AS ({_i01_bands('hist')}),
bands_new AS ({_i01_bands('new')}),
bands_hist AS (
  SELECT doc_id, band_idx, band_key FROM bands_hist_all
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key) <= 20
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, h.doc_id AS id_hist
  FROM bands_new n JOIN bands_hist h
    ON n.band_idx = h.band_idx AND n.band_key = h.band_key
),
sizes_new AS (SELECT doc_id, COUNT(*) AS n_new FROM sh_new GROUP BY doc_id),
sizes_hist AS (SELECT doc_id, COUNT(*) AS n_hist FROM sh_hist GROUP BY doc_id),
inter AS (
  SELECT c.id_new, c.id_hist, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh_new sa ON sa.doc_id = c.id_new
  JOIN sh_hist sb ON sb.doc_id = c.id_hist AND sb.shingle = sa.shingle
  GROUP BY c.id_new, c.id_hist
)
SELECT id_new, id_hist, n_inter, zn.n_new, zh.n_hist,
       ROUND(n_inter * 1.0 / (zn.n_new + zh.n_hist - n_inter), 6) AS jaccard
FROM inter
JOIN sizes_new zn ON zn.doc_id = id_new
JOIN sizes_hist zh ON zh.doc_id = id_hist
WHERE n_inter * 1.0 / (zn.n_new + zh.n_hist - n_inter) >= 0.5
"""


# --------------------------------------------------------------------------
# z01 — Z-order (Morton) clustering code
# --------------------------------------------------------------------------
_Z_BITS = 10


def z01_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bit-interleaved sort key behind multi-column data skipping
    (``operators.zorder``): code correctness is what makes the layout
    claim checkable, so the code itself goes under the oracle. x/y are
    the two predicate columns a warehouse would cluster events by
    (user and value-cents), clamped to 2^10 buckets."""
    from ..operators.zorder import morton_code

    ev = load(spark, sf_dir, "events")
    lim = F.lit(1 << _Z_BITS)
    x = F.pmod(F.col("user_id"), lim)
    y = F.pmod(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"), lim
    )
    return ev.select(
        "event_id",
        x.alias("zx"),
        y.alias("zy"),
        morton_code([x, y], bits=_Z_BITS).alias("zcode"),
    )


Z01_SQL = f"""
WITH b AS (
  SELECT event_id,
         user_id % {1 << _Z_BITS} AS zx,
         CAST(floor(value * 100 + 0.5) AS BIGINT) % {1 << _Z_BITS} AS zy
  FROM events
)
SELECT event_id, zx, zy,
       CAST({zorder.morton_interleave_sql(["zx", "zy"], _Z_BITS)} AS BIGINT) AS zcode
FROM b
"""


# --------------------------------------------------------------------------
# t17 — Misra-Gries heavy hitters, pinned in its EXACT regime
# --------------------------------------------------------------------------
_T17_MIN_COUNT = 20


def t17_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-memory frequent-tokens sketch run with capacity above
    the corpus vocabulary: nothing is ever evicted, so the sketch must
    equal the exact frequency table — which DuckDB recomputes as the
    oracle. The bounded (lossy) regime's retention/undercount guarantees
    are property-tested in pytest; this query hash-pins the
    mapInPandas summary + merge machinery itself."""
    from ..operators.sketches import heavy_hitters
    from ..operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return heavy_hitters(
        toks, "token", capacity=200_000, min_count=_T17_MIN_COUNT
    ).select(F.col("item").alias("token"), "est_count")


T17_SQL = f"""
SELECT term AS token, count(*) AS est_count
FROM (
  SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) AS term FROM documents
)
GROUP BY term
HAVING count(*) >= {_T17_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# e02 — embedding outlier filter: trim the norm-band tails
# --------------------------------------------------------------------------
_E02_TAIL = 0.05
#: above this on-disk footprint of the embeddings table, e02 swaps its
#: global exact-rank window (single-partition sort — the one
#: scale-killer the r9 verdict flagged) for the two-sided
#: percentile_approx band filter below. The sf0.01/sf0.1/sf1 fixtures
#: are far under it, so the driver spec stays EXACT vs the oracle; the
#: approx-vs-exact tracking is pinned in tests/test_curation_ext.py.
_E02_APPROX_MIN_BYTES = 2 << 30


def _e02_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double, norm

    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(norm(_as_double("embedding")), 6).alias("l2_norm")
    )


def _e02_trim_exact(staged: DataFrame) -> DataFrame:
    """Drop exactly floor(n*tail) rows off each end by global rank
    (ties broken on vec_id) — deterministic, oracle-replayable, and a
    single-partition sort: the sf<=1 reference path."""
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("l2_norm"), F.asc("vec_id"))
    wc = Window.partitionBy()
    ranked = staged.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wc)
    )
    cut = F.floor(F.col("_n") * _E02_TAIL)
    return (
        ranked.where((F.col("_rk") > cut) & (F.col("_rk") <= F.col("_n") - cut))
        .select("vec_id", "l2_norm")
    )


def _e02_trim_approx(staged: DataFrame, accuracy: int = 10_000) -> DataFrame:
    """The 100 TB form: ONE map-side-combined percentile_approx pass
    yields both tail cut values, then a broadcast join + stateless band
    filter — no global sort anywhere. Semantics match the exact form up
    to sketch error at the cut values, and ties AT a cut are kept (the
    exact form cuts a precise count); that boundary sliver is the
    accepted trade."""
    cuts = staged.agg(
        F.percentile_approx(
            "l2_norm", F.array(F.lit(_E02_TAIL), F.lit(1.0 - _E02_TAIL)),
            F.lit(accuracy),
        ).alias("_c")
    ).select(F.col("_c")[0].alias("_lo"), F.col("_c")[1].alias("_hi"))
    return (
        staged.join(F.broadcast(cuts))
        .where(
            (F.col("l2_norm") >= F.col("_lo"))
            & (F.col("l2_norm") <= F.col("_hi"))
        )
        .select("vec_id", "l2_norm")
    )


def e02_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation signal for embedding corpora: near-zero norms are dead
    encodes, extreme norms are exploded ones — drop both 5% tails of
    the (rounded) L2 norm. Rounding BEFORE ranking makes the order —
    and therefore the cut — identical cross-engine.

    TWO TIERS, switched on the table's on-disk footprint (a metadata
    stat, no extra job — VERDICT r9 item 4, the h04 sketch-vs-exact
    pattern): under `_E02_APPROX_MIN_BYTES` (every driver fixture) the
    exact global-rank window runs and the spec is EXACT vs the oracle;
    at or above it (tests lower the constant to force this tier) the
    two-sided percentile_approx band filter runs instead, because a
    global row_number window single-partitions the corpus. The
    approx-vs-exact divergence is pinned tie-only in pytest."""
    from ..operators.graph import _stage_du

    staged = _e02_staged(spark, sf_dir)
    # _stage_du is cluster-storage-aware (Hadoop getContentSummary on
    # scheme'd paths) — a plain pathlib stat here silently read 0 on
    # hdfs://… and pinned the exact single-partition tier at any scale
    # (ADVICE r10→r11, the same defect class _stage_du fixed in graph).
    sep = "" if sf_dir.endswith("/") else "/"
    size = _stage_du(f"{sf_dir}{sep}embeddings.parquet", spark)
    if size >= _E02_APPROX_MIN_BYTES:
        return _e02_trim_approx(staged)
    return _e02_trim_exact(staged)


E02_SQL = f"""
WITH staged AS (
  SELECT vec_id,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6)
           AS l2_norm
  FROM embeddings
),
ranked AS (
  SELECT vec_id, l2_norm,
         row_number() OVER (ORDER BY l2_norm, vec_id) AS rk,
         count(*) OVER () AS n
  FROM staged
)
SELECT vec_id, l2_norm FROM ranked
WHERE rk > floor(n * {_E02_TAIL}) AND rk <= n - floor(n * {_E02_TAIL})
"""


# --------------------------------------------------------------------------
# t18 — deterministic negative sampling for contrastive training
# --------------------------------------------------------------------------
_T18_K = 4
_T18_SALT = "neg"


def t18_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import negative_samples

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    anchors = docs.where(F.col("doc_id") % 50 == 0)
    return negative_samples(
        docs, "doc_id", "source", anchors, k=_T18_K, salt=_T18_SALT
    )


T18_SQL = f"""
WITH anchors AS (
  SELECT doc_id AS anchor_id, source AS adom FROM documents
  WHERE doc_id % 50 = 0
),
cand AS (
  SELECT a.anchor_id, d.doc_id AS neg_id,
         CAST('0x' || substr(md5('{_T18_SALT}'
               || CAST(a.anchor_id AS VARCHAR) || '|'
               || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000
           AS bucket
  -- IS DISTINCT FROM mirrors the operator's null-safe inequality (r11)
  FROM anchors a JOIN documents d ON d.source IS DISTINCT FROM a.adom
)
SELECT anchor_id, neg_id, CAST(rank AS INT) AS rank FROM (
  SELECT anchor_id, neg_id,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY bucket, neg_id) AS rank
  FROM cand
) WHERE rank <= {_T18_K}
"""


# --------------------------------------------------------------------------
# e03 — ordered mean-pooling of grouped embeddings (chunk → doc vector)
# --------------------------------------------------------------------------
def e03_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pool chunk-level embeddings into document vectors (the standard
    retrieval/dedup representation when docs were embedded in chunks):
    vectors grouped by pseudo-doc (vec_id div 10) and mean-pooled with a
    DETERMINISTIC left fold over vec_id order — FP addition is not
    associative, so an unordered SUM over shuffled partitions is not
    reproducible; collecting the group's vectors sorted and folding
    left is, on every engine. Groups are small by construction
    (chunks-per-doc), so the per-row fold is bounded.
    """
    from ..operators.similarity import _as_double

    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        (F.col("vec_id") / 10).cast("bigint").alias("g"),
        "vec_id",
        _as_double("embedding").alias("e"),
    )
    grp = v.groupBy("g").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "e"))).alias("lst"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    vecs = F.transform(F.col("lst"), lambda s: s["e"])
    zero = F.transform(F.element_at(vecs, 1), lambda x: F.lit(0.0))
    summed = F.aggregate(
        vecs, zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    mean = F.transform(summed, lambda s: s / F.col("n_vecs"))
    return grp.select(
        "g",
        "n_vecs",
        F.round(F.element_at(mean, 1), 6).alias("d_first"),
        F.round(F.element_at(mean, 32), 6).alias("d_mid"),
        F.round(F.element_at(mean, -1), 6).alias("d_last"),
        F.round(
            F.sqrt(
                F.aggregate(
                    mean, F.lit(0.0), lambda a, x: a + x * x
                )
            ),
            6,
        ).alias("mean_norm"),
    )


E03_SQL = """
WITH v AS (
  SELECT vec_id, vec_id // 10 AS g,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
grp AS (
  SELECT g, list(e ORDER BY vec_id) AS lst, count(*) AS n_vecs
  FROM v GROUP BY g
),
pooled AS (
  SELECT g, n_vecs,
         list_transform(
           list_reduce(lst, (a, b) -> list_transform(range(1, len(a) + 1),
                                                     i -> a[i] + b[i])),
           x -> x / n_vecs) AS mean
  FROM grp
)
SELECT g, n_vecs,
       round(mean[1], 6) AS d_first,
       round(mean[32], 6) AS d_mid,
       round(mean[-1], 6) AS d_last,
       round(sqrt(list_sum(list_transform(mean, x -> x * x))), 6) AS mean_norm
FROM pooled
"""


# --------------------------------------------------------------------------
# u02 — keyed MERGE/upsert under the oracle (last-write-wins resolution)
# --------------------------------------------------------------------------
def u02_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE INTO workhorse (operators.upsert.merge_upsert): customer
    balances upserted from each customer's LATEST order (last-write-wins
    on (o_orderdate, o_orderkey) — a total order, as the operator
    requires). The oracle replays dedup-updates → anti-join → union."""
    from ..operators.upsert import merge_upsert

    # merge_upsert unions the frames, so target carries a placeholder
    # order column of the same struct type (never compared: updates
    # replace target by key, the order only resolves update-vs-update)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("balance"),
        F.lit("base").alias("src"),
        F.struct(
            F.lit("1990-01-01").cast("timestamp").alias("o_orderdate"),
            F.lit(0).cast("bigint").alias("o_orderkey"),
        ).alias("_ord"),
    )
    orders = load(spark, sf_dir, "orders")
    updates = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").alias("balance"),
        F.lit("order").alias("src"),
        # struct orders lexicographically: (date, key) is the total order
        F.struct(F.col("o_orderdate"), F.col("o_orderkey")).alias("_ord"),
    )
    merged = merge_upsert(
        cust, updates, key="c_custkey", order_col="_ord"
    ).drop("_ord")
    return merged.select(
        "c_custkey", F.round("balance", 2).alias("balance"), "src"
    )


U02_SQL = """
WITH latest AS (
  SELECT c_custkey, balance, src FROM (
    SELECT o_custkey AS c_custkey, o_totalprice AS balance, 'order' AS src,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
),
kept AS (
  SELECT c.c_custkey, c.c_acctbal AS balance, 'base' AS src
  FROM customer c ANTI JOIN latest l ON c.c_custkey = l.c_custkey
)
SELECT c_custkey, round(balance, 2) AS balance, src FROM kept
UNION ALL
SELECT c_custkey, round(balance, 2) AS balance, src FROM latest
"""


# --------------------------------------------------------------------------
# g01 — time-series gap fill with LOCF (the TimescaleDB gapfill+locf op)
# --------------------------------------------------------------------------
def g01_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense minute spine per event_type (sequence + explode) left-joined
    to the minute aggregate, gaps filled by last-observation-carried-
    forward — the continuous-aggregate companion the rollup cascade
    (q42) needs for charting/joins against regular time grids.

    Scale: the spine generates per-key on the key's OWN [min, max]
    window (no global calendar cross-join); the LOCF window partitions
    by key — one shuffle, state is one value per key.
    """
    from ..queries.relational import cents

    ev = load(spark, sf_dir, "events")
    agg = (
        ev.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("event_type", "minute")
        .agg(F.sum(cents(F.col("value"))).alias("v"))
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("minute").alias("mn"), F.max("minute").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = spine.join(agg, ["event_type", "minute"], "left")
    return joined.select(
        "event_type",
        "minute",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


G01_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('minute', ts) AS minute,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY event_type, date_trunc('minute', ts)
),
bounds AS (
  SELECT event_type, MIN(minute) AS mn, MAX(minute) AS mx
  FROM agg GROUP BY event_type
),
spine AS (
  SELECT b.event_type, unnest(generate_series(b.mn, b.mx, INTERVAL 1 MINUTE))
           AS minute
  FROM bounds b
)
SELECT s.event_type, s.minute,
       last_value(a.v IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.minute
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_filled,
       a.v IS NULL AS is_gap
FROM spine s LEFT JOIN agg a
  ON a.event_type = s.event_type AND a.minute = s.minute
"""


SPECS = [
    QuerySpec("t11_line_dedup", t11_line_dedup, T11_SQL,
              "cross-document line-level boilerplate removal (CCNet-style)"),
    QuerySpec("t12_domain_mixture", t12_domain_mixture, T12_SQL,
              "deterministic domain-mixture sampling to token budgets"),
    QuerySpec("t13_vocab_topk", t13_vocab_topk, T13_SQL,
              "corpus vocabulary top-k (unigram + bigram counts)"),
    QuerySpec("t14_tfidf_terms", t14_tfidf_terms, T14_SQL,
              "per-document TF-IDF top terms"),
    QuerySpec("e01_quantize_embeddings", e01_quantize_embeddings, E01_SQL,
              "int8 scalar quantization of the embedding corpus"),
    QuerySpec("r05_recall_quantized", r05_recall_quantized, _r05_sql(),
              "recall@3 of exact search over the SQ8-dequantized corpus"),
    QuerySpec("c01_canonical_selection", c01_canonical_selection, _c01_sql(),
              "canonical-representative selection per near-dup group"),
    QuerySpec("t15_chunk_overlap", t15_chunk_overlap, T15_SQL,
              "sliding-window document chunking with overlap (RAG prep)"),
    QuerySpec("t16_quantile_filter", t16_quantile_filter, T16_SQL,
              "per-domain exact-rank quantile filter (drop worst quartile)"),
    QuerySpec("i01_incremental_neardup", i01_incremental_neardup, I01_SQL,
              "incremental near-dup: new batch vs persisted corpus index"),
    QuerySpec("z01_zorder_code", z01_zorder_code, Z01_SQL,
              "Z-order (Morton) clustering code for multi-column skipping"),
    QuerySpec("t17_heavy_hitters", t17_heavy_hitters, T17_SQL,
              "Misra-Gries heavy hitters in the exact regime"),
    QuerySpec("e02_embedding_outliers", e02_embedding_outliers, E02_SQL,
              "embedding outlier filter: exact-rank norm-band trim"),
    QuerySpec("t18_negative_samples", t18_negative_samples, T18_SQL,
              "deterministic cross-domain negative sampling (contrastive)"),
    QuerySpec("e03_mean_pool", e03_mean_pool, E03_SQL,
              "ordered mean-pooling of grouped embeddings (chunk→doc)"),
    QuerySpec("u02_merge_upsert", u02_merge_upsert, U02_SQL,
              "keyed MERGE/upsert with last-write-wins update resolution"),
    QuerySpec("g01_time_gapfill", g01_time_gapfill, G01_SQL,
              "dense time spine + LOCF gap fill per key (gapfill/locf)"),
]


# r7 consolidation (COVERAGE.md): t13 -> t14 (df-count top-k is a TF-IDF
# sub-expression), r05 -> e01 (SQ8 recall replay; recall==1 pinned in
# tests/test_folded_twins.py). Parity still asserted per commit there.
_FOLDED = {"t13_vocab_topk", "r05_recall_quantized",
           # candidate batch: t11 -> d01 (line- vs row-grain exact
           # dedup), t16 -> h02 (quantile filter application)
           "t11_line_dedup", "t16_quantile_filter"}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
