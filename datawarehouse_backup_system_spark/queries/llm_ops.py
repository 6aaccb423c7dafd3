"""LLM-data-pipeline queries: dedup, similarity search, text analysis.

These extend the reference surface (BASELINE.json north star). The
synthetic corpus contains no natural near-duplicates (max trigram Jaccard
≈0.02, max cosine ≈0.5), so the dedup queries construct perturbed copies
IN-QUERY — deterministically, in both engines — to exercise the machinery
non-vacuously: candidates and verdicts must then match exactly.

Portability rules as in queries.relational: md5-derived hashes everywhere,
ratios of exact integers rounded at fixed precision, rounded-then-ranked
scores with id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import dedup_approx, similarity, text
from datawarehouse_backup_system_spark.queries.base import QuerySpec, load


def _probe_slice():
    """THE bounded ANN probe predicate: every 100th vector, CAPPED at
    id 200000 so the probe set is <= 2000 rows at ANY scale factor
    (review r11: a pure %100 slice is an unbounded 1% FRACTION of the
    corpus — force-broadcast as the query side, it grows linearly and
    the exact baselines go quadratic; an absolute cap keeps the
    broadcast genuinely bounded and every exact baseline O(N)). A no-op
    on every shipped fixture (max vec_id 20000 at sf1). Mirrored
    verbatim in every probe-set oracle SQL."""
    return (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 200_000)


def _with_neardups(docs: DataFrame) -> DataFrame:
    """``docs(doc_id, text)`` ∪ perturbed copies (id+100000, first 3
    words dropped, only docs over 6 tokens).

    Base docs are SLICED to doc_id < 100000 (review r11): above that, a
    base id would collide with another base doc's perturbed id and both
    engines would silently merge two different texts under one doc_id —
    identically wrong, so the oracle could never see it. The slice is a
    no-op on every shipped fixture (max base doc_id 49999 at sf1) and
    makes the id spaces disjoint by construction at any sf."""
    docs = docs.where(F.col("doc_id") < 100000)
    toks = text.tokens(F.col("text"))
    # filter BEFORE the select: after it, the unresolved F.col("text")
    # inside toks would re-resolve against the PERTURBED text, diverging
    # from the oracle's original-length filter for 7-9-token docs and
    # leaving the negative slice length unguarded for <=3-token docs
    # (review r8; latent on the fixture — every doc exceeds 9 tokens)
    perturbed = docs.where(F.size(toks) > 6).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, 4, F.size(toks) - 3), " ").alias("text"),
    )
    return docs.unionByName(perturbed)


def _docs_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies (id+100000, first 3 words dropped) —
    the deterministic near-dup corpus used by d02/d03."""
    return _with_neardups(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )


_NEARDUP_CORPUS_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id < 100000
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')[4:], ' ') AS text
  FROM documents
  WHERE doc_id < 100000
    AND len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) > 6
"""


# --------------------------------------------------------------------------
# d01 — exact dedup at scale: hash-groupBy keep min id
# --------------------------------------------------------------------------
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        # same doc_id < 100000 slice as _with_neardups (review r11):
        # keeps the doubled id space collision-free at any sf
        .where(F.col("doc_id") < 100000)
        .select("doc_id", "text")
    )
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    survivors = dedup_approx.exact_dedup(doubled, ["text"], "doc_id")
    return survivors.select("doc_id", "n_copies")


D01_SQL = """
WITH doubled AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100000
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100000
)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM doubled
GROUP BY md5(concat_ws(chr(1), coalesce(text, '<NULL>')))
"""


# --------------------------------------------------------------------------
# d02 — MinHash + LSH near-dup detection with exact-Jaccard verification
# --------------------------------------------------------------------------
def d02_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardups(spark, sf_dir)
    pairs = dedup_approx.minhash_lsh_dedup(
        corpus, "doc_id", "text", shingle_n=3, k=9, band_size=3, threshold=0.5,
        max_bucket_size=20,
    )
    return pairs.select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard")
    )


D02_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sh2 AS (  -- one md5 per shingle; K hashes = Kirsch-Mitzenmacher h1 + i*h2
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM sh
),
sigs AS (
  SELECT doc_id,
    {", ".join(f"MIN(h1 + {i} * h2) AS mh{i}" for i in range(9))}
  FROM sh2 GROUP BY doc_id
),
bands_all AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1 || '|' || mh2) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(mh3 || '|' || mh4 || '|' || mh5) FROM sigs
  UNION ALL
  SELECT doc_id, 2, md5(mh6 || '|' || mh7 || '|' || mh8) FROM sigs
),
bands AS (  -- hot-bucket cap mirrors max_bucket_size=20
  SELECT doc_id, band_idx, band_key FROM bands_all
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key) <= 20
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, n_inter, za.n_sh AS n_a, zb.n_sh AS n_b,
       ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5
"""


# --------------------------------------------------------------------------
# d03 — SimHash fingerprints (16-bit, frequency-weighted)
# --------------------------------------------------------------------------
def d03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free per-row SimHash (simhash_expr; parity with the
    explode+groupBy reference implementation is pytest-pinned). NULL
    texts are filtered to match the oracle's UNNEST row set (which drops
    them), not mapped to NULL fingerprints."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", dedup_approx.simhash_expr(F.col("text"), bits=16).alias("simhash")
    )


def _simhash_sql_bits() -> str:
    terms = []
    for j in range(16):
        digit = f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        bit = f"(({digit} >> {3 - j % 4}) & 1)"
        terms.append(
            f"CASE WHEN SUM(2 * {bit} - 1) > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(terms)


D03_SQL = f"""
WITH tok AS (
  SELECT doc_id, md5(u.token) AS h
  FROM documents, UNNEST(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+')) AS u(token)
)
SELECT doc_id, {_simhash_sql_bits()} AS simhash
FROM tok GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# d04 — character-5-gram Jaccard (brute force on a bounded probe set)
# --------------------------------------------------------------------------
def d04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 4),
        lambda i: F.col("text").substr(i, F.lit(5)),
    )
    sh = (
        docs.where(F.length("text") >= 5)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", "jaccard")
    )


D04_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
sh AS (
  SELECT DISTINCT doc_id, substr(text, i + 1, 5) AS shingle
  FROM docs, UNNEST(range(len(text) - 4)) AS u(i)
  WHERE len(text) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.05
"""


# --------------------------------------------------------------------------
# d05 — embedding-cosine near-dup pairs (sign-bucket candidates + verify)
# --------------------------------------------------------------------------
def d05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed candidate generation — pairs whose 8-bit sign buckets are
    within Hamming distance 1 (probe fan-out on one join side) — followed
    by the exact rounded-cosine verify. The plan is a hash equi-join, not
    a cartesian: ~9·N²/2^8 expected candidates. The exact all-pairs
    scorer remains available as similarity.neardup_pairs (recall
    baseline, not a driver query)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_bucketed(
        emb, threshold=0.4, n_bits=8, multi_probe=1
    )


# sign-bit bucket over the first 8 dims — shared by d05 / d07 / d08
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN e[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)" for i in range(8)
)

D05_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
vb AS (SELECT vec_id, e, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
ap AS (  -- a-side probes its own bucket + 8 Hamming-1 neighbors
  SELECT vec_id, e, bucket FROM vb
  UNION ALL
  SELECT vec_id, e, xor(bucket, (1::BIGINT << i)) FROM vb, UNNEST(range(8)) AS u(i)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e)
             / NULLIF(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0),
             6) AS score
FROM ap a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e)
            / NULLIF(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0),
            6) >= 0.4
"""


# --------------------------------------------------------------------------
# d06 — brute-force cosine top-k (exact ANN baseline)
# --------------------------------------------------------------------------
def d06_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(_probe_slice())
    return similarity.brute_force_topk(emb, queries, k=5)


D06_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 100 = 0 AND vec_id < 200000),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, e)
               / NULLIF(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)), 0),
               6) AS score
  FROM q JOIN v ON v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# d07 — sign-bucket LSH ANN (the scale path)
# --------------------------------------------------------------------------
def d07_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(_probe_slice())
    return similarity.bucketed_ann(emb, queries, k=3, n_bits=8)


D07_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
vb AS (SELECT vec_id, e, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM vb WHERE vec_id % 100 = 0 AND vec_id < 200000),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, c.e)
               / NULLIF(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e)), 0),
               6) AS score
  FROM q JOIN vb c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# d08 — multi-probe sign-bucket ANN (probe Hamming-1-adjacent buckets)
# --------------------------------------------------------------------------
def d08_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(_probe_slice())
    return similarity.bucketed_ann(emb, queries, k=3, n_bits=8, multi_probe=1)


D08_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
vb AS (SELECT vec_id, e, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM vb WHERE vec_id % 100 = 0 AND vec_id < 200000),
qp AS (  -- the query's own bucket + its 8 Hamming-1 neighbors
  SELECT query_id, qe, bucket FROM q
  UNION ALL
  SELECT query_id, qe, xor(bucket, (1::BIGINT << i)) FROM q, UNNEST(range(8)) AS u(i)
),
scored AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, c.e)
               / NULLIF(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e)), 0),
               6) AS score
  FROM qp JOIN vb c ON c.bucket = qp.bucket AND c.vec_id <> qp.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# d10 — IVF ANN (coarse quantizer + inverted lists + n_probe search)
# --------------------------------------------------------------------------
def d10_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the deterministic seed quantizer (centroids = 8 smallest
    vec_ids), so the DuckDB oracle can replay it."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(_probe_slice())
    return similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {b}) / NULLIF(sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})), 0), 6)"
    )


D10_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT neighbor_id, cv, cid AS list_id FROM (
    SELECT v.vec_id AS neighbor_id, v.e AS cv, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY COALESCE({_cos_sql('v.e', 'c.ce')}, -2) DESC, c.cid ASC
           ) AS rn
    FROM v CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, cid AS list_id FROM (
    SELECT q.vec_id AS query_id, q.e AS qv, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY COALESCE({_cos_sql('q.e', 'c.ce')}, -2) DESC, c.cid ASC
           ) AS rn
    FROM v q CROSS JOIN cents c
  WHERE q.vec_id % 100 = 0 AND q.vec_id < 200000
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.neighbor_id, {_cos_sql('p.qv', 'a.cv')} AS score
  FROM probes p JOIN assign a
    ON a.list_id = p.list_id AND a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# d11 — random-hyperplane LSH ANN (true SimHash planes, not axis signs)
# --------------------------------------------------------------------------
def d11_ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucketed_ann with md5-derived random hyperplanes mixing ALL 64
    dims (cosine-LSH collision bound per bit), Hamming-1 multi-probe.
    The oracle rebuilds the identical plane literals and folds the same
    sequential dot product, so bucket bits match bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    planes = similarity.deterministic_planes(64, 8)
    queries = emb.where(_probe_slice())
    return similarity.bucketed_ann(emb, queries, k=3, multi_probe=1, planes=planes)


def _d11_sql() -> str:
    planes = similarity.deterministic_planes(64, 8)
    lits = [
        "[" + ", ".join(repr(c) for c in p) + "]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, lit in enumerate(lits)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
vb AS (SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM vb WHERE vec_id % 100 = 0 AND vec_id < 200000),
qp AS (
  SELECT query_id, qe, bucket FROM q
  UNION ALL
  SELECT query_id, qe, xor(bucket, (1::BIGINT << i)) FROM q, UNNEST(range(8)) AS u(i)
),
scored AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, c.e)
               / NULLIF(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e)), 0),
               6) AS score
  FROM qp JOIN vb c ON c.bucket = qp.bucket AND c.vec_id <> qp.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


D11_SQL = _d11_sql()


# --------------------------------------------------------------------------
# t01 — token counting (whitespace + BPE-ish subword units)
# --------------------------------------------------------------------------
def t01_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.subword_count(F.col("text")).alias("n_subwords"),
        F.length("text").alias("n_chars_calc"),
    )


T01_SQL = r"""
SELECT doc_id,
       len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS n_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\f\r\x0B]')) AS n_subwords,
       len(text) AS n_chars_calc
FROM documents
"""


# --------------------------------------------------------------------------
# t02 — quality scoring
# --------------------------------------------------------------------------
def t02_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.quality_features(docs, "doc_id", "text")


T02_SQL = r"""
WITH f AS (
  SELECT doc_id, text,
         len(text) AS n_chars_text,
         len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS n_tokens,
         len(regexp_replace(text, '[ \t\n\f\r\x0B]', '', 'g')) AS n_nonspace,
         len(list_filter(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+'),
             x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop_hits,
         len(text) - len(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars_text, n_tokens,
       ROUND(n_nonspace * 1.0 / NULLIF(n_tokens, 0), 6) AS avg_token_len,
       ROUND(stop_hits * 1.0 / NULLIF(n_tokens, 0), 6) AS stopword_ratio,
       ROUND(n_punct * 1.0 / NULLIF(n_chars_text, 0), 6) AS punct_ratio,
       (n_tokens >= 10 AND n_tokens <= 100000 AND stop_hits * 20 >= n_tokens)
         AS quality_keep
FROM f
"""


# --------------------------------------------------------------------------
# t03 — language ID (stopword-marker argmax heuristic)
# --------------------------------------------------------------------------
def t03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.langid(docs, "doc_id", "text")


def _langid_fragments() -> tuple[str, str]:
    """(hit column exprs, argmax CASE) — shared by T03 and T10 oracles."""
    hit_exprs = []
    for lang, words in sorted(text.STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        hit_exprs.append(
            f"len(list_filter(string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+'), x -> x IN ({lst}))) AS hits_{lang}"
        )
    langs = sorted(text.STOPWORDS)
    cases = []
    for lang in langs:
        conds = [f"hits_{lang} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = ">=" if lang < other else ">"
            conds.append(f"hits_{lang} {op} hits_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return ", ".join(hit_exprs), case_sql


def _langid_sql() -> str:
    hit_exprs, case_sql = _langid_fragments()
    langs = sorted(text.STOPWORDS)
    return f"""
WITH h AS (SELECT doc_id, {hit_exprs} FROM documents)
SELECT doc_id, {', '.join(f'hits_{lang}' for lang in langs)},
       {case_sql} AS predicted_lang
FROM h
"""


T03_SQL = _langid_sql()


# --------------------------------------------------------------------------
# t04 — document fingerprinting
# --------------------------------------------------------------------------
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text")


T04_SQL = """
SELECT doc_id,
       md5(concat_ws('|', CAST(len(text) AS VARCHAR), substr(text, 1, 64),
                     substr(text, GREATEST(len(text) - 63, 1), 64))) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# d09 — dedup GROUP resolution: connected components over verified pairs
# --------------------------------------------------------------------------
def _neardup_corpus_and_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared by d09/c01: the two-generation perturbed corpus and its
    verified near-dup pairs (word-trigram Jaccard ≥ 0.5)."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    toks = text.tokens(F.col("text"))
    gen = [docs.select("doc_id", "text")]
    for g, drop in ((1, 2), (2, 4)):
        gen.append(
            docs.where(F.size(toks) > 8).select(
                (F.col("doc_id") + 1000 * g).alias("doc_id"),
                F.array_join(
                    F.slice(toks, drop + 1, F.size(toks) - drop), " "
                ).alias("text"),
            )
        )
    corpus = gen[0].unionByName(gen[1]).unionByName(gen[2])
    # the full pipeline (array-form shingle sets, shuffle-free per-row
    # signatures, array_intersect verify — r11 optimization) with the
    # same parameters the old hand-assembled explode pipeline used
    pairs = dedup_approx.minhash_lsh_dedup(
        corpus, "doc_id", "text", shingle_n=3, k=9, band_size=3,
        threshold=0.5,
    )
    return corpus, pairs


def d09_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs lack transitivity (a~b, b~c ⊬ a~c scored); group
    resolution assigns every doc the MIN id of its connected component
    via iterative min-label propagation (operators.dedup_approx.
    dedup_groups). Pairs here: word-trigram Jaccard ≥ 0.5 over a corpus
    with TWO perturbation generations, so components chain 3 deep."""
    _, pairs = _neardup_corpus_and_pairs(spark, sf_dir)
    return dedup_approx.dedup_groups(pairs)


D09_SQL = """
WITH RECURSIVE corpus AS (
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
toks AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sh2 AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM sh
),
sigs AS (
  SELECT doc_id,
    MIN(h1 + 0 * h2) AS mh0, MIN(h1 + 1 * h2) AS mh1, MIN(h1 + 2 * h2) AS mh2,
    MIN(h1 + 3 * h2) AS mh3, MIN(h1 + 4 * h2) AS mh4, MIN(h1 + 5 * h2) AS mh5,
    MIN(h1 + 6 * h2) AS mh6, MIN(h1 + 7 * h2) AS mh7, MIN(h1 + 8 * h2) AS mh8
  FROM sh2 GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1 || '|' || mh2) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(mh3 || '|' || mh4 || '|' || mh5) FROM sigs
  UNION ALL
  SELECT doc_id, 2, md5(mh6 || '|' || mh7 || '|' || mh8) FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY c.id_a, c.id_b
  ) c
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b
  WHERE c.n_inter * 1.0 / (za.n_sh + zb.n_sh - c.n_inter) >= 0.5
),
und AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT s AS node, s AS r FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON und.s = reach.r
)
SELECT node, MIN(r) AS canonical_id FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# t05 — PII scrubbing (emails + long digit runs) with audit counts
# --------------------------------------------------------------------------
def t05_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus carries no natural PII, so deterministic PII
    is injected in-query (both engines identically), then scrubbed; the
    scrubbed text is hashed to keep the result compact."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call "),
            F.lpad(F.col("doc_id").cast("string"), 10, "0"),
        ).alias("text"),
    )
    out = text.pii_scrub(injected, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("scrubbed_text").alias("scrub_md5"),
        "n_emails",
        "n_numbers",
    )


T05_SQL = f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call '
              || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS text
  FROM documents WHERE doc_id < 200
),
m AS (
  SELECT doc_id, text,
         regexp_replace(text, '{text.EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM inj
)
SELECT doc_id,
       md5(regexp_replace(no_email, '{text.LONG_NUMBER_RE}', '<NUM>', 'g'))
         AS scrub_md5,
       len(regexp_extract_all(text, '{text.EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(no_email, '{text.LONG_NUMBER_RE}')) AS n_numbers
FROM m
"""


# --------------------------------------------------------------------------
# t06 — concat-and-chunk sequence packing for training batches
# --------------------------------------------------------------------------
def t06_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_shards stays the default 8 HERE because this spec is a
    CORRECTNESS pin, not a production configuration (review r11): the
    shard count is a shared oracle constant, and 8 window partitions at
    fixture scale is the cheapest plan — but 8 partitions over a real
    corpus is a straggler by construction (N/8 rows sorted per task).
    Production callers size ``n_shards`` to the cluster, as the
    operator docstring says; the
    operator's behavior at any shard count is partition-count-
    independent (pytest-pinned in test_llm_ops)."""
    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", text.token_count(F.col("text")).alias("n_tokens")
    )
    return text.pack_sequences(counted, "doc_id", "n_tokens", capacity=2048)


T06_SQL = r"""
WITH counted AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS cum_excl
  FROM counted
)
SELECT doc_id, shard, CAST(FLOOR(cum_excl / 2048) AS BIGINT) AS local_bin,
       CAST(cum_excl - CAST(FLOOR(cum_excl / 2048) AS BIGINT) * 2048 AS BIGINT)
         AS offset,
       n_tokens
FROM c
"""


# --------------------------------------------------------------------------
# t07 — repetition-quality signals (Gopher/C4-style boilerplate filters)
# --------------------------------------------------------------------------
def t07_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.repetition_features(docs, "doc_id", "text")


T07_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t FROM documents
),
base AS (
  SELECT doc_id, len(t) AS n_tokens,
         CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_tri,
         CASE WHEN len(t) >= 3 THEN (
           SELECT COUNT(DISTINCT t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3])
           FROM UNNEST(range(len(t) - 2)) AS u(i)
         ) ELSE 0 END AS n_tri_distinct
  FROM toks
),
top AS (
  SELECT doc_id, MAX(n) AS top_tok_n FROM (
    SELECT doc_id, COUNT(*) AS n
    FROM toks, UNNEST(t) AS u(tok)
    GROUP BY doc_id, u.tok
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(top.top_tok_n, 0) AS top_tok_n,
       ROUND(COALESCE(top.top_tok_n, 0) * 1.0 / NULLIF(b.n_tokens, 0), 6)
         AS top_tok_ratio,
       ROUND((b.n_tri - b.n_tri_distinct) * 1.0 / NULLIF(b.n_tri, 0), 6)
         AS dup_trigram_ratio,
       (COALESCE(ROUND(COALESCE(top.top_tok_n, 0) * 1.0
                       / NULLIF(b.n_tokens, 0), 6), 0) <= 0.2
        AND COALESCE(ROUND((b.n_tri - b.n_tri_distinct) * 1.0
                           / NULLIF(b.n_tri, 0), 6), 0) <= 0.3)
         AS repetition_keep
FROM base b LEFT JOIN top ON top.doc_id = b.doc_id
"""


# --------------------------------------------------------------------------
# t08 — training-shard manifest (deterministic shard assignment + audit)
# --------------------------------------------------------------------------
def t08_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest of the 8-shard training export: hash-assigned shard ids
    with per-shard doc/token counts and key ranges. The file-writing
    side (shards.export_shards) is pytest-verified; this query checks
    the assignment + aggregation semantics against DuckDB."""
    from datawarehouse_backup_system_spark.operators import shards

    docs = load(spark, sf_dir, "documents")
    return shards.shard_manifest(docs, "doc_id", n_shards=8, text_col="text")


T08_SQL = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 14) AS BIGINT)
           % 8 AS shard_id
  FROM documents
),
agg AS (
  SELECT shard_id, CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
         MIN(doc_id) AS min_key, MAX(doc_id) AS max_key,
         CAST(SUM(CASE WHEN regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) END)
              AS BIGINT) AS n_tokens
  FROM b GROUP BY shard_id
)
SELECT r.range AS shard_id, COALESCE(agg.n_docs, 0) AS n_docs,
       agg.min_key, agg.max_key, agg.n_tokens
FROM range(8) r LEFT JOIN agg ON agg.shard_id = r.range
"""


# --------------------------------------------------------------------------
# t09 — benchmark decontamination (word-3-gram overlap vs an eval set)
# --------------------------------------------------------------------------
def t09_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing ≥1 word 3-gram with the pseudo-benchmark set
    (doc_id % 97 == 0) and their distinct-overlap counts. Eval shingle
    set broadcasts; corpus is one linear pass. n=3 keeps the fixture
    overlap non-trivial (171 contaminated docs at sf0.01); production
    decontamination uses the same operator at n=8..13."""
    docs = load(spark, sf_dir, "documents")
    # absolute cap (review r11): a pure %97 slice is an unbounded ~1%
    # fraction — its broadcast shingle set grows with the corpus,
    # violating contamination()'s small-by-construction precondition.
    # Real eval benchmarks are FIXED-size; cap mirrors the oracle.
    is_ev = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97_000)
    ev = docs.where(is_ev)
    tr = docs.where(~is_ev)
    return dedup_approx.contamination(tr, ev, "doc_id", "text", n=3)


T09_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
ev AS (SELECT DISTINCT shingle FROM sh
       WHERE doc_id % 97 = 0 AND doc_id < 97000)
SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM sh JOIN ev USING (shingle)
WHERE NOT (sh.doc_id % 97 = 0 AND sh.doc_id < 97000)
GROUP BY sh.doc_id
"""


# --------------------------------------------------------------------------
# t10 — composed curation pipeline (lang + quality + repetition + dedup)
# --------------------------------------------------------------------------
def t10_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datawarehouse_backup_system_spark.operators import curation

    docs = load(spark, sf_dir, "documents")
    return curation.curation_report(docs, "doc_id", "text", keep_langs=("en",))


def _t10_sql() -> str:
    hit_exprs, case_sql = _langid_fragments()
    return rf"""
WITH toks AS (
  SELECT doc_id, text, string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+') AS t FROM documents
),
q AS (
  SELECT doc_id,
         (len(t) >= 10 AND len(t) <= 100000 AND
          len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it'))) * 20
            >= len(t)) AS quality_keep
  FROM toks
),
rbase AS (
  SELECT doc_id, len(t) AS n_tokens,
         CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_tri,
         CASE WHEN len(t) >= 3 THEN (
           SELECT COUNT(DISTINCT t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3])
           FROM UNNEST(range(len(t) - 2)) AS u(i)
         ) ELSE 0 END AS n_tri_distinct
  FROM toks
),
rtop AS (
  SELECT doc_id, MAX(n) AS top_tok_n FROM (
    SELECT doc_id, COUNT(*) AS n
    FROM toks, UNNEST(t) AS u(tok)
    GROUP BY doc_id, u.tok
  ) GROUP BY doc_id
),
rep AS (
  SELECT b.doc_id,
         (COALESCE(ROUND(COALESCE(rtop.top_tok_n, 0) * 1.0
                         / NULLIF(b.n_tokens, 0), 6), 0) <= 0.2
          AND COALESCE(ROUND((b.n_tri - b.n_tri_distinct) * 1.0
                             / NULLIF(b.n_tri, 0), 6), 0) <= 0.3)
           AS repetition_keep
  FROM rbase b LEFT JOIN rtop ON rtop.doc_id = b.doc_id
),
h AS (SELECT doc_id, {hit_exprs} FROM documents),
lang AS (SELECT doc_id, {case_sql} AS predicted_lang FROM h),
ded AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (
           PARTITION BY md5(concat_ws(chr(1), coalesce(text, '<NULL>')))
         ) AS dedup_keep
  FROM documents
)
SELECT lang.doc_id, lang.predicted_lang,
       lang.predicted_lang IN ('en') AS lang_keep,
       q.quality_keep, rep.repetition_keep, ded.dedup_keep,
       (lang.predicted_lang IN ('en') AND q.quality_keep
        AND rep.repetition_keep AND ded.dedup_keep) AS keep
FROM lang JOIN q USING (doc_id) JOIN rep USING (doc_id) JOIN ded USING (doc_id)
"""


T10_SQL = _t10_sql()


SPECS: list[QuerySpec] = [
    QuerySpec("d01_dedup_exact", d01_dedup_exact, D01_SQL,
              "exact dedup: hash-groupBy keep min id"),
    QuerySpec("d02_minhash_lsh", d02_minhash_lsh, D02_SQL,
              "MinHash+LSH near-dup with exact-Jaccard verify"),
    QuerySpec("d03_simhash", d03_simhash, D03_SQL, "16-bit SimHash fingerprints"),
    QuerySpec("d04_ngram_jaccard", d04_ngram_jaccard, D04_SQL,
              "char-5-gram Jaccard on bounded probe set"),
    QuerySpec("d05_embedding_neardup", d05_embedding_neardup, D05_SQL,
              "embedding-cosine near-dup pairs"),
    QuerySpec("d06_similarity_topk", d06_similarity_topk, D06_SQL,
              "brute-force cosine top-k (exact ANN baseline)"),
    QuerySpec("d07_ann_bucketed", d07_ann_bucketed, D07_SQL,
              "sign-bucket LSH ANN (scale path)"),
    QuerySpec("d08_ann_multiprobe", d08_ann_multiprobe, D08_SQL,
              "multi-probe sign-bucket ANN (Hamming-1 probes)"),
    QuerySpec("t01_token_count", t01_token_count, T01_SQL,
              "token + subword counting"),
    QuerySpec("t02_quality", t02_quality, T02_SQL, "document quality scoring"),
    QuerySpec("t03_langid", t03_langid, T03_SQL, "stopword-heuristic language ID"),
    QuerySpec("t04_fingerprint", t04_fingerprint, T04_SQL,
              "md5 head/tail/length fingerprint"),
    QuerySpec("d09_dedup_groups", d09_dedup_groups, D09_SQL,
              "connected-component dedup group resolution"),
    QuerySpec("t05_pii_scrub", t05_pii_scrub, T05_SQL,
              "PII masking (emails, long digit runs) + audit counts"),
    QuerySpec("t06_pack_sequences", t06_pack_sequences, T06_SQL,
              "concat-and-chunk sequence packing (sharded)"),
    QuerySpec("t07_repetition", t07_repetition, T07_SQL,
              "repetition-quality signals (top-token + dup-trigram ratios)"),
    QuerySpec("d10_ivf_ann", d10_ivf_ann, D10_SQL,
              "IVF ANN: coarse quantize, probe 2 of 8 inverted lists"),
    QuerySpec("t08_shard_manifest", t08_shard_manifest, T08_SQL,
              "training-shard assignment manifest (hash-sharded export)"),
    QuerySpec("t09_decontaminate", t09_decontaminate, T09_SQL,
              "benchmark decontamination: word-3-gram overlap vs eval set"),
    QuerySpec("d11_ann_hyperplane", d11_ann_hyperplane, D11_SQL,
              "random-hyperplane LSH ANN (all-dim cosine sketch bits)"),
    QuerySpec("t10_curation_pipeline", t10_curation_pipeline, T10_SQL,
              "composed curation verdict: lang+quality+repetition+dedup"),
]


# r7 consolidation, candidate batch (COVERAGE.md): d06 -> r02 — the
# brute-force exact top-k is replayed verbatim as the ground-truth side
# inside every recall spec (r02-r04); its standalone parity stays pinned
# in tests/test_folded_twins.py.
_FOLDED = {"d06_similarity_topk"}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
