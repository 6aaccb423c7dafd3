"""Round-4 corpus extensions: Count-Min frequency sketch, SemDeDup-style
semantic deduplication, token-entropy quality scoring, URL/domain
blocklist filtering, and fixed-iteration PageRank over the event
transition graph.

Every spec pairs the Spark plan with a DuckDB oracle replaying the same
algebra. Hash-parity rules as everywhere in this repo: md5-derived
integer hashes (portable bit-for-bit), cosine/entropy/rank rounded at
the END only, aggregates aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation, graph, search, sketches, text
from ..operators.similarity import semantic_dedup
from .base import QuerySpec, load

# --------------------------------------------------------------------------
# c02 — Count-Min Sketch point queries vs exact frequencies
# --------------------------------------------------------------------------
_C02_DEPTH = 3
_C02_WIDTH = 16  # deliberately tight: collisions are the interesting case


def c02_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS built over the document token stream, point-queried for every
    distinct token, joined against exact counts. The tight width forces
    bucket collisions, so the oracle certifies the OVERcount behavior
    (est ≥ true always; never under), not just the trivial exact regime.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    sketch = sketches.cms_build(toks, "token", _C02_DEPTH, _C02_WIDTH)
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = sketches.cms_estimate(
        sketch, truth.select("token"), "token", _C02_DEPTH, _C02_WIDTH
    ).withColumnRenamed("item", "token")
    return truth.join(est, "token").select(
        "token",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("est_count").cast("long").alias("est_count"),
        (F.col("est_count") - F.col("true_cnt")).cast("long").alias("overcount"),
    )


C02_SQL = f"""
WITH tok AS (
  SELECT t.token FROM (
    SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
  ) t WHERE t.token <> ''
),
h AS (
  SELECT token,
         ('0x' || substr(md5(token), 1, 14))::BIGINT AS h1,
         ('0x' || substr(md5(token), 15, 14))::BIGINT AS h2
  FROM tok
),
ds AS (SELECT unnest(range({_C02_DEPTH})) AS d),
sketch AS (
  SELECT d, (h1 + d * h2) % {_C02_WIDTH} AS bucket, count(*) AS cnt
  FROM h CROSS JOIN ds GROUP BY 1, 2
),
truth AS (
  SELECT token, count(*) AS true_cnt, min(h1) AS h1, min(h2) AS h2
  FROM h GROUP BY token
),
probes AS (
  SELECT token, true_cnt, d, (h1 + d * h2) % {_C02_WIDTH} AS bucket
  FROM truth CROSS JOIN ds
),
est AS (
  SELECT p.token, min(p.true_cnt) AS true_cnt,
         min(COALESCE(s.cnt, 0)) AS est_count
  FROM probes p LEFT JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
  GROUP BY p.token
)
SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(est_count - true_cnt AS BIGINT) AS overcount
FROM est
"""


# --------------------------------------------------------------------------
# d12 — SemDeDup-style semantic deduplication of the embedding corpus
# --------------------------------------------------------------------------
# at 0.4 the sf0.01 corpus has ~19 within-cluster tight pairs (the same
# regime d05 verifies corpus-wide) — the drop path is actually exercised;
# real SemDeDup runs ~0.95+ on meaningful embeddings
_D12_TAU = 0.4
_D12_CLUSTERS = 8


def d12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity.semantic_dedup with the deterministic seed quantizer
    (centroids = 8 smallest vec_ids, same as d10) so the oracle can
    replay cluster assignment; the k-means-trained path is recall-tested
    in pytest. Output: every vector with its cluster and keep verdict."""
    # absolute population bound (review r11 pass F, the r07 pattern):
    # the spec pins n_clusters=8 for oracle replay, so the
    # within-cluster pair join is Σ Bᵢ² ≈ N²/8 on BOTH engines — bound
    # the spec's input so it can never go quadratic with sf (a no-op on
    # every shipped fixture; production semantic_dedup scales
    # n_clusters with the corpus instead, SCALE.md)
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 20_000
    )
    return semantic_dedup(
        emb, "vec_id", "embedding", tau=_D12_TAU, n_clusters=_D12_CLUSTERS
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {b}) / NULLIF(sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})), 0), 6)"
    )


D12_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 20000),
cents AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT {_D12_CLUSTERS}),
assign AS (
  SELECT vec_id, e, cid AS list_id FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY COALESCE({_cos_sql('v.e', 'c.ce')}, -2) DESC, c.cid ASC
           ) AS rn
    FROM v CROSS JOIN cents c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id AS did
  FROM assign a JOIN assign b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE COALESCE({_cos_sql('a.e', 'b.e')}, -2) >= {_D12_TAU}
)
SELECT a.vec_id, a.list_id, d.did IS NULL AS keep
FROM assign a LEFT JOIN dropped d ON d.did = a.vec_id
"""


# --------------------------------------------------------------------------
# t19 — per-document token-distribution entropy (lexical diversity)
# --------------------------------------------------------------------------
def t19_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.token_entropy(docs, "doc_id", "text")


T19_SQL = r"""
WITH t AS (
  SELECT doc_id, tok FROM (
    -- \s+ regex split, matching text.tokens on the Spark side — a
    -- literal-space split diverges on tab/newline whitespace
    -- (review r8; every other token spec already pairs regex↔regex)
    SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^[ \t\n\f\r\x0B]+|[ \t\n\f\r\x0B]+$', '', 'g'), '[ \t\n\f\r\x0B]+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       ROUND(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
FROM c GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# a06 — URL/domain blocklist filtering (suffix-on-label-boundary match)
# --------------------------------------------------------------------------
_A06_BLOCK = ("src3.example.com", "src7.example.com", "spam.example.org")


def a06_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents get a deterministic synthetic URL from their source id
    (the table carries no real URLs); the operator under test is the
    generic suffix blocklist — 'src3.example.com' must block exactly the
    src3 hosts, and a parent pattern would block every subdomain."""
    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    out = curation.domain_blocklist(urls, "doc_id", "url", list(_A06_BLOCK))
    return out.select("doc_id", "host", "blocked")


_A06_IN = ", ".join(f"'{p}'" for p in _A06_BLOCK)

A06_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
h AS (
  SELECT doc_id,
         -- identical chain to operators/curation.py:url_host —
         -- lowercase, full authority, strip userinfo (last @), strip port
         regexp_replace(regexp_replace(
           regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
           '^.*@', ''), ':.*$', '') AS host
  FROM u
),
s AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(string_split(host, '.')) + 1),
           i -> array_to_string(
                  list_slice(string_split(host, '.'), i,
                             len(string_split(host, '.'))), '.')
         )) AS suf
  FROM h
)
SELECT h.doc_id, h.host, COALESCE(b.hit, FALSE) AS blocked
FROM h LEFT JOIN (
  SELECT DISTINCT doc_id, TRUE AS hit FROM s WHERE suf IN ({_A06_IN})
) b ON b.doc_id = h.doc_id
"""


# --------------------------------------------------------------------------
# p01 — fixed-iteration weighted PageRank over event-type transitions
# --------------------------------------------------------------------------
_P01_ITERS = 3
_P01_DAMPING = 0.85


def p01_transition_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list = the a04 Markov transition matrix (consecutive
    event_type pairs per user, count-weighted); graph.pagerank runs
    {3} damped iterations from the uniform vector. The oracle unrolls
    the identical iterations in SQL, so every join/sum is replayed."""
    ev = load(spark, sf_dir, "events")
    from ..operators import behavior

    edges = behavior.path_transitions(ev, "user_id", "ts", "event_type", "event_id")
    return graph.pagerank(
        edges, "src_type", "dst_type", "n",
        iterations=_P01_ITERS, damping=_P01_DAMPING,
    )


def _p01_sql() -> str:
    d = _P01_DAMPING
    head = f"""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
e AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
),
ne AS (
  SELECT e.src, e.dst, e.w / o.ow AS p
  FROM e JOIN (SELECT src, sum(w) AS ow FROM e GROUP BY src) o
    ON o.src = e.src
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
nc AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
r0 AS (SELECT node, 1.0 / nc.c AS rank FROM nodes CROSS JOIN nc)"""
    iters = []
    for i in range(_P01_ITERS):
        iters.append(f""",
r{i + 1} AS (
  SELECT n.node,
         (1.0 - {d}) / nc.c + {d} * COALESCE(s.contrib, 0) AS rank
  FROM nodes n CROSS JOIN nc
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank * e.p) AS contrib
    FROM ne e JOIN r{i} r ON r.node = e.src GROUP BY e.dst
  ) s ON s.node = n.node
)""")
    tail = f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{_P01_ITERS}"""
    return head + "".join(iters) + tail


P01_SQL = _p01_sql()


# --------------------------------------------------------------------------
# r07 — SemDeDup pair recall: fraction of ALL tight pairs caught in-cluster
# --------------------------------------------------------------------------
def r07_recall_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The honesty metric for d12: semantic dedup only scores pairs that
    CO-CLUSTER, so pairs split across cluster boundaries are never seen.
    recall = |tight pairs with both ends in one cluster| / |all tight
    pairs| (brute force, the d05-style exact baseline). One output row:
    (n_pairs, n_caught, recall)."""
    from ..operators.similarity import (
        _assign_lists, _centroid_frame, neardup_pairs_broadcast,
    )

    # brute-force denominator is O(n²) dot products by design; bound the
    # measurement population so the per-round metric stays ~constant cost
    # as sf grows (recall over a fixed 2k-vector subset is the same
    # honesty signal — the oracle applies the identical bound). The
    # bound is also what licenses the broadcast pair scan: one driver
    # materialization of ≤2k vectors, numpy candidates, exact rescoring
    # — the same pair set as neardup_pairs at ~1/10 the cost.
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 2000)
    pairs = neardup_pairs_broadcast(emb, threshold=_D12_TAU)
    cent = _centroid_frame(emb, "vec_id", "embedding", _D12_CLUSTERS)
    asg = _assign_lists(emb, cent, "vec_id", "embedding", 6).select(
        F.col("neighbor_id").alias("_v"), "list_id"
    )
    tagged = (
        pairs.join(asg.select(F.col("_v").alias("id_a"),
                              F.col("list_id").alias("_la")), "id_a")
        .join(asg.select(F.col("_v").alias("id_b"),
                         F.col("list_id").alias("_lb")), "id_b")
    )
    return tagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("_la") == F.col("_lb")).cast("long")).alias("n_caught"),
    ).select(
        "n_pairs", "n_caught",
        F.round(F.try_divide(F.col("n_caught"), F.col("n_pairs")), 6)
        .alias("recall"),
    )


R07_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           WHERE vec_id < 2000),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE COALESCE({_cos_sql('a.e', 'b.e')}, -2) >= {_D12_TAU}
),
cents AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT {_D12_CLUSTERS}),
assign AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY COALESCE({_cos_sql('v.e', 'c.ce')}, -2) DESC, c.cid ASC
           ) AS rn
    FROM v CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN a.list_id = b.list_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       ROUND(sum(CASE WHEN a.list_id = b.list_id THEN 1 ELSE 0 END)
             / NULLIF(count(*), 0), 6) AS recall
FROM pairs p
JOIN assign a ON a.vec_id = p.id_a
JOIN assign b ON b.vec_id = p.id_b
"""


# --------------------------------------------------------------------------
# t20 — canonical text normalization (pre-dedup cleanup pass)
# --------------------------------------------------------------------------
def t20_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text.normalize_text over a DETERMINISTICALLY dirtied corpus (the
    parquet fixture is clean, so both engines inject the same leading
    spaces / upper-cased prefix / tab / CRLF before normalizing):
    control chars → space, whitespace collapsed, accents folded,
    casefolded. Output hashes prove byte-identical normalization."""
    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("  "), F.upper(F.substring(F.col("text"), 1, 20)),
        F.lit("\t"), F.col("text"), F.lit(" \r\n"),
    )
    norm = text.normalize_text(dirty)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(dirty).cast("long").alias("dirty_len"),
        F.length(norm).cast("long").alias("norm_len"),
    )


T20_SQL = f"""
WITH d AS (
  SELECT doc_id,
         '  ' || upper(substr(text, 1, 20)) || chr(9) || text
              || ' ' || chr(13) || chr(10) AS dirty
  FROM documents
),
n AS (
  SELECT doc_id, dirty,
         lower(translate(
           trim(regexp_replace(
             regexp_replace(dirty, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
             '\\s+', ' ', 'g')),
           '{text.ACCENT_SRC}', '{text.ACCENT_DST}')) AS norm
  FROM d
)
SELECT doc_id, md5(norm) AS norm_hash,
       CAST(length(dirty) AS BIGINT) AS dirty_len,
       CAST(length(norm) AS BIGINT) AS norm_len
FROM n
"""


# --------------------------------------------------------------------------
# q44 — mergeable HLL distinct rollup (daily sketches unioned to totals)
# --------------------------------------------------------------------------
def q44_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketches.hll_rollup: per-(event_type, day) HLL sketches UNIONED up
    to per-type distinct-user estimates — the incremental form of
    q30's approx_count_distinct (sketches persist and re-aggregate;
    plain distinct counts cannot). Sketch bytes are engine-specific, so
    the hashable output is exact counts + tolerance booleans, the q30
    oracle pattern; 10% tolerance is far above HLL's rsd at lgK=12."""
    ev = load(spark, sf_dir, "events")
    est = sketches.hll_rollup(
        ev, ["event_type"], "user_id", [F.to_date("ts")]
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    tol = 0.10
    ok = (F.col("distinct_est") == F.col("exact_users")) | (
        F.try_divide(
            F.abs(F.col("distinct_est") - F.col("exact_users")),
            F.col("exact_users"),
        )
        <= tol
    )
    return exact.join(est, "event_type").select(
        "event_type", "exact_users", ok.alias("users_ok")
    )


Q44_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS users_ok
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# x01 — inverted-index BM25 search (operators/search.py)
# --------------------------------------------------------------------------
_X01_QUERIES = [
    ("q_hashjoin", "hash join"),
    ("q_fastscan", "fast scan filter"),
    ("q_stream", "stream window watermark"),
    ("q_oov", "spark zzz_unseen_term"),  # OOV term must drop out, not null
]
_X01_K1 = 1.2
_X01_B = 0.75
_X01_TOP = 5


def x01_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.search.bm25_topk: top-5 documents per keyword query
    under Okapi BM25 over the single-space-token inverted index. The
    oracle replays the identical algebra (same expression shapes, same
    per-term round→decimal→exact-sum), so an exact hash match certifies
    idf, length normalization, OOV-term dropout, and tie order."""
    docs = load(spark, sf_dir, "documents")
    return search.bm25_topk(
        docs, "doc_id", "text", _X01_QUERIES,
        k1=_X01_K1, b=_X01_B, top_n=_X01_TOP,
    )


def _x01_queries_sql() -> str:
    rows = ", ".join(f"('{q}', '{t}')" for q, t in _X01_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, query_text)"


X01_SQL = f"""
WITH postings AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
    FROM documents
  ) WHERE term <> ''
  GROUP BY term, doc_id
),
doc_len AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
),
doc_freq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM postings GROUP BY term
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         sum(dl) * 1.0 / count(*) AS avgdl
  FROM doc_len
),
qterms AS (
  SELECT DISTINCT query_id, term
  FROM (
    SELECT query_id, unnest(string_split(trim(query_text), ' ')) AS term
    FROM {_x01_queries_sql()}
  ) WHERE term <> ''
),
q_idf AS (
  SELECT q.query_id, q.term,
         ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5)) AS idf,
         s.avgdl
  FROM qterms q JOIN doc_freq d ON q.term = d.term CROSS JOIN stats s
),
contrib AS (
  SELECT qi.query_id, p.doc_id,
         CAST(round(
           qi.idf * (p.tf * ({_X01_K1} + 1.0))
           / (p.tf + {_X01_K1} * (1.0 - {_X01_B} + {_X01_B} * dlen.dl / qi.avgdl)),
           9) AS DECIMAL(18,9)) AS c
  FROM postings p
  JOIN q_idf qi ON p.term = qi.term
  JOIN doc_len dlen ON p.doc_id = dlen.doc_id
),
scored AS (
  SELECT query_id, doc_id, sum(c) AS score_dec
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_dec,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_dec DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id,
       round(CAST(score_dec AS DOUBLE), 6) AS score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_X01_TOP}
"""


# --------------------------------------------------------------------------
# x02 — positional-index exact phrase search
# --------------------------------------------------------------------------
_X02_PHRASES = [
    ("p_hash_join", "hash join"),
    ("p_tbl_tbl", "table table"),       # repeated term: slot counting
    ("p_tri", "fast scan filter"),      # 3-term phrase
    ("p_absent", "hash zzz_unseen"),    # no doc can match
]


def x02_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.search.phrase_search: exact consecutive-token phrase
    match via positional postings — every occurrence aligned to its
    candidate start, a start matches when all offset slots fill. The
    oracle replays the same algebra; hash parity certifies position
    arithmetic, repeated-term slot counting, and absent-phrase zero."""
    docs = load(spark, sf_dir, "documents")
    return search.phrase_search(docs, "doc_id", "text", _X02_PHRASES)


def _x02_sql() -> str:
    q_rows, need_rows = [], []
    for qid, phrase in _X02_PHRASES:
        terms = [t for t in phrase.strip().split(" ") if t]
        need_rows.append(f"('{qid}', {len(terms)})")
        for off, term in enumerate(terms):
            q_rows.append(f"('{qid}', '{term}', {off})")
    return f"""
WITH postings AS (
  -- positions over the COMPACTED token list, matching
  -- operators/search.py:build_positional_postings (review r7)
  SELECT d.doc_id, d.t[u.i + 1] AS term, CAST(u.i AS BIGINT) AS pos
  FROM (SELECT doc_id,
               list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
        FROM documents) d,
       UNNEST(range(len(d.t))) AS u(i)
),
q(query_id, term, off) AS (VALUES {", ".join(q_rows)}),
need(query_id, need) AS (VALUES {", ".join(need_rows)}),
starts AS (
  SELECT q.query_id, p.doc_id, p.pos - q.off AS start, count(*) AS slots
  FROM postings p JOIN q ON p.term = q.term
  WHERE p.pos - q.off >= 0
  GROUP BY q.query_id, p.doc_id, p.pos - q.off
)
SELECT s.query_id, s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM starts s JOIN need n ON n.query_id = s.query_id
WHERE s.slots = n.need
GROUP BY s.query_id, s.doc_id
"""


X02_SQL = _x02_sql()


# --------------------------------------------------------------------------
# v01 — mergeable table fingerprint (replica verification)
# --------------------------------------------------------------------------
_V01_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_returnflag", "l_linestatus",
]


def v01_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.audit.table_fingerprint over lineitem, grouped by
    l_returnflag: (n_rows, additive 56-bit-hash fingerprint) — the
    order-insensitive replica-equality check. ``merge_ok`` recomputes
    the same fingerprints from 4 hash-shards and rolls them up with
    merge_fingerprints: exact integer sums make shard-merge == direct,
    certified here per group (the oracle pins TRUE, so a Spark-side
    mergeability break fails the hash)."""
    from ..operators import audit
    from ..operators.hashing import hex_prefix_long, row_hash_col

    li = load(spark, sf_dir, "lineitem")
    direct = audit.table_fingerprint(
        li, columns=_V01_COLS, group_by=["l_returnflag"]
    )
    # shard from the SAME digest prefix the fingerprint uses (any
    # deterministic disjoint split certifies mergeability) — codegen CSE
    # then computes one md5 per row in the sharded pass too
    shard = F.pmod(hex_prefix_long(row_hash_col(_V01_COLS)), F.lit(4))
    sharded = audit.table_fingerprint(
        li.withColumn("_shard", shard),
        columns=_V01_COLS,
        group_by=["l_returnflag", "_shard"],
    )
    merged = audit.merge_fingerprints(sharded, ["l_returnflag"]).select(
        "l_returnflag",
        F.col("n_rows").alias("_mn"),
        F.col("fingerprint").alias("_mf"),
    )
    return direct.join(merged, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        F.col("fingerprint").cast("string").alias("fingerprint"),
        (
            (F.col("n_rows") == F.col("_mn"))
            & (F.col("fingerprint") == F.col("_mf"))
        ).alias("merge_ok"),
    )


V01_SQL = """
WITH h AS (
  SELECT l_returnflag,
         -- single md5: hex_prefix_long takes the digest's own prefix
         ('0x' || substr(md5(concat_ws(chr(1),
             coalesce(CAST(l_orderkey AS VARCHAR), '<NULL>'),
             coalesce(CAST(l_partkey AS VARCHAR), '<NULL>'),
             coalesce(CAST(l_suppkey AS VARCHAR), '<NULL>'),
             coalesce(CAST(l_linenumber AS VARCHAR), '<NULL>'),
             coalesce(l_returnflag, '<NULL>'),
             coalesce(l_linestatus, '<NULL>'))), 1, 14))::BIGINT AS hv
  FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(hv) AS VARCHAR) AS fingerprint,
       TRUE AS merge_ok
FROM h GROUP BY l_returnflag
"""


SPECS: list[QuerySpec] = [
    QuerySpec("x01_bm25_search", x01_bm25_search, X01_SQL,
              "inverted-index Okapi BM25 top-k document search"),
    QuerySpec("x02_phrase_search", x02_phrase_search, X02_SQL,
              "positional-index exact phrase match (slot-count algebra)"),
    QuerySpec("v01_table_fingerprint", v01_table_fingerprint, V01_SQL,
              "mergeable order-insensitive table fingerprint (replica check)"),
    QuerySpec("c02_cms_frequency", c02_cms_frequency, C02_SQL,
              "Count-Min sketch point queries vs exact frequencies"),
    QuerySpec("d12_semantic_dedup", d12_semantic_dedup, D12_SQL,
              "SemDeDup: cluster then drop tight within-cluster neighbors"),
    QuerySpec("t19_token_entropy", t19_token_entropy, T19_SQL,
              "per-document token-distribution Shannon entropy"),
    QuerySpec("a06_domain_blocklist", a06_domain_blocklist, A06_SQL,
              "URL host blocklist with label-boundary suffix matching"),
    QuerySpec("p01_transition_pagerank", p01_transition_pagerank, P01_SQL,
              "fixed-iteration weighted PageRank over transition graph"),
    QuerySpec("q44_hll_mergeable", q44_hll_mergeable, Q44_SQL,
              "mergeable HLL distinct rollup (daily sketches unioned)"),
    QuerySpec("t20_normalize_text", t20_normalize_text, T20_SQL,
              "canonical text normalization (controls/space/accents/case)"),
    QuerySpec("r07_recall_semdedup", r07_recall_semdedup, R07_SQL,
              "SemDeDup pair recall: tight pairs caught within clusters"),
]
