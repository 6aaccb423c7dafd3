"""Extension queries: multimodal oracle, ANN recall, streaming parity.

Three families the round-2 verdict asked to put under the hard
(driver/DuckDB) correctness signal:

- **m01** — first oracle-checked multimodal query: the expression-level
  PNG header probe (``multimodal.png_dims``) runs over blobs synthesized
  deterministically from ``doc_id``; the oracle recomputes the expected
  dimensions arithmetically, so the bytes→dims parse is checked against
  independent ground truth (not a re-parse).
- **r01–r04** — measured recall@k of every approximate ANN family
  (sign-bucket, multi-probe, IVF, random-hyperplane) against the exact
  brute-force baseline, one row per probe query. Both the approximate
  and the exact side are replayed by the DuckDB oracle, so the recall
  numbers themselves are hash-verified — this is the artifact a real
  user asks of any ANN ("what recall does this config actually get?").
- **s01** — batch replay of bounded-state streaming dedup
  (``streaming.ingest_stream.streaming_dedup``): first-occurrence-
  anchored (r11) — the streaming state stores the FIRST occurrence's
  expiry and duplicates do not extend it; a duplicate within the
  horizon of its anchor is dropped, the first event beyond it starts a
  new anchor. Spark side: the production ``watermark_dedup_batch``
  replay; oracle side: a recursive-CTE anchor walk.

At 100 TB: m01 stays in whole-stage codegen (pure hex/substring
expressions — a metadata predicate usable before any decode); r* reuse
the bucketed candidate-generation joins (the exact baseline is
restricted to the probe set, which is ABSOLUTELY bounded (≤2000 rows
at any sf — llm_ops._probe_slice), so it is O(N), never quadratic); s01 is
one keyed shuffle (hash-partition by content hash), no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.multimodal import decode_features, png_dims
from .base import QuerySpec, load


# --------------------------------------------------------------------------
# m01 — expression-level PNG dimension probe over synthesized blobs
# --------------------------------------------------------------------------
def m01_png_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 24-byte PNG header (signature + IHDR length/tag + dims)
    per document with hex expressions, then parse it back with the
    production ``png_dims`` probe. The oracle computes the same dims
    straight from ``doc_id`` — independent ground truth for the parser.
    """
    docs = load(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 1920 + 1).cast("bigint")
    h = (F.col("doc_id") % 1080 + 1).cast("bigint")
    blob = F.unhex(
        F.concat(
            # PNG signature (8B) + IHDR chunk length 13 (4B) + "IHDR" (4B)
            F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
        )
    )
    dims = png_dims(blob)
    return docs.select(
        "doc_id",
        dims["width"].alias("width"),
        dims["height"].alias("height"),
    )


M01_SQL = """
SELECT doc_id,
       CAST(doc_id % 1920 + 1 AS INT) AS width,
       CAST(doc_id % 1080 + 1 AS INT) AS height
FROM documents
"""


# --------------------------------------------------------------------------
# m02 — REAL WAV header parser (mapInPandas, stdlib struct) vs arithmetic
# oracle over synthesized RIFF/WAVE headers
# --------------------------------------------------------------------------
def _le_hex(col: F.Column, nbytes: int) -> F.Column:
    """Little-endian hex of an integral column, ``nbytes`` wide — the
    byte order RIFF containers use (Spark's hex() is big-endian)."""
    parts = [
        F.lpad(
            F.hex(F.shiftrightunsigned(col.cast("long"), 8 * i).bitwiseAND(F.lit(255))),
            2, "0",
        )
        for i in range(nbytes)
    ]
    return F.concat(*parts)


def _wav_header_hex(rate: F.Column, data_size: F.Column) -> F.Column:
    """Canonical 44-byte 16-bit mono PCM WAV header as a hex expression
    — ONE copy shared by m02 and m05, so an edit to the RIFF/WAVE/fmt/
    data layout can never leave the other spec's blobs (and its
    arithmetic oracle) on a stale layout (review r8; the same cure as
    the shared _mp4_assets helper for m03/m04)."""
    byte_rate = rate * 2
    return F.concat(
        F.lit("52494646"), _le_hex(data_size + 36, 4),   # "RIFF" + size
        F.lit("57415645"),                               # "WAVE"
        F.lit("666D7420"), F.lit("10000000"),            # "fmt " + 16
        F.lit("0100"), F.lit("0100"),                    # PCM, mono
        _le_hex(rate, 4), _le_hex(byte_rate, 4),
        F.lit("0200"), F.lit("1000"),                    # align 2, 16 bit
        F.lit("64617461"), _le_hex(data_size, 4),        # "data" + size
    )


def m02_wav_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a complete 44-byte WAV header per document (canonical
    RIFF/WAVE/fmt/data layout, little-endian fields built with hex
    expressions) and run the PRODUCTION header decoder —
    ``multimodal.decode_features``, the stdlib ``struct`` parser inside
    ``mapInPandas`` — over the blobs. The oracle recomputes sample rate
    and duration arithmetically from ``doc_id``: independent ground
    truth for both the parser and the Arrow-batch plumbing.
    """
    docs = load(spark, sf_dir, "documents")
    rate = (F.lit(8000) * (F.col("doc_id") % 6 + 1)).cast("long")
    data_size = rate * 2 * (F.col("doc_id") % 10 + 1)    # whole seconds
    hexstr = _wav_header_hex(rate, data_size)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.unhex(hexstr).alias("data"),
    )
    return decode_features(assets).select(
        "asset_id", "kind", "format", "n_bytes", "duration_ms", "sample_rate"
    )


M02_SQL = """
SELECT doc_id AS asset_id,
       'audio' AS kind,
       'wav' AS format,
       CAST(44 AS BIGINT) AS n_bytes,
       CAST((1 + doc_id % 10) * 1000 AS INT) AS duration_ms,
       CAST(8000 * (1 + doc_id % 6) AS INT) AS sample_rate
FROM documents
"""


# --------------------------------------------------------------------------
# m03 — MP4 (video) header parser vs arithmetic oracle: the third media
# container, so every decode_features branch (image/audio/video) is
# under the hard signal
# --------------------------------------------------------------------------
def _mp4_assets(docs: DataFrame) -> DataFrame:
    """Shared minimal ISO-BMFF synthesis (``ftyp`` box + version-0
    ``mvhd`` with big-endian timescale/duration) for m03 AND m04 — ONE
    copy, so the two arithmetic oracles can never silently drift from
    different container layouts (review r8). duration = ts·k + ts/2
    with an even timescale ⇒ duration_ms = 1000·k + 500 exactly,
    k = doc_id % 20 + 1."""
    k = (F.col("doc_id") % 20 + 1).cast("long")
    ts = (F.lit(1000) * (F.col("doc_id") % 4 + 1)).cast("long")
    dur = ts * k + ts / 2
    hexstr = F.concat(
        # ftyp box: size 16, brand isom, minor_version 0
        F.lit("00000010" "66747970" "69736F6D" "00000000"),
        # mvhd box: size 28, tag, version 0 + flags, ctime, mtime,
        # then timescale and duration (big-endian, like the container)
        F.lit("0000001C" "6D766864" "00000000" "00000000" "00000000"),
        F.lpad(F.hex(ts), 8, "0"),
        F.lpad(F.hex(dur.cast("long")), 8, "0"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.unhex(hexstr).alias("data"),
    )


def m03_mp4_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a minimal ISO-BMFF prefix per document (shared
    :func:`_mp4_assets`) and run the PRODUCTION mapInPandas header
    decoder over the blobs; the oracle is pure integer arithmetic on
    ``doc_id``."""
    assets = _mp4_assets(load(spark, sf_dir, "documents"))
    return decode_features(assets).select(
        "asset_id", "kind", "format", "n_bytes", "duration_ms"
    )


M03_SQL = """
SELECT doc_id AS asset_id,
       'video' AS kind,
       'mp4' AS format,
       CAST(44 AS BIGINT) AS n_bytes,
       CAST((doc_id % 20 + 1) * 1000 + 500 AS INT) AS duration_ms
FROM documents
"""


# --------------------------------------------------------------------------
# m05 — REAL sample-level PCM decode: synthesize complete WAVs (header +
# deterministic int16 waveform), decode the actual bytes with
# multimodal.pcm_features (numpy frombuffer inside the Arrow batch), and
# require the integer signal statistics to equal the oracle's arithmetic
# replay of the generating formula. One tier above m02's header parse —
# per-sample DSP without media libraries, because PCM is just packed
# int16.
# --------------------------------------------------------------------------
_M05_WINDOW = 32


def m05_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import pcm_features

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    n = (did % 64 + 64).cast("long")            # 64..127 samples
    data_size = n * 2                            # 16-bit mono PCM
    rate = F.lit(8000).cast("long")
    header = _wav_header_hex(rate, data_size)

    def le16(i):  # sample i as 2 little-endian hex bytes
        v = F.pmod(did * 31 + i * 17, F.lit(4096)) - 2048
        h = F.lpad(F.hex(F.pmod(v, F.lit(65536))), 4, "0")
        return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))

    pcm_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), (n - 1).cast("int")), le16), ""
    )
    assets = docs.select(
        did.alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.unhex(F.concat(header, pcm_hex)).alias("data"),
    )
    return pcm_features(assets, window=_M05_WINDOW)


M05_SQL = f"""
WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
s AS (
  SELECT doc_id, n, i, ((doc_id * 31 + i * 17) % 4096) - 2048 AS v
  FROM d, UNNEST(range(n)) AS u(i)
),
agg AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
         CAST(sum(v * v) AS BIGINT) AS sum_sq,
         CAST(max(abs(v)) AS INT) AS peak
  FROM s GROUP BY doc_id
),
w AS (
  SELECT doc_id, i // {_M05_WINDOW} AS wi, sum(v * v) AS wsum
  FROM s WHERE i < (n // {_M05_WINDOW}) * {_M05_WINDOW}
  GROUP BY doc_id, i // {_M05_WINDOW}
)
SELECT agg.doc_id AS asset_id, n_samples, sum_sq, peak,
       CAST(max(w.wsum) AS BIGINT) AS max_window_sumsq
FROM agg JOIN w ON w.doc_id = agg.doc_id
GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# r01–r04 — recall@3 of each ANN family vs the exact baseline
# --------------------------------------------------------------------------
_K = 3


def _recall_frame(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall = |approx ∩ exact| / |exact| over (query,neighbor)
    pairs. Approx pairs are deduped first so multi-probe candidate
    duplication can never inflate recall."""
    hits = (
        approx.select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.col("n_exact"), 6))
    )


def _emb_queries(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load(spark, sf_dir, "embeddings")
    from .llm_ops import _probe_slice

    return emb, emb.where(_probe_slice())


def r01_recall_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _emb_queries(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, q, k=_K)
    approx = similarity.bucketed_ann(emb, q, k=_K, n_bits=8)
    return _recall_frame(exact, approx)


def r02_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _emb_queries(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, q, k=_K)
    approx = similarity.bucketed_ann(emb, q, k=_K, n_bits=8, multi_probe=1)
    return _recall_frame(exact, approx)


def r03_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _emb_queries(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, q, k=_K)
    approx = similarity.ivf_topk(emb, q, k=_K, n_centroids=8, n_probe=2)
    return _recall_frame(exact, approx)


def r04_recall_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _emb_queries(spark, sf_dir)
    planes = similarity.deterministic_planes(64, 8)
    exact = similarity.brute_force_topk(emb, q, k=_K)
    approx = similarity.bucketed_ann(emb, q, k=_K, multi_probe=1, planes=planes)
    return _recall_frame(exact, approx)


def _exact_topk_sql(k: int) -> str:
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 100 = 0 AND vec_id < 200000),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, e)
               / NULLIF(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)), 0),
               6) AS score
  FROM q JOIN v ON v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _recall_sql(approx_sql: str, k: int = _K) -> str:
    """Wrap an existing ANN oracle statement (its own WITH is legal in a
    parenthesized subquery) into the recall computation. BIGINT/BIGINT
    division is float in DuckDB, matching Spark's long/long → double."""
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_exact_topk_sql(k)}) x),
approx AS (SELECT DISTINCT query_id, neighbor_id FROM ({approx_sql}) a)
SELECT e.query_id,
       COUNT(*) AS n_exact,
       COUNT(ap.neighbor_id) AS n_hit,
       ROUND(COUNT(ap.neighbor_id) / COUNT(*), 6) AS recall
FROM exact e
LEFT JOIN approx ap
  ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


# --------------------------------------------------------------------------
# k01 — skew-salted join under the hard signal (parity with the plain join)
# --------------------------------------------------------------------------
def k01_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment computed through ``skew.salted_join``
    (orders probe × customer build, 8-way salt): the salted plan must be
    RESULT-IDENTICAL to the plain equi-join the oracle runs — salting is
    a physical rewrite, never a semantic one. Fixed-point cents keep the
    double aggregation engine-portable (see ``relational.cents``).
    """
    from ..operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    from .relational import cents

    joined = salted_join(orders, customer, on="custkey", salt=8)
    total = cents(F.col("o_totalprice"))  # THE fixed-point recipe, not a copy
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(total) / 100.0).alias("revenue"),
    )


K01_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# f01 — fuzzy entity resolution (n-gram-blocked Levenshtein join)
# --------------------------------------------------------------------------
def f01_fuzzy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve dirty customer names against the master table. Each dirty
    record is the customer's name with a deterministic typo (the 'o' of
    "Customer" dropped); the blocked fuzzy join must recover the true
    customer as the best match — the true pair is distance 1, while any
    other key's name is ≥2, so min-distance resolution is unambiguous.
    Both the blocking (shared rare 3-gram, df ≤ 100 across both sides)
    and the verification (Levenshtein) replay exactly in DuckDB.
    """
    from ..operators.fuzzy import fuzzy_join, resolve_best

    cust = load(spark, sf_dir, "customer")
    dirty = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("dirty_id"),
        # "Customer#000000042" -> "Custmer#000000042"
        F.concat(
            F.substring("c_name", 1, 4), F.substring("c_name", 6, 2_000)
        ).alias("dirty_name"),
    )
    clean = cust.select("c_custkey", "c_name")
    matches = fuzzy_join(
        dirty, clean, "dirty_id", "c_custkey", "dirty_name", "c_name",
        gram_n=3, max_df=100, max_distance=2,
    )
    return resolve_best(matches, "dirty_id_l", "c_custkey_r").select(
        F.col("dirty_id_l").alias("dirty_id"),
        F.col("c_custkey_r").alias("matched_custkey"),
        "dist",
    )


F01_SQL = """
WITH dirty AS (
  SELECT c_custkey + 1000000 AS _lid,
         regexp_replace(lower(trim(substr(c_name, 1, 4) || substr(c_name, 6))),
                        '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g') AS _lp
  FROM customer
),
clean AS (
  SELECT c_custkey AS _rid,
         regexp_replace(lower(trim(c_name)), '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g') AS _rp
  FROM customer
),
gl AS (
  SELECT DISTINCT _lid, _lp, substr(_lp, CAST(i AS INT), 3) AS gram
  FROM dirty, UNNEST(range(1, greatest(len(_lp) - 2, 1) + 1)) AS u(i)
  UNION ALL
  -- short-string sentinel block (r11): len < gram_n*(max_distance+1)=9
  SELECT _lid, _lp, chr(1) AS gram FROM dirty WHERE len(_lp) < 9
),
gr AS (
  SELECT DISTINCT _rid, _rp, substr(_rp, CAST(i AS INT), 3) AS gram
  FROM clean, UNNEST(range(1, greatest(len(_rp) - 2, 1) + 1)) AS u(i)
  UNION ALL
  SELECT _rid, _rp, chr(1) AS gram FROM clean WHERE len(_rp) < 9
),
df AS (
  SELECT gram FROM (
    SELECT gram, count(*) AS n
    FROM (SELECT gram FROM gl UNION ALL SELECT gram FROM gr)
    GROUP BY gram
  ) WHERE n <= 100
),
cands AS (
  SELECT DISTINCT _lid, _rid, _lp, _rp
  FROM (SELECT * FROM gl JOIN df USING (gram)) a
  JOIN (SELECT * FROM gr JOIN df USING (gram)) b USING (gram)
),
matches AS (
  SELECT _lid, _rid, CAST(levenshtein(_lp, _rp) AS INT) AS dist
  FROM cands WHERE levenshtein(_lp, _rp) <= 2
)
SELECT dirty_id, matched_custkey, dist FROM (
  SELECT _lid AS dirty_id, _rid AS matched_custkey, dist,
         row_number() OVER (PARTITION BY _lid ORDER BY dist, _rid) AS rn
  FROM matches
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# u01 — SCD type-2 dimension maintenance under the hard signal
# --------------------------------------------------------------------------
def u01_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change batch to a type-2 customer dimension through the
    production ``upsert.scd2_apply``: late-1997 orders are the change
    stream (one change per key per day, MAX price as the deterministic
    attribute), the open row closes at the key's first change, chained
    versions each end at the next change, the last stays open. The
    oracle replays the same close/chain logic in SQL — the operator the
    MERGE/SCD2 suite previously pinned with pytest only.
    """
    from ..operators.upsert import scd2_apply

    dim = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    changes = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "1997-06-01")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("c_acctbal"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_acctbal",
            F.col("o_orderdate").alias("_change_ts"),
        )
    )
    return scd2_apply(dim, changes, key="c_custkey")


U01_SQL = """
WITH dim AS (
  SELECT c_custkey, c_acctbal,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer
),
changes AS (
  SELECT o_custkey AS c_custkey, MAX(o_totalprice) AS c_acctbal,
         o_orderdate AS _change_ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
  GROUP BY o_custkey, o_orderdate
),
closing AS (
  SELECT c_custkey, MIN(_change_ts) AS _close_ts FROM changes GROUP BY c_custkey
)
SELECT d.c_custkey, d.c_acctbal, d.valid_from, c._close_ts AS valid_to
FROM dim d JOIN closing c USING (c_custkey)
UNION ALL
SELECT d.c_custkey, d.c_acctbal, d.valid_from, d.valid_to
FROM dim d ANTI JOIN closing c USING (c_custkey)
UNION ALL
SELECT c_custkey, c_acctbal, _change_ts AS valid_from,
       lead(_change_ts) OVER (PARTITION BY c_custkey ORDER BY _change_ts)
         AS valid_to
FROM changes
"""


# --------------------------------------------------------------------------
# s01 — batch replay of bounded-state streaming dedup (watermark horizon)
# --------------------------------------------------------------------------
_S01_GAP_MIN = 30


def s01_watermark_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch query pinning the SEMANTICS of ``streaming_dedup``
    (``streaming/ingest_stream.py``) via the production batch replay
    ``watermark_dedup_batch`` — FIRST-OCCURRENCE-ANCHORED (review r11):
    the streaming state stores the first occurrence's expiry and
    duplicates do NOT extend it, so a sub-horizon chain 10:00/10:20/
    10:40 keeps 10:00 AND 10:40. The previous lag-gap replay dropped
    10:40 — and its oracle replayed the same lag rule, so the spec was
    structurally blind to the mismatch (latent on the fixture: 0
    divergent rows at sf0.01, pytest-pinned divergence on a synthetic
    chain in tests/test_streaming.py). The oracle now replays the
    anchor rule with a recursive CTE.
    """
    from ..streaming.ingest_stream import watermark_dedup_batch

    ev = load(spark, sf_dir, "events")
    kept = watermark_dedup_batch(
        ev, ["user_id", "event_type"], watermark_s=_S01_GAP_MIN * 60
    )
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "row_hash",
    )


S01_SQL = f"""
WITH RECURSIVE hashed AS (
  SELECT event_id, user_id, event_type, ts,
         md5(concat_ws(chr(1),
             coalesce(CAST(user_id AS VARCHAR), '<NULL>'),
             coalesce(event_type, '<NULL>'))) AS row_hash
  FROM events
),
ordered AS (
  SELECT *, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY row_hash
                            ORDER BY ts, event_id) AS rn
  FROM hashed
),
anchors AS (
  -- first occurrence per hash anchors the state; each recursive step
  -- advances every still-live hash to its FIRST event strictly beyond
  -- the anchor's horizon (the idealized prompt-eviction semantics of
  -- dropDuplicatesWithinWatermark)
  SELECT row_hash, rn, ts_us FROM ordered WHERE rn = 1
  UNION ALL
  SELECT n.row_hash, n.rn, n.ts_us
  FROM anchors a, LATERAL (
    SELECT o.row_hash, o.rn, o.ts_us FROM ordered o
    WHERE o.row_hash = a.row_hash
      AND o.ts_us > a.ts_us + {_S01_GAP_MIN} * 60 * 1000000
    ORDER BY o.rn LIMIT 1
  ) n
)
SELECT o.event_id, o.user_id, o.event_type, o.ts_us, o.row_hash
FROM anchors a
JOIN ordered o ON o.row_hash = a.row_hash AND o.rn = a.rn
"""


def _build_specs() -> list[QuerySpec]:
    from .llm_ops import D07_SQL, D08_SQL, D10_SQL, D11_SQL

    return [
        QuerySpec("m01_png_dims", m01_png_dims, M01_SQL,
                  "expression-level PNG header probe vs arithmetic oracle"),
        QuerySpec("m02_wav_headers", m02_wav_headers, M02_SQL,
                  "real stdlib WAV header parser (mapInPandas) vs arithmetic oracle"),
        QuerySpec("m03_mp4_headers", m03_mp4_headers, M03_SQL,
                  "real stdlib MP4/mvhd header parser vs arithmetic oracle"),
        QuerySpec("m05_wav_energy", m05_wav_energy, M05_SQL,
                  "REAL PCM sample decode (numpy in Arrow batch): integer "
                  "signal energy/peak/window stats vs arithmetic oracle"),
        QuerySpec("m06_png_pixel_stats", m06_png_pixel_stats, M06_SQL,
                  "REAL PNG pixel decode (pure-stdlib inflate+unfilter, "
                  "all 5 filter types): exact channel means vs "
                  "arithmetic oracle"),
        QuerySpec("r01_recall_bucketed", r01_recall_bucketed, _recall_sql(D07_SQL),
                  "recall@3 of sign-bucket ANN vs exact baseline"),
        QuerySpec("r02_recall_multiprobe", r02_recall_multiprobe, _recall_sql(D08_SQL),
                  "recall@3 of Hamming-1 multi-probe ANN vs exact baseline"),
        QuerySpec("r03_recall_ivf", r03_recall_ivf, _recall_sql(D10_SQL),
                  "recall@3 of IVF(n_probe=2) ANN vs exact baseline"),
        QuerySpec("r04_recall_hyperplane", r04_recall_hyperplane, _recall_sql(D11_SQL),
                  "recall@3 of random-hyperplane LSH ANN vs exact baseline"),
        QuerySpec("s01_watermark_dedup_batch", s01_watermark_dedup_batch, S01_SQL,
                  "batch replay of dropDuplicatesWithinWatermark semantics"),
        QuerySpec("f01_fuzzy_resolve", f01_fuzzy_resolve, F01_SQL,
                  "n-gram-blocked Levenshtein entity resolution vs master table"),
        QuerySpec("k01_salted_join_revenue", k01_salted_join_revenue, K01_SQL,
                  "skew-salted join parity vs plain equi-join oracle"),
        QuerySpec("u01_scd2_versions", u01_scd2_versions, U01_SQL,
                  "SCD2 dimension maintenance vs SQL close/chain replay"),
    ]


# --------------------------------------------------------------------------
# m06 — REAL PNG pixel decode (pure-stdlib inflate + unfilter,
# operators/multimodal.py:decode_png_pixels) over 64 synthesized
# closed-form images exercising all five PNG filter types; the oracle
# recomputes the channel sums ARITHMETICALLY from the pixel formula,
# fully independent of the decoder. Closes the "pixel decode is an
# env seam" caveat for PNG (JPEG/video stay env-gated).
# --------------------------------------------------------------------------
_M06_N = 64


def m06_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import png_pixel_stats, synthesize_png

    # bounded fixture built driver-side (64 tiny PNGs; the DECODE is the
    # distributed operator under test) — pandas-born frame avoids the
    # 32-slice serial round-trip of createDataFrame(list) (SCALE.md)
    pdf = _pd.DataFrame({
        "asset_id": list(range(_M06_N)),
        "data": [
            synthesize_png(i, 8 + i % 9, 8 + i % 7) for i in range(_M06_N)
        ],
    })
    assets = spark.createDataFrame(pdf).repartition(8)
    stats = png_pixel_stats(assets)
    return stats.select(
        "asset_id", "width", "height", "channels",
        F.element_at("mean_milli", 1).alias("mean0_milli"),
        F.element_at("mean_milli", 2).alias("mean1_milli"),
        F.element_at("mean_milli", 3).alias("mean2_milli"),
    ).orderBy("asset_id")


M06_SQL = f"""
WITH ids AS (SELECT unnest(range({_M06_N})) AS id),
dims AS (
  SELECT id, CAST(8 + id % 9 AS INT) AS w, CAST(8 + id % 7 AS INT) AS h
  FROM ids
),
px AS (
  SELECT d.id, d.w, d.h, c.c,
         sum((d.id * 7 + y.y * 5 + x.x * 3 + c.c * 11) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(range(d.h)) AS y) y,
       LATERAL (SELECT unnest(range(d.w)) AS x) x,
       (SELECT unnest([0, 1, 2]) AS c) c
  GROUP BY 1, 2, 3, 4
)
SELECT id AS asset_id,
       min(w) AS width, min(h) AS height, CAST(3 AS INT) AS channels,
       CAST(max(CASE WHEN c = 0 THEN s END) * 1000 // (min(w) * min(h))
            AS BIGINT) AS mean0_milli,
       CAST(max(CASE WHEN c = 1 THEN s END) * 1000 // (min(w) * min(h))
            AS BIGINT) AS mean1_milli,
       CAST(max(CASE WHEN c = 2 THEN s END) * 1000 // (min(w) * min(h))
            AS BIGINT) AS mean2_milli
FROM px
GROUP BY id
ORDER BY id
"""


# --------------------------------------------------------------------------
# m07 — REAL baseline-JPEG pixel decode (pure-Python huffman entropy
# decode + numpy dequant/IDCT, operators/multimodal.py:
# decode_jpeg_pixels) over 48 synthesized DC-only grayscale JPEGs whose
# 8x8 blocks are flat with a closed-form value; with the all-ones quant
# table the DC path reconstructs exactly, so the oracle recomputes the
# channel mean ARITHMETICALLY, fully independent of the decoder. With
# m06 (PNG) this closes the "pixel decode is an env seam" caveat for
# every image format in the corpus; lossy-quant, 4:4:4 and 4:2:0 color
# paths are closed-form pytest-pinned (test_extras.py).
# --------------------------------------------------------------------------
_M07_N = 48


def m07_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import png_pixel_stats, synthesize_jpeg

    pdf = _pd.DataFrame({
        "asset_id": list(range(_M07_N)),
        "data": [
            synthesize_jpeg(i, 8 * (1 + i % 4), 8 * (1 + i % 3))
            for i in range(_M07_N)
        ],
    })
    assets = spark.createDataFrame(pdf).repartition(8)
    stats = png_pixel_stats(assets)  # dispatches on magic bytes
    return stats.select(
        "asset_id", "width", "height", "channels",
        F.element_at("mean_milli", 1).alias("mean0_milli"),
    ).orderBy("asset_id")


M07_SQL = f"""
WITH ids AS (SELECT unnest(range({_M07_N})) AS id),
dims AS (
  SELECT id, CAST(8 * (1 + id % 4) AS INT) AS w,
         CAST(8 * (1 + id % 3) AS INT) AS h
  FROM ids
),
blk AS (
  SELECT d.id, d.w, d.h,
         sum((d.id * 7 + by.by * 5 + bx.bx * 3) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(range(d.h // 8)) AS by) by,
       LATERAL (SELECT unnest(range(d.w // 8)) AS bx) bx
  GROUP BY 1, 2, 3
)
SELECT id AS asset_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(s * 64 * 1000 // (w * h) AS BIGINT) AS mean0_milli
FROM blk
ORDER BY id
"""


# --------------------------------------------------------------------------
# m08 — REAL video frame decode for MJPEG-AVI (container walk +
# per-frame baseline-JPEG decode, every-k frame sampling). Same
# closed-form DC-only fixture family as m07, keyed by seed + 31·frame,
# so the oracle stays pure arithmetic and decoder-independent. With
# this, frame SAMPLING (m04, count arithmetic) is joined by frame
# PIXELS for a real video codec; inter-frame codecs stay env-gated.
# --------------------------------------------------------------------------
_M08_N = 12


def m08_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import mjpeg_frame_stats, synthesize_mjpeg_avi

    pdf = _pd.DataFrame({
        "asset_id": list(range(_M08_N)),
        "data": [
            synthesize_mjpeg_avi(i, 8 * (1 + i % 3), 8 * (1 + i % 2),
                                 n_frames=4 + i % 3)
            for i in range(_M08_N)
        ],
    })
    assets = spark.createDataFrame(pdf).repartition(4)
    stats = mjpeg_frame_stats(assets, every_k=2)
    return stats.select(
        "asset_id", "frame_idx", "n_frames", "width", "height", "channels",
        F.element_at("mean_milli", 1).alias("mean0_milli"),
    ).orderBy("asset_id", "frame_idx")


M08_SQL = f"""
WITH ids AS (SELECT unnest(range({_M08_N})) AS id),
dims AS (
  SELECT id, CAST(8 * (1 + id % 3) AS INT) AS w,
         CAST(8 * (1 + id % 2) AS INT) AS h,
         CAST(4 + id % 3 AS INT) AS nf
  FROM ids
),
fr AS (
  SELECT d.id, d.w, d.h, d.nf, f.f
  FROM dims d, LATERAL (SELECT unnest(range(d.nf)) AS f) f
  WHERE f.f % 2 = 0
),
blk AS (
  SELECT id, f, w, h, nf,
         sum(((id + 31 * f) * 7 + by.by * 5 + bx.bx * 3) % 256) AS s
  FROM fr,
       LATERAL (SELECT unnest(range(h // 8)) AS by) by,
       LATERAL (SELECT unnest(range(w // 8)) AS bx) bx
  GROUP BY 1, 2, 3, 4, 5
)
SELECT id AS asset_id, CAST(f AS INT) AS frame_idx, nf AS n_frames,
       w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(s * 64 * 1000 // (w * h) AS BIGINT) AS mean0_milli
FROM blk
ORDER BY asset_id, frame_idx
"""


SPECS = _build_specs() + [
    QuerySpec("m07_jpeg_pixel_stats", m07_jpeg_pixel_stats, M07_SQL,
              "REAL baseline-JPEG pixel decode (pure-Python huffman + "
              "numpy IDCT): exact channel means vs arithmetic oracle"),
    QuerySpec("m08_mjpeg_frame_stats", m08_mjpeg_frame_stats, M08_SQL,
              "REAL MJPEG-AVI video frame decode (container walk + "
              "JPEG per frame, every-2nd sampling) vs arithmetic oracle"),
]


# --------------------------------------------------------------------------
# m04 — video frame sampling from real header metadata
# --------------------------------------------------------------------------
def m04_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.multimodal.frame_sample_stub over m03's synthesized MP4
    blobs with decode_stub='headers': the frame COUNT comes from the
    PRODUCTION mvhd duration decode (mapInPandas), then explodes to one
    row per sampled frame. duration_ms = 1000·k + 500 (k = doc_id%20+1)
    so the oracle is pure integer arithmetic: exactly k frames at
    1000 ms strides."""
    from datawarehouse_backup_system_spark.operators.multimodal import (
        frame_sample_stub,
    )

    assets = _mp4_assets(
        load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    frames = frame_sample_stub(assets, every_ms=1000, decode_stub="headers")
    return frames.select(
        "asset_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_ms").cast("bigint").alias("frame_ms"),
    )


M04_SQL = """
SELECT doc_id AS asset_id,
       CAST(u.i AS BIGINT) AS frame_idx,
       CAST(u.i * 1000 AS BIGINT) AS frame_ms
FROM documents, UNNEST(range(doc_id % 20 + 1)) AS u(i)
WHERE doc_id < 200
"""

SPECS.append(
    QuerySpec("m04_frame_sample", m04_frame_sample, M04_SQL,
              "frame sampling exploded from real mvhd header duration")
)


# r7 consolidation (COVERAGE.md): m01 -> m06 (expression probe vs real
# decode, parity pinned in test_extras + test_folded_twins), m02 -> m05
# (header fields ride the energy query), r01 -> r02 (bucketed recall is
# the multi-probe's probes=0 dominance floor, pinned in test_extras),
# u01 -> u03 (SCD2 chain integrity; point-in-time keeps the harder path).
_FOLDED = {
    "m01_png_dims", "m02_wav_headers", "r01_recall_bucketed",
    "u01_scd2_versions",
}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
