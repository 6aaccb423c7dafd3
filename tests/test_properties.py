"""Property-based invariants (SURVEY §5): dedup idempotence, anti-join
disjointness, dense-id correctness under arbitrary partitioning."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.dedup import (
    anti_join_history,
    self_dedup_first,
)
from datawarehouse_backup_system_spark.operators.hashing import with_row_hash
from datawarehouse_backup_system_spark.operators.ids import assign_dense_ids

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

content = st.lists(
    st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c", None])),
    min_size=0,
    max_size=30,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, v, s) for i, (v, s) in enumerate(rows)], "seq long, v long, s string"
    )


@SETTINGS
@given(rows=content)
def test_dedup_idempotent_and_first_wins(spark, rows):
    df = with_row_hash(_df(spark, rows), ["v", "s"])
    once = self_dedup_first(df, order_col="seq")
    twice = self_dedup_first(once, order_col="seq")
    got_once = sorted(r["seq"] for r in once.collect())
    got_twice = sorted(r["seq"] for r in twice.collect())
    assert got_once == got_twice  # idempotence
    # first occurrence wins: survivor seq is the min seq of its group
    first_by_key = {}
    for i, (v, s) in enumerate(rows):
        first_by_key.setdefault((v, s), i)
    assert got_once == sorted(first_by_key.values())


@SETTINGS
@given(rows=content, hist=content)
def test_anti_join_disjoint_and_complete(spark, rows, hist):
    new = with_row_hash(_df(spark, rows), ["v", "s"])
    history = with_row_hash(_df(spark, hist), ["v", "s"])
    out = anti_join_history(new, history)
    hist_keys = {(v, s) for (v, s) in hist}
    surviving = {(r["v"], r["s"]) for r in out.collect()}
    assert surviving.isdisjoint(hist_keys)  # nothing from history leaks
    expected = {(v, s) for (v, s) in rows} - hist_keys
    assert surviving == expected  # nothing novel is lost


@SETTINGS
@given(
    n=st.integers(0, 200),
    start=st.integers(0, 10_000),
    parts=st.integers(1, 8),
)
def test_dense_ids_any_partitioning(spark, n, start, parts):
    df = spark.range(n).withColumnRenamed("id", "k").repartition(parts)
    out = assign_dense_ids(df, ["k"], start=start)
    rows = out.orderBy("k").select("id").collect()
    assert [r["id"] for r in rows] == list(range(start + 1, start + n + 1))


@SETTINGS
@given(
    tokens=st.lists(st.integers(1, 300), min_size=0, max_size=40),
    capacity=st.integers(10, 500),
)
def test_pack_sequences_layout_invariants(spark, tokens, capacity):
    """Concat-and-chunk layout: within each shard the documents tile the
    token stream exactly — global start position == running sum of all
    earlier docs in the shard — and every offset is inside [0, capacity)."""
    from datawarehouse_backup_system_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens", capacity, n_shards=3)
    rows = sorted(out.collect(), key=lambda r: (r["shard"], r["doc_id"]))
    running: dict[int, int] = {}
    for r in rows:
        pos = running.get(r["shard"], 0)
        assert 0 <= r["offset"] < capacity
        assert r["local_bin"] * capacity + r["offset"] == pos
        running[r["shard"]] = pos + r["n_tokens"]


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=15,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_dedup_groups_matches_union_find(spark, edges):
    """Spark label propagation == a driver-side union-find ground truth."""
    from datawarehouse_backup_system_spark.operators.dedup_approx import (
        dedup_groups,
    )

    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["node"], r["canonical_id"])
           for r in dedup_groups(df, max_iter=30).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expected = {
        (n, min(members)) for members in comp.values() for n in members
    }
    assert got == expected


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text changes nothing (placeholders
    never re-match the PII patterns)."""
    from datawarehouse_backup_system_spark.operators.text import pii_scrub

    rows = [(i, t) for i, t in enumerate([
        "a@b.co and 123456789123",
        "<EMAIL> stays, <NUM> stays",
        "mixed x.y@z.org plus <NUM> plus 999999999",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = pii_scrub(df, "doc_id", "text")
    twice = pii_scrub(
        once.withColumnRenamed("scrubbed_text", "text"), "doc_id", "text"
    )
    a = {r["doc_id"]: r["scrubbed_text"] for r in once.collect()}
    b = {r["doc_id"]: r["scrubbed_text"] for r in twice.collect()}
    assert a == b


def test_stratified_sample_counts_and_determinism(spark, sf_dir):
    from datawarehouse_backup_system_spark.operators.sampling import (
        stratified_sample,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label"
    )
    sizes = {r["label"]: r["n"]
             for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()}
    out = stratified_sample(emb, "vec_id", "label", 5, salt="s")
    counts = {r["label"]: r["n"]
              for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert counts == {lab: min(5, n) for lab, n in sizes.items()}
    again = stratified_sample(emb, "vec_id", "label", 5, salt="s")
    assert ({tuple(r) for r in out.collect()}
            == {tuple(r) for r in again.collect()})


@SETTINGS
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=0, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=0, max_size=25
    ),
    direction=st.sampled_from(["backward", "forward"]),
)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights, direction):
    """pandas merge_asof is an independent reference implementation of
    as-of semantics (inclusive match, per-key isolation) — the Spark
    union-trick operator must agree on arbitrary inputs."""
    import pandas as pd

    from datawarehouse_backup_system_spark.operators.asof import asof_join

    rights = sorted({(k, t) for k, t in rights})
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid long, k long, lts long"
    )
    rdf = spark.createDataFrame(rights, "k long, rts long")
    got = {
        r["lid"]: r["rts_right"]
        for r in asof_join(ldf, rdf, ["k"], "lts", "rts", direction).collect()
    }

    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], columns=["lid", "k", "lts"]
    ).sort_values("lts", kind="stable")
    rp = pd.DataFrame(rights, columns=["k", "rts"]).sort_values("rts", kind="stable")
    if len(lp) == 0 or len(rp) == 0:
        exp = {i: None for i in range(len(lefts))}
    else:
        m = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k", direction=direction
        )
        exp = {
            int(r.lid): (None if pd.isna(r.rts) else int(r.rts))
            for r in m.itertuples()
        }
    assert got == exp


@SETTINGS
@given(
    points=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 400)), min_size=0, max_size=20
    ),
    ivs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 400), st.integers(0, 120)),
        min_size=0, max_size=15,
    ),
    bucket=st.sampled_from([7, 60, 250]),
)
def test_range_join_matches_theta_any_bucket_width(spark, points, ivs, bucket):
    """The bucketing trick must be invisible: for ANY bucket width the
    result equals the naive per-key theta join."""
    from datawarehouse_backup_system_spark.operators.asof import range_join

    pdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(points)], "pid long, k long, t long"
    ).select("pid", "k", F.timestamp_seconds("t").alias("t"))
    idf = spark.createDataFrame(
        [(j, k, s, s + w) for j, (k, s, w) in enumerate(ivs)],
        "iid long, k long, s long, e long",
    ).select("iid", "k",
             F.timestamp_seconds("s").alias("s"),
             F.timestamp_seconds("e").alias("e"))
    got = {(r["pid"], r["iid"]) for r in
           range_join(pdf, idf, ["k"], "t", "s", "e", bucket_seconds=bucket).collect()}
    naive = {(r["pid"], r["iid"]) for r in
             pdf.join(idf, "k")
             .where((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
             .collect()}
    assert got == naive


# --------------------------------------------------------------------------
# chunk_documents: every token covered exactly once ignoring overlap;
# consecutive chunks share exactly `overlap` tokens; ids dense
# --------------------------------------------------------------------------
@SETTINGS
@given(
    n_tokens=st.integers(1, 60),
    chunk=st.integers(2, 20),
    overlap_frac=st.floats(0, 0.9),
)
def test_chunk_documents_coverage_any_params(spark, n_tokens, chunk, overlap_frac):
    from datawarehouse_backup_system_spark.operators.text import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    stride = chunk - overlap
    text = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap
        ).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    rebuilt: list[str] = []
    for r in rows:
        toks = r["chunk_text"].split(" ")
        assert len(toks) <= chunk
        if rebuilt:
            shared = min(overlap, len(rebuilt))
            assert rebuilt[-shared:] == toks[:shared] if shared else True
            rebuilt.extend(toks[shared:])
        else:
            rebuilt = toks
    assert rebuilt == text.split(" ")


# --------------------------------------------------------------------------
# quantize: reconstruction error bounded by half a step for any vector
# --------------------------------------------------------------------------
@SETTINGS
@given(
    vec=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, width=32), min_size=1, max_size=16
    )
)
def test_quantize_roundtrip_error_bounded(spark, vec):
    from datawarehouse_backup_system_spark.operators.quantize import (
        quantize_embeddings,
    )

    df = spark.createDataFrame([(1, [float(x) for x in vec])], ["vec_id", "embedding"])
    r = quantize_embeddings(df, "vec_id", "embedding").collect()[0]
    assert all(0 <= c <= 255 for c in r["q"])
    assert r["max_abs_err"] <= (r["q_scale"] or 0.0) / 2 + 1e-9


# --------------------------------------------------------------------------
# line_dedup: doc set preserved; clean docs contain no boilerplate line;
# idempotent (re-running on cleaned text removes nothing new)
# --------------------------------------------------------------------------
@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ),
    min_df=st.integers(2, 4),
)
def test_line_dedup_invariants(spark, docs, min_df):
    from collections import Counter

    from datawarehouse_backup_system_spark.operators.text import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text", min_df=min_df).collect()}
    assert set(out) == {i for i, _ in rows}
    # independently computed boilerplate set
    freq = Counter()
    for i, lines in enumerate(docs):
        for line in set(lines):
            freq[line] += 1
    boiler = {l for l, c in freq.items() if c >= min_df}
    for i, lines in enumerate(docs):
        expect = [l for l in lines if l not in boiler]
        got = out[i]["clean_text"].split("\n") if out[i]["clean_text"] else []
        assert got == expect
        assert out[i]["n_kept"] == len(expect)
        assert out[i]["n_lines"] == len(lines)


# --------------------------------------------------------------------------
# incremental near-dup == full-corpus near-dup restricted to cross pairs
# (uncapped buckets; signatures are per-doc, so candidate generation over
# the union must agree with the two-sided join)
# --------------------------------------------------------------------------
@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    ),
    split=st.integers(1, 5),
)
def test_incremental_neardup_matches_full_cross_pairs(spark, texts, split):
    from datawarehouse_backup_system_spark.operators.dedup_approx import (
        incremental_neardup_pairs,
        minhash_lsh_dedup,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(texts)]
    new_rows = [r for r in rows if r[0] < split]
    hist_rows = [r for r in rows if r[0] >= split]
    if not new_rows or not hist_rows:
        return
    schema = "doc_id long, text string"
    new = spark.createDataFrame(new_rows, schema)
    hist = spark.createDataFrame(hist_rows, schema)
    inc = {
        (r["id_new"], r["id_hist"], r["n_inter"])
        for r in incremental_neardup_pairs(
            new, hist, "doc_id", "text", threshold=0.3
        ).collect()
    }
    full = minhash_lsh_dedup(
        spark.createDataFrame(rows, schema), "doc_id", "text", threshold=0.3
    ).collect()
    cross = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), r["n_inter"])
        for r in full
        if (r["id_a"] < split) != (r["id_b"] < split)
    }
    assert {(a, b, n) for a, b, n in inc} == {
        (a, b, n) for a, b, n in cross
    }


# --------------------------------------------------------------------------
# prefix-filter set-similarity join: exactness property vs brute force
# --------------------------------------------------------------------------
_pj_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=0, max_size=8,
    ).map(" ".join),
    min_size=2, max_size=10,
)
_pj_threshold = st.sampled_from([(1, 2), (2, 3), (7, 10), (1, 1)])


@given(texts=_pj_docs, t=_pj_threshold)
@SETTINGS
def test_prefix_jaccard_exactness_property(spark, texts, t):
    """For ANY corpus and rational threshold, the prefix-filtered join
    returns EXACTLY the brute-force threshold pairs — the exactness
    theorem as a property, including empty docs, identical sets, and
    all-same-token corpora."""
    import itertools

    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_jaccard_join,
    )

    num, den = t
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.n_inter
        for r in prefix_jaccard_join(df, "doc_id", "text", num, den).collect()
    }
    sets = {i: set(x.split()) for i, x in enumerate(texts) if x.split()}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and den * inter >= num * union:
            want[(a, b)] = inter
    assert got == want


@given(texts=_pj_docs, t=_pj_threshold)
@SETTINGS
def test_prefix_containment_exactness_property(spark, texts, t):
    """For ANY corpus and rational threshold, the containment prefix
    filter returns EXACTLY the brute-force directional pairs — the
    asymmetric-filter theorem as a property (the contained side prunes
    on its rarest tokens; the container side is unrestricted),
    including empty docs, identical sets, and subset chains."""
    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_containment_join,
    )

    num, den = t
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_sub, r.id_super): r.n_inter
        for r in prefix_containment_join(
            df, "doc_id", "text", num, den
        ).collect()
    }
    sets = {i: set(x.split()) for i, x in enumerate(texts) if x.split()}
    want = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if den * inter >= num * len(sets[a]):
                want[(a, b)] = inter
    assert got == want
