"""Tests for the round-4 scale extensions: prefix-filtered exact
set-similarity join, mergeable binned-quantile sketch, and the SCD2
point-in-time lookup (the oracle gate covers the full queries; these
pin the operator semantics on handcrafted edges)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import quantiles as qsk
from datawarehouse_backup_system_spark.operators.setjoin import (
    prefix_jaccard_join,
)


# --------------------------------------------------------------------------
# prefix_jaccard_join
# --------------------------------------------------------------------------
def _brute_pairs(docs: dict[int, str], num: int, den: int):
    """Reference answer: full quadratic exact-Jaccard join."""
    sets = {i: set(t.split()) for i, t in docs.items() if t.split()}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and den * inter >= num * union:
            out.add((a, b))
    return out


DOCS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "quick brown fox jumps over the lazy dog",          # J=8/8 vs 1? sets!
    3: "the quick brown fox leaps over the lazy dog",      # one word swap
    4: "completely different content about spark engines",
    5: "spark engines content about completely different", # same SET as 4
    6: "",                                                  # empty → no tokens
    7: "the",                                               # single token
}


def test_prefix_jaccard_matches_bruteforce(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in DOCS.items()], "doc_id long, text string"
    )
    got = prefix_jaccard_join(df, "doc_id", "text", 7, 10)
    rows = got.collect()
    got_pairs = {(r.id_a, r.id_b) for r in rows}
    assert got_pairs == _brute_pairs(DOCS, 7, 10)
    # identical SETS (4,5) must appear with jaccard == 1.0
    ids = {(r.id_a, r.id_b): r for r in rows}
    assert ids[(4, 5)].jaccard == 1.0
    assert ids[(4, 5)].n_inter == ids[(4, 5)].n_a == ids[(4, 5)].n_b


def test_prefix_jaccard_threshold_boundary(spark):
    # sets of size 4 sharing exactly 3 tokens: J = 3/5 — test >= at the
    # exact rational boundary (must be INCLUDED for 3/5, excluded at 7/10)
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    at = prefix_jaccard_join(df, "doc_id", "text", 3, 5).collect()
    assert [(r.id_a, r.id_b) for r in at] == [(1, 2)]
    above = prefix_jaccard_join(df, "doc_id", "text", 7, 10).collect()
    assert above == []


def test_prefix_jaccard_duplicate_tokens_are_sets(spark):
    # repeated words collapse: "a a a b" is the SET {a, b}
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "b a")], "doc_id long, text string"
    )
    rows = prefix_jaccard_join(df, "doc_id", "text", 1, 1).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_prefix_jaccard_shingles_match_bruteforce(spark):
    def sh(t, n=3):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    docs = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "a quick brown fox jumps over the lazy dog tonight",   # 1-word edit
        3: "the dog lazy the over jumps fox brown quick",          # same WORDS,
        #    different order → same unigram set but ~no shared 3-grams
        4: "short doc",                                            # < n words
    }
    expected = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = sh(docs[a]), sh(docs[b])
        if sa and sb and 2 * len(sa & sb) >= 1 * len(sa | sb):
            expected.add((a, b))
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in prefix_jaccard_join(
            df, "doc_id", "text", 1, 2, shingle_n=3
        ).collect()
    }
    assert got == expected
    assert (1, 2) in got          # shared phrasing survives
    assert (1, 3) not in got      # same vocabulary, different phrasing


def test_prefix_jaccard_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        prefix_jaccard_join(df, "doc_id", "text", 0, 10)
    with pytest.raises(ValueError):
        prefix_jaccard_join(df, "doc_id", "text", 11, 10)


# --------------------------------------------------------------------------
# binned quantile sketch
# --------------------------------------------------------------------------
def test_histogram_merge_equals_direct(spark):
    vals = [(i, (i * 37) % 1000) for i in range(500)]
    df = spark.createDataFrame(vals, "id long, v long")
    direct = qsk.binned_histogram(df, "v", 0, 999, 32)
    shards = [
        qsk.binned_histogram(
            df.where(F.pmod(F.col("id"), F.lit(3)) == s), "v", 0, 999, 32
        )
        for s in range(3)
    ]
    merged = qsk.merge_histograms(shards)
    assert qsk.histograms_equal(merged, direct).collect()[0].equal is True
    # and a deliberately different histogram is NOT equal
    other = qsk.binned_histogram(df.where("v < 500"), "v", 0, 999, 32)
    assert qsk.histograms_equal(other, direct).collect()[0].equal is False


def test_histogram_quantiles_width1_is_exact(spark):
    # width-1 bins: quantile == the exact ceil(q*N)-th order statistic
    data = [(v,) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]]
    df = spark.createDataFrame(data, "v long")
    hist = qsk.binned_histogram(df, "v", 1, 9, 9)
    assert qsk.bin_width(1, 9, 9) == 1
    got = {
        r.q: r.value
        for r in qsk.histogram_quantiles(hist, [0.5, 0.9], 1, 1).collect()
    }
    ordered = sorted(v for (v,) in data)
    assert got[0.5] == ordered[4]   # ceil(0.5*10)=5th -> index 4
    assert got[0.9] == ordered[8]   # ceil(0.9*10)=9th -> index 8


def test_histogram_clamps_out_of_domain(spark):
    df = spark.createDataFrame([(-5,), (0,), (99,), (500,)], "v long")
    hist = qsk.binned_histogram(df, "v", 0, 99, 10).collect()
    by_bin = {r.bin: r.cnt for r in hist}
    assert sum(by_bin.values()) == 4          # nothing dropped
    assert by_bin[0] == 2                      # -5 clamps into bin 0
    assert by_bin[9] == 2                      # 500 clamps into last bin


def test_bin_width_validation():
    assert qsk.bin_width(0, 99, 10) == 10
    assert qsk.bin_width(0, 100, 10) == 11     # ceil
    with pytest.raises(ValueError):
        qsk.bin_width(5, 4, 10)
    with pytest.raises(ValueError):
        qsk.bin_width(0, 9, 0)


def test_grouped_quantiles_width1_is_exact(spark):
    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 9]] + [
        ("b", v) for v in [5, 5, 5]
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    hist = qsk.grouped_binned_histogram(df, ["k"], "v", 1, 9, 9)
    got = {
        (r.k, r.q): (r.value, r.n_total)
        for r in qsk.grouped_histogram_quantiles(
            hist, ["k"], [0.5, 0.9], 1, 1
        ).collect()
    }
    assert got[("a", 0.5)] == (5, 10)   # ceil(0.5*10)=5th of 1..9,9
    assert got[("a", 0.9)] == (9, 10)
    assert got[("b", 0.5)] == (5, 3)
    assert got[("b", 0.9)] == (5, 3)


def test_z02_zorder_skips_rowkey_does_not(spark):
    from datawarehouse_backup_system_spark.queries.scale_ext import (
        z02_skipping_report,
    )

    # sf0.01, not the sf0.001 fixture: the box predicate needs a
    # populated (partkey, suppkey) space — at sf0.001 suppkey spans only
    # ~10 values, every bucket misses the box, and both layouts
    # trivially scan zero buckets.
    rows = {
        r.layout: r
        for r in z02_skipping_report(spark, "/root/testdata/sf0.01").collect()
    }
    z, r = rows["zorder"], rows["rowkey"]
    assert z.rows_matching == r.rows_matching          # same answer set
    assert z.buckets_scanned < r.buckets_scanned      # skipping happened
    assert z.rows_in_scanned < r.rows_in_scanned
    # row-key layout's min/max stats are useless: every bucket spans the
    # box, so it scans everything
    assert r.buckets_scanned == r.n_buckets


# --------------------------------------------------------------------------
# pcm_features: real sample-level WAV decode
# --------------------------------------------------------------------------
def _wav(samples: list[int]) -> bytes:
    import struct as st

    pcm = b"".join(st.pack("<h", v) for v in samples)
    return (
        b"RIFF" + st.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + st.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + st.pack("<I", len(pcm)) + pcm
    )


def test_pcm_features_decodes_real_samples(spark):
    from datawarehouse_backup_system_spark.operators.multimodal import (
        pcm_features,
    )

    samples = [100, -200, 300, -32768, 0, 7]
    df = spark.createDataFrame(
        [(1, bytearray(_wav(samples))), (2, bytearray(_wav([])))],
        "asset_id long, data binary",
    )
    got = {r.asset_id: r for r in pcm_features(df, window=2).collect()}
    assert got[1].n_samples == 6
    assert got[1].sum_sq == sum(v * v for v in samples)
    assert got[1].peak == 32768
    assert got[1].max_window_sumsq == 300**2 + 32768**2
    assert got[2].n_samples == 0 and got[2].sum_sq == 0 and got[2].peak == 0
    assert got[2].max_window_sumsq == 0


def test_pcm_features_rejects_non_wav(spark):
    from datawarehouse_backup_system_spark.operators.multimodal import (
        pcm_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav at all"))], "asset_id long, data binary"
    )
    with pytest.raises(Exception, match="data"):
        pcm_features(df).collect()


# --------------------------------------------------------------------------
# SCD2 point-in-time lookup (query-level semantics on a handcrafted feed)
# --------------------------------------------------------------------------
def test_u03_pointintime_assignment(spark, tmp_path):
    import pandas as pd

    from datawarehouse_backup_system_spark.queries.scale_ext import (
        u03_scd2_pointintime,
    )

    ts = pd.Timestamp
    rows = [
        # user 1: view before any purchase -> version 1 (seed, NULL spend)
        (1, ts("2024-01-01 09:00"), 1, "view", 0.0, "{}"),
        (2, ts("2024-01-01 10:00"), 1, "purchase", 5.0, "{}"),
        # view at exactly the purchase ts -> the NEW version (v2)
        (3, ts("2024-01-01 10:00"), 1, "view", 0.0, "{}"),
        (4, ts("2024-01-01 11:00"), 1, "purchase", 7.5, "{}"),
        (5, ts("2024-01-01 12:00"), 1, "view", 0.0, "{}"),   # -> v3, 750c
        # user 2: never purchases -> always seed version
        (6, ts("2024-01-02 00:00"), 2, "view", 0.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    got = {
        r.event_id: (r.version, r.spend_cents)
        for r in u03_scd2_pointintime(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (1, None),
        3: (2, 500),
        5: (3, 750),
        6: (1, None),
    }


# --------------------------------------------------------------------------
# file-stats manifest pruning (plans/table_format.py)
# --------------------------------------------------------------------------
def test_manifest_pruned_read_skips_files_and_matches_full_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.plans.table_format import (
        pruned_files,
        read_pruned,
        write_stats_manifest,
    )

    table = tmp_path / "t"
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    # range layout -> files with near-disjoint id ranges (the clustered
    # write a warehouse produces); 8 files
    df.repartitionByRange(8, "id").write.parquet(str(table))
    n_files = write_stats_manifest(spark, table, ["id", "v"])
    assert n_files == 8

    kept = pruned_files(spark, table, "id", 100, 200)
    assert 0 < len(kept) < 8                      # pruning actually pruned
    got = read_pruned(spark, table, "id", 100, 200).orderBy("id").collect()
    want = (
        spark.read.parquet(str(table))
        .where(F.col("id").between(100, 200))
        .orderBy("id")
        .collect()
    )
    assert got == want                            # equality vs full scan
    # manifest lives under _stats and is invisible to plain readers
    assert (table / "_stats").exists()
    assert spark.read.parquet(str(table)).count() == 10_000


def test_manifest_keeps_all_null_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.plans.table_format import (
        pruned_files,
        write_stats_manifest,
    )

    table = tmp_path / "t2"
    a = spark.range(0, 10).withColumn("k", F.col("id").cast("long"))
    b = spark.range(0, 5).withColumn("k", F.lit(None).cast("long"))
    a.coalesce(1).write.parquet(str(table))
    b.coalesce(1).write.mode("append").parquet(str(table))
    write_stats_manifest(spark, table, ["k"])
    kept = pruned_files(spark, table, "k", 100, 200)  # misses every real k
    # stats can't prove the all-null file misses -> it must be kept
    assert len(kept) >= 1


def test_e06_gram_matches_numpy(spark):
    import numpy as np

    from datawarehouse_backup_system_spark.queries.scale_ext import (
        _E06_DIMS,
        _E06_Q,
        e06_gram_matrix,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    X = np.array(
        [
            np.floor(np.array(r.embedding[:_E06_DIMS], dtype=np.float64)
                     * _E06_Q + 0.5)
            for r in rows
        ],
        dtype=np.int64,
    )
    want = X.T @ X                        # exact integer Gram
    got = {(r.i, r.j): r.sum_xy for r in e06_gram_matrix(spark, sf).collect()}
    for i in range(_E06_DIMS):
        for j in range(i, _E06_DIMS):
            assert got[(i, j)] == want[i, j], (i, j)
    # the statistic SUFFICES for PCA: eigh on the d x d matrix is a
    # driver-side numpy step, no further data pass
    evals = np.linalg.eigvalsh(want.astype(np.float64))
    assert (evals >= -1e-6 * abs(evals).max()).all()  # PSD as a Gram must be


# --------------------------------------------------------------------------
# isotonic calibration (PAVA via applyInPandas)
# --------------------------------------------------------------------------
def test_pava_equals_minimax_bruteforce(spark):
    from fractions import Fraction

    from datawarehouse_backup_system_spark.operators.calibration import (
        isotonic_calibrate,
    )

    # deterministic pseudo-random groups (no RNG: fixed arithmetic seq)
    rows = []
    for g in range(3):
        for b in range(8):
            n = 1 + (g * 31 + b * 17) % 5
            s = (g * 13 + b * 7) % (n + 1)
            rows.append((g, b, s, n))
    df = spark.createDataFrame(
        rows, "g int, bucket int, y_sum long, n long"
    )
    got = {
        (r.g, r.bucket): r.rate_micro
        for r in isotonic_calibrate(df, ["g"]).collect()
    }

    by_g: dict[int, list[tuple[int, int, int]]] = {}
    for g, b, s, n in rows:
        by_g.setdefault(g, []).append((b, s, n))
    for g, pts in by_g.items():
        pts.sort()
        for i in range(len(pts)):
            # minimax: max over a<=i of min over b>=i of window mean
            best = None
            for a in range(i + 1):
                worst = None
                for b2 in range(i, len(pts)):
                    S = sum(p[1] for p in pts[a : b2 + 1])
                    C = sum(p[2] for p in pts[a : b2 + 1])
                    r = Fraction(S, C)
                    worst = r if worst is None else min(worst, r)
                best = worst if best is None else max(best, worst)
            want = (1_000_000 * best.numerator) // best.denominator
            assert got[(g, pts[i][0])] == want, (g, i)
        # and the output is non-decreasing within the group
        fitted = [got[(g, p[0])] for p in pts]
        assert fitted == sorted(fitted)


def test_pava_pools_violators_exactly(spark):
    from datawarehouse_backup_system_spark.operators.calibration import (
        isotonic_calibrate,
    )

    # rates 0.8, 0.2 violate; pooled to (4+1)/(5+5) = 0.5 for both
    df = spark.createDataFrame(
        [(0, 0, 4, 5), (0, 1, 1, 5), (0, 2, 9, 10)],
        "g int, bucket int, y_sum long, n long",
    )
    got = {r.bucket: r.rate_micro
           for r in isotonic_calibrate(df, ["g"]).collect()}
    assert got == {0: 500000, 1: 500000, 2: 900000}


def test_pruned_read_survives_stale_manifest_entries(spark, tmp_path):
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.plans.table_format import (
        read_pruned,
        write_stats_manifest,
    )

    table = tmp_path / "t4"
    spark.range(0, 1000).withColumn("v", F.col("id")) \
        .repartitionByRange(4, "id").write.parquet(str(table))
    write_stats_manifest(spark, table, ["id"])
    # simulate a restore/vacuum/retention delete WITHOUT a manifest
    # rewrite: remove one data file the manifest still lists
    victim = sorted(f for f in table.glob("*.parquet"))[0]
    victim.unlink()
    got = read_pruned(spark, table, "id", 0, 999).count()
    want = spark.read.parquet(str(table)).count()
    assert got == want  # stale entry skipped, no read failure


def test_prefix_jaccard_staged_parity(spark, tmp_path):
    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_jaccard_join,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in DOCS.items()], "doc_id long, text string"
    )
    mem = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in prefix_jaccard_join(df, "doc_id", "text", 7, 10).collect()
    }
    staged = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in prefix_jaccard_join(
            df, "doc_id", "text", 7, 10, stage_path=str(tmp_path / "pd")
        ).collect()
    }
    assert mem == staged


def test_bloom_manifest_point_lookup(spark, tmp_path):
    """Per-file bloom index: candidate set always contains the files
    that actually hold the probe key (no false negatives), and a point
    read through the candidates equals the full-scan filter."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.plans.table_format import (
        bloom_candidate_files,
        write_bloom_manifest,
    )

    table = tmp_path / "t"
    # 8 files, l_partkey-style probe column uncorrelated with file split
    spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.xxhash64("id") % 977).alias("probe"),
    ).repartition(8).write.parquet(str(table))
    n = write_bloom_manifest(spark, table, "probe")
    assert n == 8

    full = spark.read.parquet(str(table))
    for val in [5, -100, 976, 123456]:  # present and absent probes
        actual_files = {
            r["f"]
            for r in full.withColumn("f", F.input_file_name())
            .where(F.col("probe") == val)
            .select("f").distinct().collect()
        }
        cands = bloom_candidate_files(spark, table, "probe", val)
        from urllib.parse import unquote, urlparse

        cand_set = {unquote(urlparse(u).path) if "://" in u else u
                    for u in cands}
        actual_set = {unquote(urlparse(u).path) for u in actual_files}
        assert actual_set <= cand_set  # never a false negative
        # the pruned point read equals the full-scan filter
        if cands:
            got = (
                spark.read.parquet(*cands)
                .where(F.col("probe") == val).count()
            )
        else:
            got = 0
        assert got == full.where(F.col("probe") == val).count()


def test_bloom_manifest_empty_committed(spark, tmp_path):
    """Zero-committed write-id table: empty manifest, zero candidates,
    no crash (same contract as the empty stats manifest)."""
    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        bloom_candidate_files,
        write_bloom_manifest,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    table.mkdir(parents=True)
    assert write_bloom_manifest(
        spark, table, "probe", fmt=fmt, table_name="t"
    ) == 0
    assert bloom_candidate_files(spark, table, "probe", 7) == []


def test_u05_scratch_sweep_age_gated(tmp_path, monkeypatch):
    """VERDICT r6: a SIGKILLed u05 run must not strand scratch space —
    the startup sweep removes old own-prefix dirs and leaves fresh ones
    (possibly a live concurrent run) alone."""
    import os
    import tempfile

    from datawarehouse_backup_system_spark.queries.scale_ext import (
        _sweep_stale_scratch,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    old = tmp_path / "dwbss-u05-stale"
    old.mkdir()
    (old / "junk").write_text("x")
    past = os.stat(old).st_mtime - 7200
    os.utime(old, (past, past))
    fresh = tmp_path / "dwbss-u05-live"
    fresh.mkdir()
    other = tmp_path / "unrelated-dir"
    other.mkdir()
    os.utime(other, (past, past))

    # pid-format roots: dead owner swept regardless of age, live owner
    # (this process) kept regardless of age
    dead = tmp_path / "dwbss-u05-p999999999-x"
    dead.mkdir()
    mine = tmp_path / f"dwbss-u05-p{os.getpid()}-y"
    mine.mkdir()
    os.utime(mine, (past, past))

    # r8: bench staging roots share the sweep (r7 stranded one on a
    # killed bench run)
    bench_dead = tmp_path / "dwbss-bench-stage-p999999999-z"
    bench_dead.mkdir()
    bench_mine = tmp_path / f"dwbss-bench-stage-p{os.getpid()}-w"
    bench_mine.mkdir()
    os.utime(bench_mine, (past, past))

    assert _sweep_stale_scratch(max_age_s=3600) == 3
    assert not old.exists() and not dead.exists()
    assert not bench_dead.exists()
    assert fresh.exists()          # legacy format, young: may be live
    assert mine.exists()           # owner (this pid) alive: never touched
    assert bench_mine.exists()     # live bench owner: never touched
    assert other.exists()          # never touches foreign prefixes


# --------------------------------------------------------------------------
# prefix_containment_join (r9)
# --------------------------------------------------------------------------
def _brute_containment(docs: dict[int, str], num: int, den: int):
    """Reference answer: full quadratic DIRECTIONAL containment join."""
    sets = {i: set(t.split()) for i, t in docs.items() if t.split()}
    out = set()
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if den * inter >= num * len(sets[a]):
                out.add((a, b))
    return out


def test_prefix_containment_matches_bruteforce(spark):
    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_containment_join,
    )

    docs = dict(DOCS)
    docs[8] = DOCS[1] + " plus a large boilerplate wrapper section here"
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    for num, den in ((8, 10), (1, 2), (1, 1)):
        rows = prefix_containment_join(df, "doc_id", "text", num, den).collect()
        got = {(r.id_sub, r.id_super) for r in rows}
        assert got == _brute_containment(docs, num, den), (num, den)
    # the wrapped twin: doc 1 fully contained in doc 8, not vice versa
    rows = prefix_containment_join(df, "doc_id", "text", 1, 1).collect()
    by_pair = {(r.id_sub, r.id_super): r for r in rows}
    assert by_pair[(1, 8)].containment == 1.0
    assert (8, 1) not in by_pair
    # directionality: mutual containment (identical sets 4/5) = two rows
    assert (4, 5) in by_pair and (5, 4) in by_pair


def test_prefix_containment_threshold_boundary(spark):
    # |A|=4 sharing exactly 3 with B: containment(A→B) = 3/4 — included
    # at 3/4, excluded at 8/10; the reverse direction has |B|=5 → 3/5
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e f")], "doc_id long, text string"
    )
    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_containment_join,
    )

    at = prefix_containment_join(df, "doc_id", "text", 3, 4).collect()
    assert {(r.id_sub, r.id_super) for r in at} == {(1, 2)}
    above = prefix_containment_join(df, "doc_id", "text", 8, 10).collect()
    assert above == []
