"""Large-star/small-star connected components (operators/graph.py).

The two step functions carry the algorithm's correctness proof
obligations (Kiveris et al.): each step PRESERVES the component
partition, and the alternation's fixpoint is a star forest whose
centers are the component minima. These tests machine-check those
invariants directly, then the end-to-end operator against a
union-find reference on random graphs; g03's DuckDB oracle re-checks
the full pipeline against window sessionization per driver round.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.graph import (
    _canon,
    _large_star,
    _small_star,
    connected_components,
)


def _uf(edge_list, universe):
    """Union-find reference: {node: min id of its component}."""
    parent = {v: v for v in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for v in universe:
        comps.setdefault(find(v), []).append(v)
    return {v: min(vs) for vs in comps.values() for v in vs}


def _partition(edge_list, universe):
    """Frozen component partition (set of frozensets) for comparison."""
    lab = _uf(edge_list, universe)
    groups: dict = {}
    for v, c in lab.items():
        groups.setdefault(c, set()).add(v)
    return {frozenset(g) for g in groups.values()}


def _edges_of(df):
    return [(r["lo"], r["hi"]) for r in df.collect()]


def test_star_steps_preserve_components(spark):
    """THE invariant both steps must satisfy: the component partition
    over the touched nodes is identical before and after each step
    (edges move, connectivity never does)."""
    rng = random.Random(3)
    n = 50
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    e = _canon(
        spark.createDataFrame(raw, "u bigint, v bigint")
    )
    before = _edges_of(e)
    universe = {x for p in before for x in p}

    ls = _edges_of(_large_star(e))
    assert _partition(ls, universe) == _partition(before, universe)

    ss = _edges_of(_small_star(_large_star(e)))
    assert _partition(ss, universe) == _partition(before, universe)


def test_fixpoint_is_star_forest_with_min_centers(spark):
    """At convergence every edge is (component_min, member): centers
    are exactly the component minima and no member is itself a
    center — the property the label read-off step relies on."""
    rng = random.Random(9)
    n = 40
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(35)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    labels = {
        r["node"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    universe = {x for p in raw for x in p if True}
    canon_pairs = [(min(a, b), max(a, b)) for a, b in raw if a != b]
    exp = _uf(canon_pairs, {x for p in canon_pairs for x in p})
    assert labels == exp
    # star-forest read-off: centers label themselves, members label
    # their center, and centers are minima of their own groups
    for v, c in labels.items():
        assert labels[c] == c
        assert c <= v


def test_connected_components_matches_union_find(spark):
    """End-to-end equality with a union-find reference on random
    graphs of varying density, isolated nodes included via nodes=."""
    rng = random.Random(17)
    for trial in range(3):
        n = 70
        raw = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(25 + 20 * trial)
        ]
        df = spark.createDataFrame(raw, "src bigint, dst bigint")
        nodes = spark.range(n).select(F.col("id").alias("node"))
        got = {
            r["node"]: r["component_id"]
            for r in connected_components(df, nodes=nodes).collect()
        }
        assert got == _uf(raw, set(range(n)))


def test_long_chain_converges_in_log_rounds(spark):
    """The reason this operator exists: a 300-node path (diameter 300,
    where label propagation needs 300 rounds) must collapse to ONE
    component within the operator's max_iter=50 — the O(log n) bound
    means ~12 alternations, so hitting 50 would fail loudly."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src bigint, dst bigint"
    )
    lab = connected_components(chain).collect()
    assert len(lab) == 301
    assert {r["component_id"] for r in lab} == {0}


def test_self_loops_duplicates_and_singletons(spark):
    """Self-loops are dropped, duplicate/reversed edges collapse, and
    isolated nodes come back as their own singleton components."""
    raw = [(5, 5), (1, 2), (2, 1), (1, 2), (8, 9)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 8, 9)], "node bigint"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(df, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 5: 5, 8: 8, 9: 8}


def test_nonconvergence_raises(spark):
    """max_iter exhaustion is loud, never a partial labeling."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_triangle_counts_matches_brute_force(spark):
    """Per-node triangle counts equal the C(n,3) brute-force census on
    random graphs — self-loops and duplicate/reversed edges included
    in the input to prove the canonicalization."""
    import itertools

    from datawarehouse_backup_system_spark.operators.graph import (
        triangle_counts,
    )

    rng = random.Random(5)
    for trial in range(2):
        n = 30
        raw = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(60 + 25 * trial)
        ]
        edge_set = {(min(a, b), max(a, b)) for a, b in raw if a != b}
        adj: dict = {}
        for a, b in edge_set:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        exp: dict = {}
        for a, b, c in itertools.combinations(sorted(adj), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for v in (a, b, c):
                    exp[v] = exp.get(v, 0) + 1
        df = spark.createDataFrame(raw, "src bigint, dst bigint")
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }
        assert got == exp


def test_triangle_counts_hub_star_is_triangle_free(spark):
    """The orientation's reason to exist: a hub star (one node joined
    to every other) has ZERO triangles and must produce zero wedge
    survivors — and adding one rim edge creates exactly one triangle
    crediting hub + both rim nodes."""
    from datawarehouse_backup_system_spark.operators.graph import (
        triangle_counts,
    )

    star = [(0, i) for i in range(1, 40)]
    df = spark.createDataFrame(star, "src bigint, dst bigint")
    assert triangle_counts(df).count() == 0

    df2 = spark.createDataFrame(
        star + [(1, 2)], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df2).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_wcc_loop_scratch_is_bounded(spark, tmp_path):
    """Review r9 (VERDICT r8 #2): N sequential connected_components
    calls must hold O(1) round files — the default root is keyed per
    call site and cleared on re-entry, and an explicit stage_path is
    cleared of prior r<N> dirs — not one stranded final round per call
    for the life of the process."""
    from datawarehouse_backup_system_spark.operators import graph as g

    # explicit stage_path, reused across calls (the incremental-driver
    # loop shape): after each call only that run's FINAL round remains
    sp = str(tmp_path / "wcc_stage")
    for trial in range(3):
        e = spark.createDataFrame(
            [(i + trial, i + trial + 1) for i in range(8)],
            "src bigint, dst bigint",
        )
        labels = connected_components(e, stage_path=sp)
        assert labels.count() == 9
        rounds = [d for d in (tmp_path / "wcc_stage").glob("r[0-9]*")]
        assert len(rounds) == 1, rounds

    # default root: same call site -> ONE reused root, cleared per call
    before = dict(g._SITE_ROOTS)
    results = []
    for trial in range(3):
        e = spark.createDataFrame(
            [(10 * trial, 10 * trial + 1)], "src bigint, dst bigint"
        )
        results.append(connected_components(e).count())
    assert results == [2, 2, 2]
    new_roots = set(g._SITE_ROOTS.values()) - set(before.values())
    assert len(new_roots) == 1  # one root for the loop's call site
    from pathlib import Path

    root = Path(new_roots.pop())
    assert len(list(root.glob("r[0-9]*"))) == 1


def _peel_coreness(edge_list):
    """Pure-Python reference: exact coreness via min-degree peel."""
    import heapq

    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    seen: set = set()
    core: dict = {}
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in seen or d != deg[v]:
            continue
        seen.add(v)
        k = max(k, d)
        core[v] = k
        for u in adj[v]:
            if u not in seen:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))
    return core


def test_core_numbers_matches_peel_on_random_graphs(spark):
    """The H-index iteration's fixpoint is exactly the coreness (Lü et
    al.); checked against a pure-Python min-degree peel on random
    graphs with self-loops and duplicate edges in the input."""
    from datawarehouse_backup_system_spark.operators.graph import (
        core_numbers,
    )

    rng = random.Random(17)
    for trial in range(2):
        n = 40
        raw = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(120 + 60 * trial)
        ]
        exp = _peel_coreness(raw)
        df = spark.createDataFrame(raw, "src bigint, dst bigint")
        got = {
            r["node"]: r["core"] for r in core_numbers(df).collect()
        }
        assert got == exp


def test_core_numbers_budget_is_monotone_upper_bound(spark):
    """On the worst-case topology (a bare path: the correction front
    walks inward one node per round) an exhausted budget returns the
    deterministic round-R refinement — a pointwise UPPER bound on the
    true coreness, never an under-estimate, and monotone in R."""
    from datawarehouse_backup_system_spark.operators.graph import (
        core_numbers,
    )

    path = [(i, i + 1) for i in range(12)]
    true = _peel_coreness(path)  # all 1
    df = spark.createDataFrame(path, "src bigint, dst bigint")
    r2 = {r["node"]: r["core"] for r in core_numbers(df, iterations=2).collect()}
    r4 = {r["node"]: r["core"] for r in core_numbers(df, iterations=4).collect()}
    full = {r["node"]: r["core"] for r in core_numbers(df, iterations=32).collect()}
    assert full == true
    for v in true:
        assert r2[v] >= r4[v] >= full[v] == 1
    # the budgeted run really is unconverged on this topology
    assert any(r2[v] > 1 for v in true)


def test_core_numbers_hub_star(spark):
    """A star is 1-degenerate: every node (hub included, despite its
    huge degree) has core 1 — the H-index collapses the hub in one
    round, no hub blowup (window top-h, not collect_list)."""
    from datawarehouse_backup_system_spark.operators.graph import (
        core_numbers,
    )

    star = [(0, i) for i in range(1, 200)]
    df = spark.createDataFrame(star, "src bigint, dst bigint")
    got = {r["node"]: r["core"] for r in core_numbers(df).collect()}
    assert got == {v: 1 for v in range(200)}


def test_already_converged_star_forest_minimal_budget(spark):
    """Review r9: a graph already at fixpoint (a star forest) must
    converge within max_iter=2 — the signature repeat is accepted on
    its first occurrence (the collision defense is the 128-bit double
    hash, not a round-count guard that would spuriously raise here)."""
    forest = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11)], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(forest, max_iter=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _bfs_neighborhood(edge_list, max_radius):
    """Exact neighborhood function: {(node, radius): n_reachable}."""
    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for v in adj:
        seen = {v}
        frontier = {v}
        out[(v, 0)] = 1
        for r in range(1, max_radius + 1):
            frontier = {
                u for f in frontier for u in adj[f] if u not in seen
            }
            seen |= frontier
            out[(v, r)] = len(seen)
    return out


def test_neighborhood_function_matches_bfs(spark):
    """HyperBall ball sizes vs exact BFS on a random graph: at these
    cardinalities the DataSketches HLL runs in exact (sparse) mode, so
    the estimates should round-trip the true counts (allow ±2% for
    the estimator's documented small-range bias)."""
    from datawarehouse_backup_system_spark.operators.graph import (
        neighborhood_function,
    )

    rng = random.Random(23)
    n = 40
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
    exp = _bfs_neighborhood(raw, 4)
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    got = {
        (r["node"], r["radius"]): r["n_reachable_est"]
        for r in neighborhood_function(df, max_radius=4).collect()
    }
    assert set(got) == set(exp)
    for key, true in exp.items():
        assert abs(got[key] - true) <= max(1, 0.02 * true), (key, true, got[key])


def test_neighborhood_function_early_stop_and_harmonic(spark):
    """A diameter-2 star saturates every ball by radius 2: the staged
    loop must stop well before max_radius (output's max radius small),
    and the harmonic estimator must reproduce the closed form —
    center H = n−1 (all at distance 1), leaf H = 1 + (n−2)/2."""
    from datawarehouse_backup_system_spark.operators.graph import (
        harmonic_centrality_approx,
        neighborhood_function,
    )

    n = 12
    star = [(0, i) for i in range(1, n)]
    df = spark.createDataFrame(star, "src bigint, dst bigint")
    nf = neighborhood_function(df, max_radius=10)
    radii = [r["radius"] for r in nf.select("radius").distinct().collect()]
    assert max(radii) <= 4  # saturated at 2 + one confirming round
    h = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality_approx(nf).collect()
    }
    assert h[0] == pytest.approx(n - 1, rel=0.02)
    for v in range(1, n):
        assert h[v] == pytest.approx(1 + (n - 2) / 2, rel=0.02)
