"""Link-analysis over edge lists: fixed-iteration weighted PageRank.

Why in a corpus engine: link-graph centrality is a standard web-corpus
quality prior (Common-Crawl-derived pipelines rank hosts by harmonic /
PageRank centrality to pick crawl frontiers and filter link farms).
The same primitive ranks any transition graph — e.g. event-type flow
graphs from product analytics.

Scale shape: each iteration is ONE equi-join of the current rank vector
against the (src-partitioned) edge list plus a groupBy(dst) sum — the
alternating join/agg shape GraphX's Pregel uses. The rank vector is
persisted per round and the previous round unpersisted, so lineage stays
shallow; the edge list is the big side and is never re-shuffled when
pre-partitioned by src (one-time repartition, reused every round).
A FIXED iteration count keeps the result deterministic and
oracle-replayable (unrolled SQL); convergence-based stopping would need
a driver-side residual check per round (same shape as
dedup_approx.dedup_groups) and is intentionally not the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pagerank_round(
    norm_e: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    base_col,
    damping: float,
) -> DataFrame:
    """One PageRank round: contribution join on _src, map-side-combined
    groupBy(_dst) message sum, teleport re-base."""
    contrib = (
        norm_e.join(
            ranks.select(F.col("node").alias("_src"), "rank"), "_src"
        )
        .groupBy(F.col("_dst").alias("node"))
        .agg(F.sum(F.col("rank") * F.col("_p")).alias("_in"))
    )
    return nodes.join(contrib, "node", "left").select(
        "node",
        (
            base_col
            + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
        ).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    round_digits: int = 6,
    stage_rounds_above: int = 8,
    stage_path: str | None = None,
    tol_digits: int | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count.

    rank₀(v) = 1/N;
    rankₜ₊₁(v) = (1−d)/N + d·Σ_{(u,v)∈E} rankₜ(u)·w(u,v)/W(u)

    ``seeds`` (optional, one-column frame of node ids) switches to
    PERSONALIZED PageRank: the teleport mass lands uniformly on the
    seed set instead of all nodes — rank₀(v) = 1_S(v)/|S|,
    rankₜ₊₁(v) = (1−d)·1_S(v)/|S| + d·Σ … — the standard seeded
    relevance propagation used in corpus curation to score pages by
    proximity to a trusted set (and in product analytics to rank
    states reachable from a chosen entry point). Seeds not present in
    the graph are ignored; an empty intersection raises ValueError.
    The seed set is assumed BROADCAST-SIZED (a trusted whitelist, not
    a data-sized frame) — it joins the node vector once.

    where W(u) is u's total out-weight. Dangling mass (nodes with no
    out-edges) is dropped, the common simplification — documented, and
    irrelevant for transition graphs where every observed state has an
    outgoing edge. Nodes = src ∪ dst. Output: (node, rank) with rank
    rounded to ``round_digits`` at the END only (intermediate ranks stay
    full-precision; per-node sums are small, so cross-engine FP drift is
    far below the rounding grain).

    TWO EXECUTION TIERS (review r9 / VERDICT r8 item 5):

    - ``iterations ≤ stage_rounds_above`` and no ``stage_path``: one
      fully-lazy unrolled lineage — deterministic, oracle-replayable
      (the p01 spec's 3-iteration path, unchanged). ``norm_e`` is
      recomputed per round by design: the plan must not leak pinned
      executor memory to callers who never get an unpersist handle,
      and at a bounded unroll depth the recompute is cheap.
    - above the threshold (or with an explicit ``stage_path``): the
      g03 parquet-staged round pattern — ``norm_e``/``nodes`` written
      once, each round's rank vector staged and the previous round
      deleted, so plan size is CONSTANT in ``iterations`` (the
      unrolled lineage grows linearly and Catalyst re-optimizes the
      whole history every round; measured in SCALE.md r9). Scratch
      lifecycle = `_staged_round_root` (per-call-site root, cleared
      on re-entry; a new call invalidates the previous call's lazy
      result). ``norm_e`` is round-invariant and staged once as plain
      parquet. While the rank vector is broadcast-sized, no round
      shuffles the edge side; past that, each round's join shuffles
      both sides. The groupBy(_dst) message shuffle is map-side
      combined down to ~node-sized.

    ``tol_digits`` (forces the staged tier, even below the unroll
    threshold — the stop only exists there): stop early when the
    (count, bit_xor(xxhash64(node, round(rank, tol_digits))))
    signature repeats between consecutive rounds — the g03
    Observation trick, riding the stage write job, no read-back pass.
    None (default) always runs exactly ``iterations`` rounds, keeping
    the result oracle-replayable.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    )
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_out_w"))
    # normalized edge transition probabilities, computed once and
    # reused every iteration (staged tier: written to parquet once)
    norm_e = e.join(out_w, "_src").select(
        "_src", "_dst", (F.col("_w") / F.col("_out_w")).alias("_p")
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        sd = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .withColumn("_seed", F.lit(True))
        )
        nodes = nodes.join(F.broadcast(sd), "node", "left").select(
            "node", F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed")
        )
    # tol_digits forces the staged tier (ADVICE r9): the convergence
    # stop only exists there, and silently running a fixed-round unroll
    # while the caller asked for a tolerance stop is a quiet wrong-tier
    # trap. A tol_digits call below the unroll threshold therefore
    # stages too — the caller asked for early-stopping semantics.
    staged = (
        stage_path is not None
        or iterations > stage_rounds_above
        or tol_digits is not None
    )
    if staged:
        from pyspark.sql import Observation

        spark = edges.sparkSession
        root = _staged_round_root(stage_path, "dwbss-pr-", spark)
        # cheap side first: the node frame stages before the expensive
        # norm_e, so the validations below fail BEFORE the edge-list
        # stage spends its write (review r10)
        nodes = _stage(nodes, f"{root}/nodes")
    # validate + count BEFORE staging the edge list (review r10: a
    # seed-set ValueError after the edge-list stage wasted its write)
    if seeds is not None:
        n = nodes.where(F.col("_seed")).count()
        if n == 0:
            raise ValueError(
                "personalized pagerank: no seed id occurs in the graph"
            )
        # teleport/init mass only on seeds (exact 0.0 elsewhere)
        base_col = F.when(
            F.col("_seed"), F.lit((1.0 - damping) / n)
        ).otherwise(F.lit(0.0))
        init_col = F.when(F.col("_seed"), F.lit(1.0 / n)).otherwise(
            F.lit(0.0)
        )
    else:
        n = nodes.count()
        if n == 0:
            # empty graph → empty (node, rank) frame, not a
            # ZeroDivisionError at the driver (review r10)
            return nodes.select("node", F.lit(0.0).alias("rank"))
        base_col = F.lit((1.0 - damping) / n)
        init_col = F.lit(1.0 / n)
    ranks = nodes.select("node", init_col.alias("rank"))
    if staged:
        # norm_e is round-invariant: staged once, read by every round
        norm_e = _stage(norm_e, f"{root}/norm_e")
    cur = None
    prev_sig = None
    for i in range(iterations):
        ranks = _pagerank_round(norm_e, nodes, ranks, base_col, damping)
        if staged:
            nxt = f"{root}/r{i + 1}"
            if tol_digits is None:
                # no convergence stop requested: plain stage write,
                # no per-row signature hashing (review r9 — the hash
                # was computed every round and never consulted)
                ranks = _stage(ranks, nxt)
            else:
                # double xor-hash signature — see connected_components
                obs = Observation()
                ranks = _stage(ranks.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.expr(
                            "bit_xor(xxhash64(node, "
                            f"round(rank, {int(tol_digits)})))"
                        ),
                        F.lit(0),
                    ).alias("h1"),
                    F.coalesce(
                        F.expr(
                            f"bit_xor(xxhash64(round(rank, "
                            f"{int(tol_digits)}), node))"
                        ),
                        F.lit(0),
                    ).alias("h2"),
                ), nxt)
                sig = (obs.get["n"], obs.get["h1"], obs.get["h2"])
            if cur is not None:
                _stage_rm(cur, spark)  # superseded round
            cur = nxt
            if tol_digits is not None:
                if sig == prev_sig:
                    break
                prev_sig = sig
    return ranks.select(
        "node", F.round(F.col("rank"), round_digits).alias("rank")
    )


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (lo, hi), lo < hi, distinct."""
    return (
        e.select(
            F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _directed(e: DataFrame) -> DataFrame:
    """Both orientations (a, b) of a canonical edge set from ONE
    explode over one scan (a two-branch self-union evaluates the
    upstream twice — SCALE.md measured lesson)."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("a"), F.col("hi").alias("b")),
                F.struct(F.col("hi").alias("a"), F.col("lo").alias("b")),
            )
        ).alias("x")
    ).select("x.a", "x.b")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond", public literature): every node connects its
    strictly-LARGER neighbors to the minimum of its closed
    neighborhood. Preserves components; shrinks tall chains toward
    local minima in parallel.

    m(a) = least(a, min(b)) is computed AFTER the agg (F.first is
    nondeterministic to Catalyst and poisons plan reuse). The join
    branch reads ``e`` DIRECTLY: on a canonical input the b>a
    orientation of the directed view IS the (lo, hi) row set, so the
    old ``_directed(e).where(b > a)`` explode+filter re-derived the
    input it already had (r12 measured on g03 — one less pass over the
    doubled row set per round). Output rows are already canonical
    (m ≤ a < b ⟹ lo < hi strictly) but may carry DUPLICATES — two
    edges (a1, b), (a2, b) with m(a1) = m(a2) collapse — so consumers
    needing a set must distinct; the round composition defers that to
    the round-final _canon (one exchange per round instead of two;
    duplicate volume is bounded by |e| since each input edge emits
    exactly one row, and _small_star's min-aggregates are
    duplicate-insensitive)."""
    d = _directed(e)
    m = d.groupBy("a").agg(F.min("b").alias("_mn")).select(
        "a", F.least(F.col("a"), F.col("_mn")).alias("m")
    )
    return (
        e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .join(m, "a")
        .select(F.col("m").alias("lo"), F.col("b").alias("hi"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: every node connects its smaller-or-equal
    neighborhood (plus itself) to that neighborhood's minimum."""
    # orient each edge toward its larger endpoint: group key h > l.
    # Member edges (m, l) via the join; the center edge (m, h) via the
    # ONE-ROW-PER-GROUP m frame — NOT exploded per member (review r10:
    # explode(array(l, h)) emitted the center edge deg(h) times, so a
    # 10⁶-degree hub pushed 10⁶ identical rows into _canon's distinct
    # exchange per round). The m subtree appears in both branches, but
    # its aggregate exchange is identical and Spark reuses it
    # (ReusedExchange) — the join-side scan is the only real second
    # read, against halving the distinct's input volume on hubs.
    d = e.select(F.col("hi").alias("h"), F.col("lo").alias("l"))
    m = d.groupBy("h").agg(F.min("l").alias("m"))
    member = d.join(m, "h").select(
        F.col("m").alias("u"), F.col("l").alias("v")
    )
    center = m.select(F.col("m").alias("u"), F.col("h").alias("v"))
    return _canon(member.unionByName(center))


import re as _re
import shutil as _shutil
import sys as _gsys
import threading as _threading
from pathlib import Path as _GPath

#: default-scratch root per call site (review r9): repeat calls from
#: the same site reuse one root, clearing the prior run's rounds, so a
#: graph-operator-in-a-loop driver holds O(1) round files instead of
#: one final round per call for the life of the process. Shared by
#: connected_components and staged pagerank (keys carry the prefix).
_SITE_ROOTS: dict[str, str] = {}
_ROOT_LOCK = _threading.Lock()


def _staged_round_root(
    stage_path: str | None, prefix: str, spark=None
) -> str:
    """Resolve (and clean) the round-staging root for an iterative
    graph operator. ``stage_path=None`` → one scratch root PER CALL
    SITE of the public operator (caller of our caller), reused and
    cleared across loop iterations; an explicit path is cleared of
    this machinery's ``r<N>`` round dirs only (it may hold unrelated
    data). Either way, entering a new run INVALIDATES the lazy result
    of the previous run from the same site / path. Cluster-storage
    stage paths (hdfs://…, s3://…) are cleared through the Hadoop
    FileSystem (review r10: Path.glob silently no-oped there,
    resurrecting the stale-round mixing this clearing prevents)."""
    from ..scratch import new_scratch_root

    if stage_path is None:
        # thread id in the key (review r9): two threads driving graph
        # ops from the SAME call site (a ThreadPoolExecutor over edge
        # frames — a normal multi-threaded Spark-driver pattern) must
        # not clear each other's in-flight rounds. Within one thread,
        # loop calls still reuse (and clear) one root; distinct
        # threads get distinct roots, all swept at process exit.
        caller = _gsys._getframe(2)
        site = (
            f"{prefix}{caller.f_code.co_filename}:{caller.f_lineno}"
            f":t{_threading.get_ident()}"
        )
        with _ROOT_LOCK:
            root = _SITE_ROOTS.get(site)
            if root is None:
                root = str(new_scratch_root(prefix))
                _SITE_ROOTS[site] = root
    else:
        root = stage_path
    # est_r* too (ADVICE r9): neighborhood_function stages one
    # estimate dir PER RADIUS; a re-entrant shallower call would
    # otherwise overwrite only the radii it reaches and a held
    # previous lazy result could read a mix of two runs.
    _round_dir = _re.compile(r"^(est_)?r[0-9]+")
    if "://" not in root:
        rp = _GPath(root)
        if rp.exists():
            for d in rp.iterdir():
                if d.is_dir() and _round_dir.match(d.name):
                    _shutil.rmtree(d, ignore_errors=True)
    else:
        try:
            spark = spark or _active_spark()
            jp = spark._jvm.org.apache.hadoop.fs.Path(root)
            fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jp):
                for st in fs.listStatus(jp):
                    if st.isDirectory() and _round_dir.match(
                        st.getPath().getName()
                    ):
                        fs.delete(st.getPath(), True)
        except Exception as exc:  # noqa: BLE001 — best-effort, like the glob
            # ...but DIAGNOSABLE (ADVICE r10→r11): a failed FS
            # list/delete on re-entry silently resurrects the exact
            # stale-round mixing this clear exists to prevent, so warn.
            import warnings

            warnings.warn(
                f"stale-round clear of {root!r} failed "
                f"({type(exc).__name__}: {exc}); a held lazy result "
                "may read r*/est_r* dirs from two different runs",
                RuntimeWarning,
                stacklevel=2,
            )
    return root


def _active_spark():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def _stage_rm(path: str, spark=None) -> None:
    """Recursive best-effort delete that also works on cluster storage
    (review r10: shutil silently no-ops on an hdfs://…/s3://… stage
    path — the docstrings explicitly support pointing ``stage_path`` at
    cluster storage — so superseded edge-set-sized rounds accumulated
    forever). Plain local paths keep the cheap os-level path."""
    if "://" not in path:
        _shutil.rmtree(path, ignore_errors=True)
        return
    try:
        spark = spark or _active_spark()
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        jp.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jp, True)
    except Exception:  # noqa: BLE001 — best-effort, like rmtree
        pass


def _stage(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to parquet at ``path`` and return the staged frame,
    read back with ``df``'s own schema: a plain ``read.parquet`` runs a
    one-task schema-inference job per read, which an iterative operator
    would pay once per round. Every staged directory in this module
    goes through here."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


#: lazy-rounds cutover for neighborhood_function's unrolled tier: it
#: composes every round into one job, which re-scans the edge source
#: per composed round, so it runs only while the edge frame's
#: optimizer-stats size is at most this (see its in-body comment).
_LAZY_MAX_BYTES = 1 << 30


def _plan_fits(df: DataFrame, max_bytes: int) -> bool:
    """True when the optimizer's size estimate of ``df`` is at most
    ``max_bytes`` (no job runs). A failed probe — no stats — counts as
    over the threshold, so the caller takes its scale-safe tier."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(size) <= max_bytes
    except Exception:  # noqa: BLE001
        return False


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    stage_path: str | None = None,
) -> DataFrame:
    """Weakly-connected components via alternating large-star /
    small-star rounds → ``(node, component_id)`` where component_id is
    the component's MINIMUM node id.

    Why not plain min-label propagation (``dedup_approx.dedup_groups``):
    label propagation needs O(graph diameter) rounds — a chain of 10⁶
    nodes (exactly what event-succession graphs produce) is 10⁶
    shuffles. The star algorithm contracts chains at both ends toward
    local minima every round and provably converges in O(log n) rounds
    on any graph, each round being two groupBy shuffles over the edge
    set — the 100 TB shape.

    Each round is STAGED TO PARQUET, exactly like the MapReduce
    originals materialize between jobs (and like d02's ``stage_path``
    tier). Not persist, not localCheckpoint — measured on a 40-edge
    toy graph: a star round references its input ~4×, so under persist
    the logical plan (and driver-side canonicalization/cache-lookup
    cost) grows ~4^round — round 0 took 2.8 s, round 3 never finished;
    and eager ``localCheckpoint`` intermittently served the PREVIOUS
    round's rows (observed: round 1 returned round 0's exact edge set
    while a fresh JVM returned the correct one). A parquet round-trip
    is a flat scan: constant plan size, deterministic, and at cluster
    scale doubles as restartable progress. Convergence is a 1-row agg
    on the staged file (count + order-insensitive XOR of edge hashes —
    SUM would overflow ANSI int64), never a data-sized collect;
    superseded round files are deleted as soon as the next lands.

    ``stage_path``: directory for the round files (reused across runs
    or pointed at cluster storage); default a process-scoped temp dir
    swept at exit and by the stale-scratch startup sweep. The FINAL
    round's parquet backs the returned (lazy) DataFrame, so the scratch
    root must outlive the caller's reads — the default root lives
    until process exit, the u05 scratch pattern.

    SCRATCH LIFECYCLE (review r9: a long-lived session calling WCC in
    a loop — exactly what an incremental-dedup driver does — stranded
    one edge-set-sized final-round file PER CALL until process exit):
    the default root is keyed by CALL SITE (caller file:line), and a
    repeat call from the same site clears the previous run's rounds on
    entry, so N sequential loop calls hold O(1) round files. An
    explicit ``stage_path`` is cleared of this function's ``r<N>``
    round dirs on entry likewise. Consequence, in both modes: starting
    a new call INVALIDATES the lazy DataFrame returned by the previous
    call from the same site / on the same path — materialize (write or
    collect) a result you need before recomputing, or pass a fresh
    ``stage_path`` per call to keep several results alive at once.

    ``nodes``: optional one-column frame of ALL node ids — isolated
    nodes (no incident edge) appear in the output as their own
    singleton components. Node ids must be orderable and non-null
    (component_id = the min id, the dedup_groups convention).

    Unlike core_numbers and staged pagerank, the star rounds REWRITE
    the edge set every round, so there is no round-invariant edge list
    to stage once."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    # the FINAL round's parquet backs the returned lazy DataFrame, so
    # the root must outlive the caller's reads — default scratch roots
    # live until process exit (shared lifecycle in ..scratch), one per
    # CALL SITE, cleared on re-entry (review r9)
    root = _staged_round_root(stage_path, "dwbss-wcc-", spark)
    # Round 0 (the canonicalized INPUT) is STAGED first (r12; measured
    # on g03 — round 1 was ~5× a steady round): a star round references
    # its input twice (the m-aggregate and the join branch), so an
    # unstaged round 0 evaluated the caller's whole edge-build lineage
    # — at g03 that is a corpus window — twice inside round 1's job.
    # One write of E + two cheap parquet scans beats two evaluations of
    # an arbitrary upstream, doubles as restartable progress for the
    # input, and its signature (riding the staging write's Observation,
    # no extra job) lets an already-converged input stop after ONE
    # round instead of two. The convergence signature rides each
    # round's write job likewise: one job per round.
    e0 = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    r0 = f"{root}/r0"
    obs0 = Observation()
    e = _stage(e0.observe(
        obs0,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("h1"),
        F.coalesce(F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)).alias("h2"),
    ), r0)
    cur = r0
    prev_sig = (obs0.get["n"], obs0.get["h1"], obs0.get["h2"])
    for i in range(max_iter):
        nxt = f"{root}/r{i + 1}"
        obs = Observation()
        # TWO independent xor-hashes (argument order swapped — xxhash64
        # mixes positionally, so the pair behaves as a 128-bit
        # signature): a spurious cross-round collision is ~2⁻¹²⁸
        # instead of 2⁻⁶⁴ (VERDICT r8 nit), with zero extra rounds —
        # an `i > 1` guard instead would make max_iter=2 spuriously
        # raise on graphs already at fixpoint (review r9).
        e = _stage(_small_star(_large_star(e)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)
            ).alias("h1"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)
            ).alias("h2"),
        ), nxt)
        sig = (obs.get["n"], obs.get["h1"], obs.get["h2"])
        if cur is not None:
            _stage_rm(cur, spark)  # superseded round
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating star rounds (theory bound is O(log n))"
        )
    # fixpoint is a star forest: every edge is (root=lo, member=hi)
    labels = e.select(
        F.col("hi").alias("node"), F.col("lo").alias("component_id")
    ).union(
        e.select(F.col("lo").alias("node"), F.col("lo").alias("component_id"))
    ).distinct()
    if nodes is not None:
        nid = nodes.columns[0]
        labels = labels.unionByName(
            nodes.select(F.col(nid).alias("node"))
            .distinct()
            .join(labels, "node", "left_anti")
            .select("node", F.col("node").alias("component_id"))
        )
    return labels


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts → ``(node, n_triangles)`` over
    the undirected simple graph (self-loops dropped, parallel/reversed
    edges collapsed). Nodes in no triangle are omitted — callers join
    back with a zero default when they need the full vertex set.

    The classic degree-ordered orientation (node-iterator++ / Schank):
    orient every undirected edge from the endpoint with (degree, id)
    rank LOWER to higher. Each triangle then has exactly ONE wedge
    a→b, a→c with both edges outgoing from its lowest-ranked corner,
    so counting = one self-join of the oriented list on the wedge
    apex + one semi-join against the oriented closure edge. Out-degree
    under this orientation is O(√m) on any graph, which bounds the
    wedge count at O(m^1.5) — the property that makes exact triangle
    counting feasible at web scale where a naive neighbor-join on the
    raw (skewed) degree distribution explodes on hub nodes.

    Plan: degrees = one groupBy over the exploded edge list; the
    orientation join broadcasts nothing and shuffles the edge list
    twice (once per endpoint's degree lookup); the wedge self-join
    shuffles on the apex; the closure check is an inner join on the
    canonical (lo, hi) pair. Per-node counts credit all three corners
    via one explode + groupBy."""
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # (degree, id) total order: rank(x) = (deg(x), x)
    deg = _directed(e).groupBy("a").agg(F.count("*").alias("deg"))
    # orient lo→hi in rank order; keep the canonical pair for closure
    ranked = (
        e.join(
            deg.select(
                F.col("a").alias("lo"), F.col("deg").alias("_dlo")
            ),
            "lo",
        )
        .join(
            deg.select(
                F.col("a").alias("hi"), F.col("deg").alias("_dhi")
            ),
            "hi",
        )
        .select(
            "lo",
            "hi",
            F.when(
                (F.col("_dlo") < F.col("_dhi"))
                | (
                    (F.col("_dlo") == F.col("_dhi"))
                    & (F.col("lo") < F.col("hi"))
                ),
                F.struct(F.col("lo").alias("s"), F.col("hi").alias("t")),
            )
            .otherwise(
                F.struct(F.col("hi").alias("s"), F.col("lo").alias("t"))
            )
            .alias("o"),
        )
        .select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
    )
    # wedges at the lowest-ranked corner: s→t1, s→t2 with t1 < t2
    w1 = ranked.select(F.col("s").alias("_apex"), F.col("t").alias("_b"))
    w2 = ranked.select(F.col("s").alias("_apex"), F.col("t").alias("_c"))
    wedges = w1.join(w2, "_apex").where(F.col("_b") < F.col("_c"))
    # closure: the third side exists as a canonical undirected edge
    tri = wedges.join(
        e.select(F.col("lo").alias("_b"), F.col("hi").alias("_c")),
        ["_b", "_c"],
    )
    return (
        tri.select(
            F.explode(F.array("_apex", "_b", "_c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def _kcore_round(d: DataFrame, labels: DataFrame) -> DataFrame:
    """One H-index refinement round: deliver each neighbor's current
    value over the directed edge list, then per-node H-index via a
    descending row_number window (max rank with value ≥ rank — hub-safe
    partial top-k, never collect_list)."""
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.desc("val"))
    nb = d.join(
        labels.select(F.col("a").alias("b"), "val"), "b"
    ).select("a", "val")
    return (
        nb.withColumn("rn", F.row_number().over(w))
        .where(F.col("val") >= F.col("rn"))
        .groupBy("a")
        .agg(F.max("rn").cast("bigint").alias("val"))
    )


def core_numbers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 32,
    stage_path: str | None = None,
) -> DataFrame:
    """k-core decomposition → ``(node, core)`` over the undirected
    simple graph: core = the largest k such that the node survives in
    the k-core (every member has ≥ k neighbors inside).

    Algorithm: iterated neighborhood H-index refinement (Lü et al.,
    "The H-index of a network node and its relation to degree and
    coreness", public literature): c₀(v) = deg(v);
    cₜ₊₁(v) = H({cₜ(u) : u ∈ N(v)}), where H of a multiset is the
    largest h with ≥ h members ≥ h. The sequence is pointwise
    monotone non-increasing and its fixpoint is exactly the coreness
    (pytest-pinned against a pure-Python peel on random graphs).

    Scale shape: per round, ONE equi-join of the staged directed edge
    list against the current labels plus a per-node window top-h —
    the H-index is computed as max(rn) over rows with value ≥ rank
    under a per-node descending row_number, NOT collect_list, so a
    hub node costs O(deg) rows through the window's partial top-k,
    never a driver- or executor-side array. Rounds are parquet-staged
    with the g03 Observation signature (values are INTEGERS, so
    signature equality is a genuine fixpoint test modulo a 2⁻⁶⁴ hash
    collision), previous rounds deleted; scratch lifecycle =
    `_staged_round_root` (per-call-site default root; a new call
    invalidates the previous call's lazy result). EVERY round is
    staged and checked, so the loop stops one round after the
    fixpoint (round k+1 for a fixpoint at round k). Composing several
    rounds into one write saved only the parquet round trip — with
    AQE each composed round still ran its own broadcast and shuffle
    jobs — and ran every chunk past the fixpoint to its boundary
    (measured on g05: 28 → 15 jobs per call once chunking went).

    The directed edge list is round-invariant, so it is staged ONCE
    as plain parquet. While the (node, val) label frame is
    broadcast-sized, no round's neighbor join shuffles the edge side;
    past that, each round's join shuffles both sides. The Pregel
    "message" rows (a, val) always shuffle into the per-node window.

    CONVERGENCE BUDGET: real (web/link/co-occurrence) graphs converge
    in ~10–30 rounds (the paper's measurement; the repo's sf0.1
    session graph takes 10), but the worst case is O(peel depth) —
    a bare n-node path needs ~n/2 rounds because the boundary
    correction walks inward one node per round. ``iterations`` caps
    the budget; on exhaustion the result is the (well-defined,
    deterministic, still monotone-upper-bound) iterations-round
    refinement, NOT an error — callers that require exact coreness on
    adversarial topologies should raise the cap. A fixed small cap is
    also what makes the g05 spec oracle-replayable (DuckDB unrolls
    the identical rounds; an early fixpoint stop is output-equivalent
    because further rounds are no-ops).

    Reference analog: none (the daemon has no graph analytics);
    composes with g03/g04 as a link-quality prior for corpus curation
    (core number ranks pages by embeddedness; low-core = periphery).
    """
    from pyspark.sql import Observation

    if iterations < 1:
        raise ValueError("core_numbers: iterations must be >= 1")
    spark = edges.sparkSession
    root = _staged_round_root(stage_path, "dwbss-kc-", spark)
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # directed (both orientations) edge list, staged ONCE — every
    # round joins against it
    d = _stage(_directed(e), f"{root}/edges")
    labels = d.groupBy("a").agg(F.count(F.lit(1)).alias("val"))
    cur = None
    prev_sig = None
    for i in range(iterations):
        nxt = f"{root}/r{i + 1}"
        obs = Observation()
        # double xor-hash signature — see connected_components
        labels = _stage(_kcore_round(d, labels).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, val))"), F.lit(0)
            ).alias("h1"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(val, a))"), F.lit(0)
            ).alias("h2"),
        ), nxt)
        sig = (obs.get["n"], obs.get["h1"], obs.get["h2"])
        if cur is not None:
            _stage_rm(cur, spark)  # superseded round
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels.select(
        F.col("a").alias("node"), F.col("val").alias("core")
    )


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_radius: int = 8,
    lg_config_k: int = 12,
    stage_path: str | None = None,
    stage_rounds_above: int = 4,
) -> DataFrame:
    """HyperBall (Boldi–Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", public literature): the per-node
    neighborhood function over the undirected simple graph →
    ``(node, radius, n_reachable_est)`` for radius 0..R, where
    n_reachable_est ≈ |{u : dist(u, node) ≤ radius}|.

    Each node carries a mergeable HLL sketch of its reachable set
    (DataSketches via ``hll_sketch_agg``/``hll_union_agg`` — the same
    JVM-side sketches as q44's rollup); round t unions every node's
    sketch with its neighbors' round-(t−1) sketches. That is the whole
    trick: exact all-sources BFS needs O(n) frontier state per source
    (n² total — impossible at web scale), while a sketch is O(2^lg_k)
    bytes per node regardless of reach, and sketch union is
    associative so the round is ONE equi-join + ONE groupBy. At small
    cardinalities the DataSketches HLL is in exact (sparse) mode, so
    small-graph tests compare near-exactly against BFS.

    Rounds are parquet-staged (the g03 machinery: per-call-site
    scratch, superseded sketch rounds deleted; the per-round
    ESTIMATE frames — one small (node, radius, est) file per radius —
    are kept, they ARE the output). Early stop when the sketch-set
    signature repeats (double xor-hash over the sketch binaries —
    every ball saturated ⟹ fixpoint, same two-hash rationale as
    connected_components).

    Scale shape per round: join of the staged directed edge list with
    the (node, sketch) frame — the edge list is round-invariant, so it
    is staged once, like core_numbers' — then one groupBy(node)
    hll_union_agg — partial
    aggregation applies map-side because sketch union is
    commutative-associative. No driver-side data; no per-node frontier
    sets.

    Reference analog: none; standard corpus/web-graph use: ball sizes
    and the centralities derived from them (harmonic — see
    :func:`harmonic_centrality_approx`) rank pages by reachability as
    a crawl/quality prior.
    """
    spark = edges.sparkSession
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    k = F.lit(int(lg_config_k))
    # UNROLLED LAZY TIER (r11 optimization, the pagerank
    # stage_rounds_above precedent): for a small fixed radius over a
    # small edge source, with no explicit staging demand, compose every
    # round lazily and union the per-radius estimate projections — ONE
    # job, no per-round parquet round trips. Output-equivalent to the
    # staged tier: all radii 0..max_radius are emitted (the staged
    # early stop only SKIPS post-saturation rounds, whose estimates
    # are constant — and every consumer of a truncated run fills
    # forward/truncates, so extra constant rows change nothing). The
    # per-radius union duplicates the sketch lineage (radius r's
    # subtree re-runs r joins; ~r²/2 joins total, parallel subtrees) —
    # measured FASTER locally than r staged rounds (sf0.1 g06/h06:
    # 5.5 s -> 3.9 s, OPTIMIZATION_r11.md) because at that size the
    # cost is sequential-job latency, not bytes. The SIZE GATE is what
    # keeps it honest at 100 TB: duplicated lineages re-scan the edge
    # source ~r²/2 times, so above the byte threshold (optimizer-stats
    # probe of the canonical edge frame; the e02 threshold pattern)
    # the staged tier with early stop runs
    # unchanged — as it does for real HyperBall radii (8+) and for any
    # forced staging demand.
    if (
        stage_path is None
        and max_radius <= stage_rounds_above
        and _plan_fits(e, _LAZY_MAX_BYTES)
    ):
        d = _directed(e)
        sk = d.groupBy(F.col("a").alias("node")).agg(
            F.hll_sketch_agg(F.col("a"), k).alias("sketch")
        )

        def _est(frame: DataFrame, radius: int) -> DataFrame:
            return frame.select(
                "node",
                F.lit(radius).alias("radius"),
                F.round(F.hll_sketch_estimate("sketch"))
                .cast("bigint")
                .alias("n_reachable_est"),
            )

        out = _est(sk, 0)
        for t in range(1, max_radius + 1):
            contrib = d.join(
                sk.select(F.col("node").alias("b"), "sketch"), "b"
            ).select(F.col("a").alias("node"), "sketch")
            sk = (
                contrib.unionByName(sk)
                .groupBy("node")
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
            out = out.unionByName(_est(sk, t))
        return out

    root = _staged_round_root(stage_path, "dwbss-nf-", spark)
    d = _stage(_directed(e), f"{root}/edges")
    # radius 0: each node's ball is {itself}
    sk = d.groupBy(F.col("a").alias("node")).agg(
        F.hll_sketch_agg(F.col("a"), k).alias("sketch")
    )
    ests: list[DataFrame] = []

    def _write_round(frame: DataFrame, radius: int, path: str) -> tuple:
        """Stage one (node, sketch) round + its estimate frame; returns
        the staged round and the (count, h1, h2) signature of the
        per-node INTEGER estimates
        (the sketch BINARY is not a stable set fingerprint — its
        serialization varies with union order/mode transitions, so
        hashing it never detects saturation; the rounded estimates are
        deterministic functions of the represented set). Stable
        estimates for one round ⟹ every ball saturated (exact in the
        sketch's small-range sparse mode; in dense mode a flat-estimate
        round could stop one radius early — acceptable for an
        approximate operator, documented)."""
        from pyspark.sql import Observation

        staged = _stage(frame, path)
        ep = f"{root}/est_r{radius}"
        obs = Observation()
        est = _stage(staged.select(
            "node",
            F.lit(radius).alias("radius"),
            F.round(F.hll_sketch_estimate("sketch"))
            .cast("bigint")
            .alias("n_reachable_est"),
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(node, n_reachable_est))"),
                F.lit(0),
            ).alias("h1"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(n_reachable_est, node))"),
                F.lit(0),
            ).alias("h2"),
        ), ep)
        ests.append(est)
        return staged, (obs.get["n"], obs.get["h1"], obs.get["h2"])

    cur = f"{root}/r0"
    sk, prev_sig = _write_round(sk, 0, cur)
    for t in range(1, max_radius + 1):
        contrib = d.join(
            sk.select(F.col("node").alias("b"), "sketch"), "b"
        ).select(F.col("a").alias("node"), "sketch")
        nxt_sk = (
            contrib.unionByName(sk)
            .groupBy("node")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )
        nxt = f"{root}/r{t}"
        sk, sig = _write_round(nxt_sk, t, nxt)
        _stage_rm(cur, spark)  # superseded sketches
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    out = ests[0]
    for est in ests[1:]:
        out = out.unionByName(est)
    return out


def harmonic_centrality_approx(
    nf: DataFrame,
) -> DataFrame:
    """Approximate harmonic centrality from a neighborhood function:
    H(v) = Σ_{u ≠ v} 1/dist(u, v) = Σ_{t ≥ 1} (|N_t(v)| − |N_{t−1}(v)|)/t
    → ``(node, harmonic)`` (radius-truncated at the nf's max radius,
    the standard HyperBall estimator). One window-lag over the
    (node, radius) frame — tiny relative to building ``nf``."""
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy("radius")
    return (
        nf.select(
            "node",
            "radius",
            (
                F.col("n_reachable_est")
                - F.lag("n_reachable_est", 1, 0).over(w)
            ).alias("_delta"),
        )
        .where(F.col("radius") >= 1)
        .groupBy("node")
        .agg(
            F.round(
                F.sum(F.col("_delta") / F.col("radius")), 6
            ).alias("harmonic")
        )
    )
