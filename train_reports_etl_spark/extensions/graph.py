"""Distributed connected components (E1/E2 completion): turn near-dup
*pairs* into dedup *clusters* with a canonical representative per
cluster.

No reference citation — new scope beyond SURVEY.md §2.11. Pair-style
near-dup output (doc_a, doc_b) under-counts duplication: if A~B and
B~C, all three are one duplicate cluster even when A~C was never
scored. The fix is connected components over the pair graph, then one
canonical doc (min id) per component.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed in
DataFrame ops. Each round is two groupBy-min shuffles; edges
monotonically re-point toward smaller ids and the edge set contracts
to stars (member → min-id representative) in O(log n) rounds — unlike
naive label propagation, whose round count is the graph *diameter*
(a 10⁶-long chain needs 10⁶ rounds; hashing/sorted-id chains make this
a real failure mode at corpus scale, where large-star/small-star needs
~20).

Per-round `localCheckpoint` truncates lineage — without it the plan
doubles every iteration and the driver dies on plan explosion long
before the executors break a sweat (the standard iterative-Spark
trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from train_reports_etl_spark.driver import local_frame

__all__ = [
    "connected_components",
    "dedup_clusters",
    "bfs_hops",
    "k_core",
    "label_propagation",
    "link_prediction",
    "pagerank",
]


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select("u", "v")
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return fwd.union(rev).filter(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u, where m(u) = min(Γ(u) ∪ u).

    Strictly-larger neighbors re-point at u's minimum — long chains
    fold toward small ids two hops per round."""
    sym = _symmetrize(edges)
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then point each node's smaller
    neighborhood (and itself) at its overall minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    re_pointed = (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edge = m.select("u", F.col("m").alias("v"))
    return re_pointed.union(self_edge).distinct()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Finish a SMALL edge set with path-compressed union-find on the
    driver: (u, component=min id). Union-by-min keeps every tree's
    root at the component minimum, matching the distributed result
    exactly. Only called under ``driver_finish_threshold`` — the
    collect is bounded (≤ threshold rows of two ids)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges.collect():
        u, v = r.u, r.v
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru

    spark = edges.sparkSession
    u_type = edges.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("u", u_type), T.StructField("component", u_type)]
    )
    return local_frame(spark, [(x, find(x)) for x in parent], schema)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 25,
    driver_finish_threshold: int = 100_000,
) -> DataFrame:
    """Components of the undirected graph given by ``edges (u, v)``.

    Returns ``(node, component)`` where component is the minimum node
    id reachable from ``node``. Pass ``nodes`` (one column, named like
    ``u``'s type) to include isolated nodes as singleton components.

    Converges when a round leaves the edge set unchanged (the paper's
    fixed point: every edge is then (member, min-of-component)); a
    ``max_iter`` cap guards pathological inputs — hitting it raises,
    never returns a half-merged clustering.

    **Hybrid finish**: each distributed round costs ~6 shuffles + a
    checkpoint + a probe job — ~1 s of fixed overhead at any size.
    Star contraction shrinks the edge set monotonically, so once it
    fits ``driver_finish_threshold`` rows (known free from the probe's
    count — no extra job) the remaining rounds collapse into ONE
    bounded collect + union-find. Dedup pair graphs contract fast;
    truly huge graphs keep iterating distributed until they fit.
    Set ``driver_finish_threshold=0`` to force fully-distributed."""
    def _sig(e: DataFrame) -> tuple[int, int]:
        """(count, order-independent xxhash64 checksum) in ONE job.

        ``bit_xor``, not SUM: xor is order/partition-independent like
        sum but cannot overflow, so the probe behaves identically on
        ANSI-on sessions (SUM of xxhash64 longs overflows and *raises*
        under ANSI — caught by the vanilla-session sweep)."""
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        return (row.n, row.h)

    cur = _symmetrize(edges).localCheckpoint(eager=True)
    cur_sig = _sig(cur)
    comp = None
    if cur_sig[0] <= driver_finish_threshold:
        comp = _driver_union_find(cur)
    else:
        for _ in range(max_iter):
            nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
            nxt_sig = _sig(nxt)
            # fixed-point probe: one cheap agg per round; the (count,
            # checksum) pair only ever matches at the real fixed point
            # or on a 2^-64 collision, so the exact set compare runs
            # ONCE, at the candidate — not every round.
            if nxt_sig == cur_sig and nxt.exceptAll(cur).limit(1).count() == 0:
                cur = nxt
                break
            cur, cur_sig = nxt, nxt_sig
            if cur_sig[0] <= driver_finish_threshold:
                comp = _driver_union_find(cur)
                break
        else:
            raise RuntimeError(
                f"connected_components: no fixed point in {max_iter} rounds"
            )

    if comp is None:
        # star form: every non-root points straight at its component min
        membership = cur.groupBy("u").agg(F.min("v").alias("component"))
        roots = cur.select(F.col("v").alias("u")).distinct().join(
            membership, "u", "left_anti"
        ).select("u", F.col("u").alias("component"))
        comp = membership.union(roots)
    if nodes is not None:
        node_col = nodes.columns[0]
        comp = (
            nodes.select(F.col(node_col).alias("u"))
            .distinct()
            .join(comp, "u", "left")
            .select("u", F.coalesce("component", "u").alias("component"))
        )
    return comp.select(F.col("u").alias("node"), "component")


def dedup_clusters(
    pairs: DataFrame,
    all_docs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
) -> DataFrame:
    """E1/E2 — canonical dedup assignment from a near-dup pair table:
    every document gets (doc_id, cluster_rep, cluster_size); keep rows
    where doc_id == cluster_rep to materialize the deduped corpus.
    Singletons are their own representative."""
    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    comp = connected_components(edges, nodes=all_docs.select(id_col))
    sizes = comp.groupBy("component").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 10,
) -> DataFrame:
    """E8 — distributed BFS: minimum hop distance from any seed node
    over the undirected graph ``edges (u, v)``. Returns
    ``(node, hops)`` for every node within ``max_hops``; unreachable
    nodes are absent.

    The other iterative-graph shape next to large-star/small-star:
    frontier expansion. Each round is ONE join (frontier × edges) + an
    anti-join against the visited set — work proportional to the
    frontier's edge boundary, never the whole graph. Rounds = the
    DISTANCE BOUND, not O(log n) — use for radius-bounded
    neighborhoods (blast-radius queries, similarity-graph locality),
    not whole-graph reachability (that is ``connected_components``).

    Integer distances → exact oracle (recursive CTE). Per-round
    ``localCheckpoint`` keeps plans flat (the iterative-Spark trap);
    an empty frontier short-circuits, so the loop runs
    min(max_hops, eccentricity) rounds.

    The frontier and visited sets are BROADCAST into their joins: a
    radius-bounded BFS's frontier is the seed neighborhood, orders of
    magnitude smaller than the edge table, so each round becomes one
    scan of the (checkpointed) edges with zero per-round edge
    shuffles — measured 6.8 s → 3.4 s on the sf0.1 near-dup graph.
    For whole-graph traversals with frontiers too big to broadcast,
    drop the hints (or use ``connected_components``, which is the
    right tool there anyway).
    """
    sym = _symmetrize(edges).localCheckpoint(eager=True)
    node_col = seeds.columns[0]
    frontier = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    # Only each round's NEW frontier is materialized (O(V) total across
    # the run, not O(V × hops)); the visited set used by the anti-join
    # is the lazy union of the already-checkpointed levels, so its
    # lineage stays one union-node deep per level.
    levels = [frontier]
    visited = frontier.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            F.broadcast(frontier).join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        levels.append(nxt)
        visited = visited.union(nxt.select("node"))
        frontier = nxt
    out = levels[0]
    for lvl in levels[1:]:
        out = out.union(lvl)
    return out


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """E8 — PageRank over the undirected near-dup graph in EXACT
    integer arithmetic: ``(node, rank)`` after ``iters`` power
    iterations, where rank is a fixed-point integer (total mass
    ``scale`` = 10^12 at t=0).

        rank_0(v)   = scale // N
        rank_t+1(v) = ((100-d)*scale) // (100*N)
                    + (d * Σ_{u→v} rank_t(u) // deg(u)) // 100

    with d = damping_pct. Every operation is integer (div = floor on
    the non-negative ranks), so partial sums commute — the result is
    bit-identical regardless of partitioning or aggregation order,
    which makes the unrolled-CTE DuckDB oracle a strong value-hash
    check on an ITERATIVE algorithm (the class the driver otherwise
    downgrades to rows-only). Dangling mass is intentionally dropped
    (isolated docs keep only the teleport term) — the common
    "no-redistribution" simplification, mirrored exactly in the
    oracle.

    Scale shape (100 TB): the degree-annotated edge table is built
    ONCE and localCheckpoint-ed; each iteration is one hash join
    (ranks × edges on u — both sides hash-partitioned on the same
    key, so AQE reuses the exchange) plus one map-side-combinable
    groupBy(v) SUM of longs. Per-iteration localCheckpoint truncates
    lineage — the standard iterative-Spark trap (see
    connected_components above). Driver-side scalars are two bounded
    counts (N and the loop bound), never node data.
    """
    node_col = nodes.columns[0]
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    n = all_nodes.count()
    if n == 0:
        return all_nodes.withColumn("rank", F.lit(0).cast("long"))
    base = ((100 - damping_pct) * scale) // (100 * n)
    sym = _symmetrize(edges)
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    edeg = sym.join(deg, "u").localCheckpoint(eager=True)
    ranks = all_nodes.withColumn(
        "rank", F.lit(scale // n).cast("long")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        gathered = (
            edeg.join(ranks.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        ranks = (
            all_nodes.join(gathered, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def link_prediction(
    edges: DataFrame,
    top_k: int = 100,
    max_mid_degree: int | None = None,
) -> DataFrame:
    """E8 — common-neighbor / Jaccard link prediction over the
    undirected near-dup graph (Liben-Nowell & Kleinberg, CIKM'03):
    for every NON-adjacent pair (a, b) sharing ≥1 neighbor, score by
    ``|N(a) ∩ N(b)|`` and return the ``top_k`` pairs under the total
    order (common_neighbors DESC, node_a, node_b). The missing-edge
    detector for the dedup graph: a pair two near-dup neighborhoods
    both touch is a candidate the pairwise stage likely missed
    (shingle noise, threshold boundary) and keep-best would otherwise
    split across clusters.

    Scores are INTEGER-exact so the oracle is a strong value-hash:
    common/union counts are longs, and ``jaccard_milli`` is one
    ROUND(1000·cn/union) per row — a single correctly-rounded IEEE
    division of two small integers, bit-identical across engines
    (never a float SUM, whose order would diverge). No reference
    citation — new scope beyond SURVEY.md §2.11.

    Scale shape (100 TB): the wedge self-join fans out Σ_mid deg(mid)²
    — the classic hub explosion. ``max_mid_degree`` is the standard
    mitigation (drop super-hub common neighbors: a node adjacent to
    everything carries no signal; Jaccard unions still use TRUE
    degrees so retained scores are exact). Output is bounded by
    ``top_k`` via TakeOrderedAndProject — no full sort, no unbounded
    result — and the candidate groupBy is one shuffle keyed on the
    pair, map-side combined.
    """
    sym = _symmetrize(edges)
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    nbr = sym
    if max_mid_degree is not None:
        mids = deg.filter(F.col("d") <= max_mid_degree).select("u")
        nbr = nbr.join(mids, "u")
    s1 = nbr.select(F.col("u").alias("mid"), F.col("v").alias("a"))
    s2 = nbr.select(F.col("u").alias("mid"), F.col("v").alias("b"))
    cand = (
        s1.join(s2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common_neighbors"))
    )
    direct = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    cand = cand.join(direct, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    union_n = F.col("da") + F.col("db") - F.col("common_neighbors")
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_neighbors",
            union_n.cast("long").alias("union_neighbors"),
            F.round(F.lit(1000.0) * F.col("common_neighbors") / union_n)
            .cast("long")
            .alias("jaccard_milli"),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"), "node_a", "node_b"
    ).limit(top_k)


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """E75 — seed-clamped synchronous label propagation (Zhu &
    Ghahramani CMU-CALD-02-107; Raghavan 2007's LPA restricted to the
    deterministic clamped variant): spread sparse trusted labels
    (human-audited source/topic/quality tags) across the near-dup
    graph — near-duplicates of a labeled document inherit its label
    without a model. ``seeds`` is (node, label); ``nodes`` one column.

    Per iteration every node takes the MODE of its neighbors'
    previous-round labels under the total order (count DESC, label
    ASC) — the exact-MODE shape E49 pins — except seeds, which are
    clamped to their seed label. Re-deciding every round from the
    previous frame (pure synchronous update, no once-labeled-sticky
    state) plus the total-order tie-break makes ``iters`` rounds a
    deterministic pure function of (edges, seeds) — partitioning and
    aggregation order cannot move a label, so the unrolled-CTE DuckDB
    twin is a strong value-hash oracle on an ITERATIVE algorithm (the
    same trick as :func:`pagerank`).

    Scale shape (100 TB): per iteration one hash join (edges × labels
    on u, both sides partitionable on the join key) + one
    map-side-combinable groupBy(v, label) COUNT + one per-node top-1
    window (rank predicate pushes the limit into the sort). State is
    one (node, label) row per node; localCheckpoint per round
    truncates lineage. Hub skew lands in the (v, label) combine —
    partial counts commute."""
    node_col = nodes.columns[0]
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    seed = seeds.select(F.col(seeds.columns[0]).alias("node"),
                        F.col(seeds.columns[1]).alias("seed_label"))
    sym = _symmetrize(edges).localCheckpoint(eager=True)
    labels = all_nodes.join(seed, "node", "left").select(
        "node", F.col("seed_label").alias("label")
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iters):
        mode = (
            sym.join(
                labels.filter(F.col("label").isNotNull()).withColumnRenamed(
                    "node", "u"
                ),
                "u",
            )
            .groupBy("v", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("node"), F.col("label").alias("mode_label"))
        )
        labels = (
            all_nodes.join(seed, "node", "left")
            .join(mode, "node", "left")
            .select(
                "node",
                F.coalesce("seed_label", "mode_label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.join(seed, "node", "left").select(
        "node",
        "label",
        (F.col("seed_label").isNotNull()).alias("is_seed"),
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 6,
) -> DataFrame:
    """E81 — k-core decomposition by synchronous peeling (Seidman
    1983; the Batagelj-Zaveršnik peel expressed as rounds): repeatedly
    drop every node with degree < ``k`` until stable, returning the
    surviving nodes with their in-core degree. On the near-dup graph
    the 2-core separates DENSE duplication structure (template
    families, mirror farms — every member ties to ≥2 others) from
    incidental pairwise matches; it is the standard pre-filter before
    the quadratic-ish cluster diagnostics (triangles E56, density
    cores E60).

    ``rounds`` is a FIXED synchronous bound, so the result is a pure
    function of (edges, k, rounds) and the unrolled-CTE oracle is a
    strong value-hash on an iterative algorithm (the pagerank/LP
    trick). Peeling converges when a round removes nothing; the gate
    corpora converge well inside the default (pinned by a test that
    runs one extra round and asserts a fixed point). At 100 TB the
    bound is the peel DEPTH of the graph — for near-dup graphs
    (bounded cluster diameter) single digits; a pathological long
    chain degrades gracefully: the result after ``rounds`` is a sound
    OVER-approximation of the core (only non-members remain).

    Per round: one map-combinable degree count + two semi-joins to
    drop edges touching peeled nodes — all keyed on node ids;
    localCheckpoint truncates the iterative lineage.
    """
    sym = _symmetrize(edges).localCheckpoint(eager=True)
    for _ in range(rounds):
        alive = (
            sym.groupBy("u")
            .agg(F.count("*").cast("long").alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        sym = (
            sym.join(alive, "u", "left_semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("core_degree")
    )
