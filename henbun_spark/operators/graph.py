"""Distributed graph operators: connected components over an edge
DataFrame, and duplicate-cluster labeling built on top of the near-dup
pair generators in `operators.dedup`.

The reference has no graph surface (it is a VI library); this module is
part of the brief-mandated training-data-pipeline set: near-dup detection
emits PAIRS, but an actual dedup pass needs CLUSTERS (one canonical doc
kept per transitively-connected duplicate group).

Algorithm: iterative min-label propagation expressed as DataFrame ops —
    label(v) <- min(label(v), min over neighbors u of label(u))
repeated until a fixed point. Each iteration is ONE keyed shuffle (join
edges to labels on the neighbor id + groupBy node min) — map-side
combinable, no windows, no driver data beyond a 1-row convergence count.

Scale design (100 TB stance):
* Convergence takes O(diameter) iterations. Near-duplicate graphs are
  unions of near-cliques (every member of a dup group pairs with most
  others), so the diameter is tiny (2-4) in practice; for adversarial
  chain-shaped graphs the alternating large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) bounds rounds by O(log^2 n) — the iteration here is
  deliberately the simple one because dup graphs are clique-like, and
  each round is a single self-contained shuffle that AQE can size.
* `localCheckpoint` after every iteration truncates the lineage — without
  it the plan doubles per round and stage-graph planning dominates by
  iteration ~10 (a classic iterative-DataFrame failure mode).
* The symmetrized edge set is persisted once and reused every round; it
  is unpersisted before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "pagerank",
]

#: Driver fast-path cap (edges) of `connected_components`,
#: `connected_components_star` and `pagerank`. Near-dup graphs after
#: candidate pruning are usually far smaller than the corpus; under the
#: cap, one collect + a driver union-find (or PageRank recurrence)
#: replaces O(rounds) shuffle iterations (each round costs a join +
#: groupBy + checkpoint + count action). Over the cap, the distributed
#: iteration runs — same output contract either way. Read at call time;
#: 0 disables the fast path (tests set it for the distributed twin).
DRIVER_UNION_FIND_MAX_EDGES = 200_000


def _driver_union_find(spark, sym: DataFrame):
    """Collect an (already materialized, deduplicated, symmetrized)
    edge list and label components with a path-compressed union-find;
    comp = min node id of the component, matching the distributed
    contract bit-for-bit. Returns a (node, comp) DataFrame with the
    edge list's node type."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym.collect():
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    import pyspark.sql.types as T

    ntype = sym.schema[0].dataType
    schema = T.StructType(
        [T.StructField("node", ntype), T.StructField("comp", ntype)]
    )
    rows = [(n, comp_min[find(n)]) for n in parent]
    return spark.createDataFrame(rows, schema)


def _driver_pagerank(spark, sym: DataFrame, iters: int, damping: float):
    """Driver-local replica of `pagerank`'s distributed loop for graphs
    under the union-find cap — BIT-IDENTICAL by construction:

    * contribution = Spark's ``round(rank / d, 9)`` on a double. Both
      Java's ``Double.toString`` and Python's ``repr`` print the
      shortest round-tripping decimal (the same value), so
      ``Decimal(repr(x)).quantize(1e-9, ROUND_HALF_UP)`` equals
      BigDecimal.valueOf(x).setScale(9, HALF_UP); and a 9-scale decimal
      below ~1e7 round-trips double->decimal exactly (adjacent 9-scale
      values differ by 1e-9 >> one double ulp), so the rounded double
      cast back to decimal(38,9) is the same 9-scale value.
    * per-node sums add those decimals EXACTLY (order-free), matching
      the decimal sum; ``float(Decimal)`` and BigDecimal.doubleValue are
      both correctly rounded.
    * the update replays the plan-time-literal expression order:
      ``(1.0 - damping) + damping * float(sum)``.
    """
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    adj: dict = defaultdict(list)
    for row in sym.collect():
        adj[row[0]].append(row[1])
    ranks = {u: 1.0 for u in adj}
    q9 = Decimal("1.000000000")
    base = 1.0 - damping
    for _ in range(iters):
        sums: dict = defaultdict(lambda: Decimal(0))
        for u, vs in adj.items():
            c = Decimal(repr(ranks[u] / len(vs))).quantize(
                q9, rounding=ROUND_HALF_UP
            )
            for v in vs:
                sums[v] += c
        ranks = {v: base + damping * float(s) for v, s in sums.items()}
    import pyspark.sql.types as T

    ntype = sym.schema[0].dataType
    schema = T.StructType(
        [T.StructField("node", ntype), T.StructField("rank", T.DoubleType())]
    )
    return spark.createDataFrame(list(ranks.items()), schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node reachable through `edges` with the minimum node id
    of its connected component.

    Input: an edge list (undirected; each pair may appear in either or
    both orientations). Output: (node, component) with one row per
    distinct node appearing in the edge list; component = min node id of
    the component (deterministic canonical labeling).

    Raises RuntimeError if `max_iter` rounds pass without convergence —
    at that point the caller's graph has diameter > max_iter and should
    use a doubling algorithm instead of silently-wrong labels.

    Graphs whose (deduplicated, symmetrized) edge list fits under
    `DRIVER_UNION_FIND_MAX_EDGES` take the driver union-find fast path
    instead of iterating: the count is free on the already-checkpointed
    edges, and one collect replaces O(diameter) shuffle rounds. Same
    (node, min-id comp) contract.

    Dirty edge lists: an edge with a NULL endpoint is dropped by the
    ``u != v`` guard BEFORE either path sees it (NULL-safe by SQL
    three-valued logic — the comparison is NULL, so WHERE drops the
    row), exactly like a self-loop: neither carries connectivity
    information. The fast path's Python ``<`` min-label comparison can
    therefore never meet a None, and both paths agree on dirty inputs
    (pytest-pinned). Nodes that appear ONLY in NULL/self edges are
    absent from the output in both paths.
    """
    # eager checkpoint: the edge pipeline (often an expensive near-dup
    # candidate generator) is computed once and truncated out of every
    # iteration's plan
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cap = DRIVER_UNION_FIND_MAX_EDGES
    if cap and sym.count() <= cap:
        return _driver_union_find(edges.sparkSession, sym)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min label over neighbors: one shuffle keyed on node
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                (F.coalesce("nbr_comp", F.col("comp")) < F.col("comp"))
                .cast("long")
                .alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.agg(F.sum("chg")).first()[0]
        labels = stepped.drop("chg")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log^2 n) rounds INDEPENDENT of graph
    diameter, so it is the right choice for chain- or tree-shaped graphs
    where min-label propagation (`connected_components`) needs
    O(diameter) rounds.

    Both star operations are expressed WITHOUT collect_list: the
    per-node minimum neighbor is a partial-aggregatable groupBy min,
    and the rewiring is an equi-join of the edge list against that
    min table — two shuffles per half-round, skew-safe (a hub node's
    min combines map-side; its edges rewire in parallel).

    Output: (node, comp) for every node in the edge list, comp = the
    component's minimum node id (same contract as
    `connected_components`).
    """

    def _sym(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u"), F.col("v"))
            .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _large_star(sym: DataFrame) -> DataFrame:
        # m(u) = min(N(u) + {u}); connect strictly-larger neighbors to m
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(sym: DataFrame) -> DataFrame:
        # operate on edges directed large->small: m(u) = min(N<=(u)+{u});
        # connect each small neighbor AND u itself to m
        d = sym.where(F.col("v") <= F.col("u"))
        m = d.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        rewired = d.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = m.select(F.col("u"), F.col("m").alias("v"))
        return rewired.union(self_edge)

    cur = _sym(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    # small-graph fast path: see connected_components — one collect +
    # union-find beats O(log^2 n) x (4 shuffles + checkpoint + count)
    cap = DRIVER_UNION_FIND_MAX_EDGES
    if cap and cur.count() <= cap:
        return _driver_union_find(edges.sparkSession, cur)
    prev_sig = None
    for _ in range(max_iter):
        stepped = _sym(_small_star(_large_star(cur))).localCheckpoint(
            eager=True
        )
        sig = stepped.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        cur = stepped
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # fixpoint: every component is a star rooted at its minimum; each
    # non-root points at the root, roots label themselves
    labels = cur.where(F.col("v") < F.col("u")).select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    )
    roots = (
        cur.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("comp", F.col("node"))
    )
    return labels.union(roots)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Full-corpus duplicate-cluster labeling: every row of `df` gets the
    component id of its near-dup cluster (singletons label themselves) and
    an `is_canonical` flag (true for the minimum id of each component —
    the one row a dedup pass keeps).

    `pairs` is any near-dup pair table (MinHash-LSH, SimHash banding,
    n-gram Jaccard, embedding LSH — all emit (id_a, id_b)). The join back
    to `df` is a left join on the id only, so the (often wide) payload
    never enters the iterative component computation.
    """
    comp = connected_components(pairs, pair_a, pair_b).withColumnRenamed(
        "node", id_col
    )
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("component"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank on an undirected edge list (each edge walks both ways),
    fixed `iters` power iterations:
        rank(v) <- (1 - d) + d * sum over in-neighbors u of rank(u)/deg(u)

    Per iteration: ONE join of the edge list to the current ranks + one
    map-side-combinable groupBy — the canonical distributed PageRank
    profile; `localCheckpoint` every few rounds truncates lineage.
    High-degree hubs are safe: their incoming contributions partial-
    aggregate map-side.

    Determinism (oracle-exactness): per-edge contributions round to 9
    decimals and sum as DECIMAL — the shuffle order cannot change the
    result, so a fixed iteration count yields bit-identical ranks on any
    engine (the DuckDB oracle unrolls the same recurrence).

    On a near-dup similarity graph the stationary mass picks the most
    central member of each duplicate cluster — an alternative canonical
    selector to min-id when "keep the most representative copy" matters.
    """
    # eager checkpoints: the (possibly expensive) edge pipeline and the
    # degree table are computed ONCE and truncated out of every
    # iteration's plan — without this the static plan replicates the
    # whole upstream subtree per iteration and planning cost compounds
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r12: graphs under the union-find cap iterate on the DRIVER — the
    # decimal-exact recurrence makes the distributed result a pure
    # function of the edge list, replicated bit-for-bit below (pytest-
    # pinned), so one collect replaces iters x (2 joins + groupBy +
    # periodic checkpoint) of fixed-latency jobs. Same bounded-driver
    # design (and cap) as connected_components' union-find path.
    cap = DRIVER_UNION_FIND_MAX_EDGES
    if cap and sym.count() <= cap:
        return _driver_pagerank(edges.sparkSession, sym, iters, damping)
    deg = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0).alias("rank"))
    for it in range(iters):
        contrib = (
            sym.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                F.round(F.col("rank") / F.col("d"), 9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        )
        ranks = contrib.groupBy("node").agg(
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.sum("c").cast("double")
            ).alias("rank")
        )
        if (it + 1) % 4 == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global + per-node triangle counting on an undirected graph.

    The classic MapReduce formulation (Suri & Vassilvitskii, WWW'11
    "Counting Triangles and the Curse of the Last Reducer"): canonicalize
    each undirected edge to (lo, hi), then count paths lo->mid->hi whose
    closing edge (lo, hi) exists. Ordering every wedge by node id means
    each triangle is generated EXACTLY once (at its lowest vertex), so
    the plan is two equi-joins over the canonical edge table — no
    explosion factor beyond sum-of-squared-degrees for the wedge step.

    At scale the wedge join is the skew risk (a degree-d hub makes d^2
    wedges); the id-ordering already halves hub degrees on average, and
    the production hardening is degree-ordered canonicalization (orient
    edges low-degree -> high-degree) which bounds wedges by arboricity —
    one extra degree-table join away if hubs appear.

    Returns one row per node that participates in >= 1 triangle:
    (node, n_triangles), each triangle counted at all three corners.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        # the canonical edge table feeds THREE plan branches (two wedge
        # sides + the closing-edge probe); checkpoint it once so an
        # expensive upstream pair generator (LSH/inverted-index dedup)
        # isn't re-executed per branch
        .localCheckpoint()
    )
    # wedges centered at the lowest vertex: a < b, a < c, b < c
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = ab.join(ac, "a").where(F.col("b") < F.col("c"))
    closing = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    corners = tris.select(F.col("a").alias("node")).unionAll(
        tris.select(F.col("b").alias("node"))
    ).unionAll(tris.select(F.col("c").alias("node")))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
