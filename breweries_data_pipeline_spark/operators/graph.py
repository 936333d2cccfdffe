"""Connected components over a distributed edge list — the cluster
step of near-duplicate deduplication (group every doc that is
transitively linked by a near-dup edge, keep one representative per
component).

No reference analog (the reference has no graph ops); driven by the
training-data-pipeline north star: MinHash/SimHash/Jaccard passes
produce PAIRS, but dedup policy needs COMPONENTS ("keep the smallest
id of each dup cluster"), and pair-wise dropping is wrong for chains
(a~b, b~c, a!~c must still collapse to one survivor).

Both paths label every node with the MIN node id of its component, by
min-label propagation with pointer jumping; the edge count picks the
path at run time (dynamic query execution, as in Dremel):

- **Driver path**, at most ``_DRIVER_EDGES`` (T = 2^20) edges with
  both endpoints non-null. One ``limit(T + 1)`` action brings the edge
  list to the driver as Arrow; numpy labels the ``np.unique``-indexed
  ids (hook each edge's labels and endpoints to the smaller label,
  then jump pointers to a fixpoint, until nothing changes), and the
  non-root (id, label) rows go back as one broadcast table that the
  node table left-joins. The edge list costs the driver 16 bytes per
  edge (two int64 endpoints) and labeling about 120 more in numpy
  working arrays: at T, about 1.5 s on one core and 140 MB (measured
  on random, permuted-chain and star graphs of 2^20 edges). Near-dup
  graphs are small next to the corpus that produced them; every
  ``corpus_dedup`` graph runs here, with one probe job in place of two
  jobs per distributed round.
- **Distributed path**, above T. Every node starts labeled with
  itself; each round
    1. propagates the min label across edges (one shuffle on the edge
       key — both directions of each undirected edge), and
    2. pointer-jumps (label <- label's label, a self-join on the label
       table) which halves label-chain depth,
  so convergence is O(log diameter) rounds, not O(diameter): a
  1M-long chain resolves in ~20 rounds. Each round is two hash
  shuffles of (id, label) pairs — the payload never travels. A loop
  that reaches ``max_iter`` without converging raises rather than
  return unconverged labels.

Scale notes (100 TB), distributed path: the label table is one long
per node — orders of magnitude smaller than the documents it
describes. Each round runs ONE heavy action (the eager
localCheckpoint); the convergence probe rides on it — the previous
label is carried through the checkpoint so detecting "no label
changed" is a filter + isEmpty over materialized partitions, not
another join. Each round's label table is localCheckpoint()ed:
persistence alone is NOT enough for iterative plans — the logical plan
doubles per round and Catalyst blows the stack around a dozen rounds —
so the lineage must be cut, not just cached. (On a cluster with
unreliable executors, swap localCheckpoint for checkpoint() + a
checkpoint dir; same semantics, survives executor loss.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_data_pipeline_spark.cache import track_persist

# Largest edge list labeled on the driver (16 bytes per edge there,
# plus the labeling's working arrays); longer lists run the
# distributed loop. 0 turns the driver path off.
_DRIVER_EDGES = 1 << 20


def _min_labels(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Component labels of the graph on nodes 0..n-1 with edges (u, v):
    ``lab[i]`` is the smallest node index in i's component. Each round
    hooks both endpoints of every edge, and the labels they held, to
    the edge's smaller label, then jumps pointers (lab <- lab[lab]) to
    a fixpoint. ``lab[i] <= i`` and ``lab[i]`` in i's component hold
    throughout, and labels only fall, so the loop ends with one label
    per component: its minimum."""
    n = int(max(u.max(), v.max())) + 1 if len(u) else 0
    lab = np.arange(n)
    while True:
        lu, lv = lab[u], lab[v]
        m = np.minimum(lu, lv)
        new = lab.copy()
        for hooked in (u, v, lu, lv):
            np.minimum.at(new, hooked, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _driver_components(edges: DataFrame, src: str, dst: str):
    """Label the edge list on the driver when it has at most
    ``_DRIVER_EDGES`` edges with both endpoints non-null (the edges
    the distributed join keeps). Returns None above that, else
    (ids, labels) of every endpoint as numpy arrays."""
    if _DRIVER_EDGES <= 0:
        return None
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .limit(_DRIVER_EDGES + 1)
        .toArrow()
    )
    if e.num_rows > _DRIVER_EDGES:
        return None
    ends = np.concatenate([
        e.column("u").to_numpy(zero_copy_only=False),
        e.column("v").to_numpy(zero_copy_only=False),
    ])
    ids, idx = np.unique(ends, return_inverse=True)
    return ids, ids[_min_labels(idx[: e.num_rows], idx[e.num_rows:])]


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    max_iter: int = 25,
    label_col: str = "cluster_id",
) -> DataFrame:
    """(id, cluster_id) where cluster_id is the MIN node id of the
    connected component — deterministic, so results are oracle-able.

    ``edges`` is an undirected edge list (each pair once, either
    order); edges with a null endpoint are ignored. ``nodes`` carries
    every node id (isolated nodes form singleton components labeled
    with themselves), and the components are those of the subgraph it
    induces: an edge with an endpoint outside ``nodes`` is dropped, so
    it links nothing. None means the endpoints of the edges without a
    null endpoint, each once. ``cluster_id`` has the id column's type.

    Edge lists of at most ``_DRIVER_EDGES`` (2^20) edges are labeled
    on the driver in numpy (the module docstring gives the memory
    bound): ``nodes`` left-joins a broadcast table of the non-root
    (id, label) rows, or, with ``nodes`` None, the result is that local
    table with the roots included. Longer lists run the distributed
    loop of at most ``max_iter`` rounds, which raises RuntimeError if
    it has not converged by then.
    """
    endpoints_only = nodes is None
    if endpoints_only:
        edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        nodes = (
            edges.select(F.col(src).alias(id_col))
            .unionByName(edges.select(F.col(dst).alias(id_col)))
            .distinct()
        )
    else:
        nodes = nodes.select(id_col)
        for end in (src, dst):
            edges = edges.join(
                nodes.withColumnRenamed(id_col, end), end, "left_semi"
            )
    id_field = nodes.schema[id_col]

    found = _driver_components(edges, src, dst)
    if found is not None:
        ids, lab = found
        if not endpoints_only:
            non_root = ids != lab
            ids, lab = ids[non_root], lab[non_root]
        table = edges.sparkSession.createDataFrame(
            pa.table({id_col: ids, "__lab": lab}),
            T.StructType([
                T.StructField(id_col, id_field.dataType, id_field.nullable),
                T.StructField("__lab", id_field.dataType, id_field.nullable),
            ]),
        )
        if endpoints_only:
            return table.withColumnRenamed("__lab", label_col)
        return nodes.join(F.broadcast(table), id_col, "left").select(
            id_col, F.coalesce("__lab", id_col).alias(label_col)
        )

    sym = edges.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v")
    ).unionByName(edges.select(F.col(dst).alias("__u"), F.col(src).alias("__v")))

    labels = nodes.select(
        F.col(id_col).alias("__id"), F.col(id_col).alias("__lab")
    ).localCheckpoint(eager=True)
    sym = sym.persist()

    for _ in range(max_iter):
        # 1. edge propagation: min neighbor label per node. The
        # round's previous label rides along as __prev so convergence
        # is read off the checkpointed result below — no second join.
        nbr = (
            sym.join(labels, sym["__u"] == labels["__id"])
            .select(F.col("__v").alias("__id"), "__lab")
            .groupBy("__id")
            .agg(F.min("__lab").alias("__nlab"))
        )
        prop = labels.join(nbr, "__id", "left").select(
            "__id",
            F.least("__lab", "__nlab").alias("__plab"),
            F.col("__lab").alias("__prev"),
        )
        # 2. pointer jump: label <- label's label (halves chain depth)
        as_map = prop.select(
            F.col("__id").alias("__mid"), F.col("__plab").alias("__mlab")
        )
        jumped = (
            prop.join(as_map, prop["__plab"] == as_map["__mid"], "left")
            .select(
                "__id", F.least("__plab", "__mlab").alias("__lab"), "__prev"
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("__id", "__lab")
        # convergence probe: a filter over the ALREADY-materialized
        # checkpoint partitions — no join, no shuffle, stops at the
        # first changed row
        if jumped.filter(F.col("__lab") != F.col("__prev")).isEmpty():
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} rounds"
        )
    result = labels.select(
        F.col("__id").alias(id_col), F.col("__lab").alias(label_col)
    )
    sym.unpersist()
    return result


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Fixed-point PageRank over a distributed edge list — the other
    canonical iterative graph operator next to connected components
    (no reference analog; extension surface for corpus/link analysis).

    ALL arithmetic is integer (ranks are fixed-point at ``scale``):
    per-edge contribution is ``rank div out_degree``, the damped
    update is ``base + damping_pct * sum(contribs) div 100``, and
    integer group-sums are order-insensitive — so the result is
    bit-deterministic across engines and replayable, unlike a
    floating-point PageRank whose shuffle-order double sums drift.
    Rounding mass lost to the integer divisions (and dangling-node
    leakage) is deliberately NOT redistributed; the oracle mirrors
    the exact same arithmetic.

    Scale posture: the rank table is one long per node; each
    iteration is one shuffle-join of ranks onto edges keyed by source
    plus one hash aggregate keyed by destination — the textbook
    distributed PageRank plan. The out-degree table joins ranks on
    the same key as the edge join, so AQE reuses the exchange. The
    driver-side loop only stacks `iterations` plan layers (bounded,
    small); no collect touches data.
    """
    # Validate the column contract up front: the loop introduces
    # internal __-prefixed names and rebinds `rank`, so a caller
    # passing colliding (or duplicated) names would silently
    # mis-resolve rather than error mid-plan.
    reserved = {"rank", "__to", "__in", "__c", "__outd"}
    if len({node_col, src, dst}) != 3:
        raise ValueError(
            f"node_col/src/dst must be distinct; got {node_col!r}, {src!r}, {dst!r}"
        )
    clash = {node_col, src, dst} & reserved
    if clash:
        raise ValueError(
            f"column names {sorted(clash)} collide with pagerank's internal "
            f"columns {sorted(reserved)}; rename the input columns"
        )
    n = nodes.count()  # tiny dim-table action; n is part of the formula
    if n == 0:
        raise ValueError("pagerank requires a non-empty node table")
    init = scale // n
    base = (init * 15) // 100  # (1 - d) * uniform mass, fixed-point

    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__outd"))
    edges_deg = edges.join(out_deg, src)
    ranks = nodes.select(F.col(node_col), F.lit(init).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges_deg.join(ranks, edges_deg[src] == ranks[node_col])
            .select(
                F.col(dst).alias("__to"),
                ((F.col("rank") - (F.col("rank") % F.col("__outd"))) / F.col("__outd"))
                .cast("long")
                .alias("__c"),
            )
            .groupBy("__to")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, nodes[node_col] == contrib["__to"], "left")
            .select(
                F.col(node_col),
                (
                    F.lit(base).cast("long")
                    + (
                        (
                            (damping_pct * F.coalesce(F.col("__in"), F.lit(0)))
                            - ((damping_pct * F.coalesce(F.col("__in"), F.lit(0))) % 100)
                        )
                        / 100
                    ).cast("long")
                ).alias("rank"),
            )
        )
    return ranks


def triangle_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    cc_scale: int = 1_000_000,
) -> DataFrame:
    """Global triangle census over an undirected edge list: one row
    (n_nodes, n_edges, n_wedges, n_triangles, clustering_fp) where
    clustering_fp = floor(3 * cc_scale * triangles / wedges) — the
    global clustering coefficient in exact fixed-point so the result
    is hash-comparable across engines (no double division).

    Scale design: the naive triangle join (a<b, b<c, a~c) fans every
    wedge out through its CENTER node, so one high-degree hub with
    degree d contributes d^2/2 wedge rows — quadratic blowup on skew.
    This implementation uses degree orientation (Cohen 2009 /
    Schank-Wagner): each canonical edge is oriented from its lower
    (degree, id) endpoint to the higher, every node's oriented
    out-degree is O(sqrt(m)), and the wedge join runs on oriented
    out-neighbborhoods — total wedge rows O(m^1.5) REGARDLESS of skew.
    Triangle counts are orientation-invariant, so the simple a<b<c
    SQL oracle verifies the fancy plan. Three shuffles total (degree
    count, wedge self-join, closure join); the closure join key is the
    (lo, hi) oriented pair on both sides.
    """
    u, v = F.col("__u"), F.col("__v")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("__u"),
            F.greatest(F.col(src), F.col(dst)).alias("__v"),
        )
        .where(u != v)
        .distinct()
        .transform(track_persist)
    )
    deg = (
        canon.select(u.alias("__n"))
        .unionByName(canon.select(v.alias("__n")))
        .groupBy("__n")
        .agg(F.count("*").alias("__d"))
    )
    # orient: src = endpoint with smaller (degree, id); carry the
    # destination's (degree, id) so wedge endpoints can be ordered by
    # the SAME total order without another degree join
    du = deg.select(F.col("__n").alias("__u"), F.col("__d").alias("__du"))
    dv = deg.select(F.col("__n").alias("__v"), F.col("__d").alias("__dv"))
    with_deg = canon.join(du, "__u").join(dv, "__v")
    fwd = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (u < v)
    )
    oriented = with_deg.select(
        F.when(fwd, u).otherwise(v).alias("__s"),
        F.when(fwd, v).otherwise(u).alias("__t"),
        F.when(fwd, F.col("__dv")).otherwise(F.col("__du")).alias("__td"),
    ).transform(track_persist)
    w1 = oriented.select(
        F.col("__s"), F.col("__t").alias("__x"), F.col("__td").alias("__xd")
    )
    w2 = oriented.select(
        F.col("__s"), F.col("__t").alias("__y"), F.col("__td").alias("__yd")
    )
    wedges = w1.join(w2, "__s").where(
        (F.col("__xd") < F.col("__yd"))
        | ((F.col("__xd") == F.col("__yd")) & (F.col("__x") < F.col("__y")))
    )
    closure = oriented.select(
        F.col("__s").alias("__x"), F.col("__t").alias("__y")
    )
    tri = wedges.join(closure, ["__x", "__y"]).agg(
        F.count("*").alias("n_triangles")
    )
    nn = (
        canon.select(u.alias("__n"))
        .unionByName(canon.select(v.alias("__n")))
        .agg(F.countDistinct("__n").alias("n_nodes"))
    )
    ne = canon.agg(F.count("*").alias("n_edges"))
    # d*(d-1) DIV 2 — integer division (exact at any degree; a double
    # `/` would silently round once d*(d-1) exceeds 2^53)
    nw = deg.agg(
        F.sum(F.expr("__d * (__d - CAST(1 AS BIGINT)) DIV 2")).alias("n_wedges")
    )
    out = (
        nn.crossJoin(ne)
        .crossJoin(nw)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                # integer DIV: exact even when 3*scale*triangles > 2^53
                F.expr(f"(CAST({3 * cc_scale} AS BIGINT) * n_triangles)"
                       " DIV n_wedges"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_fp"),
        )
    )
    return out


def node_jaccard(
    edges: DataFrame,
    item_col: str,
    node_col: str,
    *,
    hub_cap: int = 30,
) -> DataFrame:
    """Node-similarity by neighborhood Jaccard over a bipartite graph
    (node -> item adjacency): for every node pair sharing an item,
    |common items| / |union of items| — the classic common-neighbor
    link-prediction / entity-similarity score.

    Scale structure: candidate pairs come ONLY from a self equi-join
    on the item key — pair volume is sum(deg_item^2), so hub items
    dominate cost while contributing near-zero signal (an item
    touched by everyone says nothing about any pair). ``hub_cap``
    drops items with more than that many neighbors BEFORE pairing —
    the standard prefix/hub-pruning trade (cf. positional prefix
    filtering in similarity joins): deterministic, and both degrees
    and intersections are computed over the SAME pruned graph so the
    Jaccard stays internally consistent. At 100 TB the remaining
    skew knob is the cap itself; cost is linear in edges plus
    sum-of-squared capped degrees."""
    e = edges.select(
        F.col(item_col).alias("__item"), F.col(node_col).alias("__node")
    ).distinct()
    deg_item = e.groupBy("__item").agg(F.count("*").alias("__di"))
    # NOT broadcast: the surviving item set is unbounded (it grows with
    # the catalog), so the filter joins by shuffle on the item key —
    # the same key the pairing join shuffles on, so the exchange is
    # reused; AQE still broadcasts it when it happens to be small
    # persisted: the pruned edge table feeds FOUR branches (both sides
    # of the pairing self-join plus both degree lookups via deg_node) —
    # Catalyst does not share non-cached subtrees across join branches,
    # so without the cache the scan + distinct + degree filter join
    # re-ran once per branch (r13 plan audit: 8 input scans for one
    # query). deg_node itself feeds the da/db lookups twice.
    kept = e.join(
        deg_item.filter(F.col("__di") <= hub_cap).select("__item"),
        "__item",
    ).transform(track_persist)
    deg_node = kept.groupBy("__node").agg(
        F.count("*").alias("__dn")
    ).transform(track_persist)
    a = kept.select("__item", F.col("__node").alias("node_a"))
    b = kept.select("__item", F.col("__node").alias("node_b"))
    common = (
        a.join(b, "__item")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("common_items"))
    )
    da = deg_node.select(
        F.col("__node").alias("node_a"), F.col("__dn").alias("__da")
    )
    db = deg_node.select(
        F.col("__node").alias("node_b"), F.col("__dn").alias("__db")
    )
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            F.col("common_items").cast("long").alias("common_items"),
            (
                F.col("common_items")
                / (F.col("__da") + F.col("__db") - F.col("common_items"))
            ).alias("jaccard"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    source: int,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 3,
    canonical: bool = False,
    plan_probe: list | None = None,
) -> DataFrame:
    """Single-source shortest hop-distances by frontier BFS, bounded
    at ``max_hops`` (node, dist).

    ``plan_probe``, when given a list, receives each hop's executed
    physical-plan string BEFORE the localCheckpoint erases it into an
    ExistingRDD scan — the returned union's plan shows no joins at
    all, so the broadcast contract is only assertable on these
    per-hop plans (tests/test_plans.py does exactly that).

    Each round is one equi-join of the CURRENT frontier (new nodes
    only) against the edge table plus an anti-join against the
    settled set — the standard distributed BFS: work per round is
    proportional to the frontier's out-edges, never the whole graph,
    and the settled set only grows by genuinely new nodes so the
    anti-join input is bounded by |V|. Rounds localCheckpoint like
    pagerank/connected_components to keep lineage flat. Bounded-hop
    BFS is the scalable form (k-hop neighborhoods for GNN sampling /
    blast-radius queries); full-graph diameter scans don't survive
    100 TB and aren't offered.

    ``canonical=True`` declares the input distinct with each
    UNDIRECTED edge present once as (u < v) — the cheap edge-build
    form, and the one kcore_peel takes. Only the |E| canonical rows
    are persisted; the traversal probes a narrow union-flip view (both
    directions, zero extra shuffle, zero extra cache) — half the materialized
    bytes of persisting a pre-symmetrized 2|E| table (measured at
    sf1: edge build + persist 15.3s symmetrized vs 6.3s canonical).

    Both the frontier-edge join and the settled-set anti-join
    broadcast the node-sided table EXPLICITLY: frontier and settled
    set are bounded by |V|, and past the planner's ~10 MB auto
    threshold both would silently flip to full-edge-list
    SortMergeJoins (the same cliff kcore_peel hit at sf10)."""
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(source, 0)], T.StructType([
            T.StructField("node", T.LongType()),
            T.StructField("dist", T.IntegerType()),
        ])
    )
    frontier = dist
    # the edge list is consumed once PER ROUND — persist it, or an
    # expensive upstream pipeline (e.g. the order-co-occurrence
    # self-join) re-executes max_hops times (measured 3x wall at sf0.1)
    base = edges.select(
        F.col(src_col).cast("long").alias("__s"),
        F.col(dst_col).cast("long").alias("__d"),
    ).persist()
    if canonical:
        # narrow flip over the SAME cached partitions: canonical
        # distinctness implies both-directions distinctness, so no
        # re-distinct and no second materialization
        e = base.unionByName(
            base.select(
                F.col("__d").alias("__s"), F.col("__s").alias("__d")
            )
        )
    else:
        e = base
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(F.broadcast(frontier), frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(F.broadcast(dist.select("node")), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        if plan_probe is not None:
            plan_probe.append(
                nxt._jdf.queryExecution().executedPlan().toString()
            )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    base.unpersist()
    return dist


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), deterministic variant: labels start as node ids; each
    round every node adopts the most frequent label among its
    neighbors, ties broken by the smallest label. Fixed ``n_iter``
    synchronous rounds (deterministic and SQL-reproducible, unlike
    the async/random-order original). Returns (node, community).

    Each round is one equi-join (edges x labels, carrying only
    (node, label) longs) + one count aggregate + one row_number over
    (node) — two shuffles on node keys, partial-aggregated, skew
    limited by max degree; rounds localCheckpoint to keep lineage
    flat, exactly like pagerank/connected_components. The node set
    derives from the symmetrized edge list, so every edge endpoint is
    labeled (the final left join covers nodes whose neighbors all
    vanish from a round's votes); entirely edge-LESS nodes are not in
    scope — union them in as singleton communities downstream, as
    connected_components does with its explicit node table."""
    e = edges.select(
        F.col(src_col).cast("long").alias("__a"),
        F.col(dst_col).cast("long").alias("__b"),
    )
    # sym feeds every round's vote join and nodes — persist, or the
    # upstream edge pipeline (e.g. the full node_jaccard candidate
    # join) re-executes once per round (measured 3.6x at the sf1 soak)
    sym = e.unionByName(
        e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    ).distinct().persist()
    nodes = sym.select(F.col("__a").alias("node")).distinct().persist()
    labels = nodes.select("node", F.col("node").alias("label"))
    from pyspark.sql import Window

    for _ in range(n_iter):
        votes = (
            sym.join(labels, sym["__b"] == labels["node"])
            .groupBy(F.col("__a").alias("n"), "label")
            .agg(F.count("*").alias("__c"))
        )
        w = Window.partitionBy("n").orderBy(
            F.col("__c").desc(), F.col("label").asc()
        )
        new = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("n").alias("node"), "label")
        )
        labels = (
            nodes.join(new, "node", "left")
            .select("node", F.coalesce("label", "node").alias("label"))
            .localCheckpoint(eager=True)
        )
    # safe to unpersist: each round's labels table was eagerly
    # localCheckpoint'ed, so the returned plan no longer references
    # the cached inputs
    out = labels.select("node", F.col("label").alias("community"))
    sym.unpersist()
    nodes.unpersist()
    return out


def kcore_peel(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Bounded-round k-core peeling: each round drops every node whose
    degree in the CURRENT surviving subgraph is below ``k``, plus the
    edges touching it. Returns (node, degree) over the subgraph after
    ``rounds`` rounds.

    The full k-core iterates to fixpoint (up to degeneracy-many
    rounds, unbounded in general); the bounded form is the scalable
    building block — the same posture as bounded-hop BFS — with the
    round count explicit in the result's semantics, and in practice
    the cascade settles in a few rounds on real graphs. Cohesion
    pruning of this shape is the web-graph/citation-graph quality
    filter (drop weakly-connected periphery before expensive
    analysis).

    Input shape: each undirected edge ONCE as (u < v); rows with
    ``u >= v`` are dropped. The peel carries |E| rows instead of 2|E|
    through every scan and semi-join probe, and degrees come from an
    endpoint explode (``explode(array(u, v))``) into one
    map-side-combined aggregate, never materializing the second edge
    direction (measured at sf0.1: 2x faster cold than peeling a
    symmetrized both-directions edge list, same output).

    PRECONDITION: the input must be DISTINCT. The peel does not
    re-distinct, so duplicate edge rows silently inflate degrees and
    change which nodes survive peeling.

    Scale shape: ZERO edge writebacks. Surviving-node sets are nested
    (keep_r ⊆ keep_{r-1}), so round r's edge set is the ONE cached
    base filtered by the latest keep alone — each round costs one
    scan of the cached edges through two broadcast semi-join probes
    plus one map-side-combined degree aggregate, and only the tiny
    node-bounded keep set is ever materialized. Lineage stays flat
    because every round's plan hangs off the base checkpoint and one
    checkpointed keep, never off the previous round's plan."""
    base = (
        edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
        .where(F.col("__u") < F.col("__v"))
        .localCheckpoint(eager=True)
    )

    def _filtered(keep_nodes: DataFrame | None) -> DataFrame:
        """base with both endpoints in keep_nodes — the ENTIRE
        round-r surviving edge set, filtered by the LATEST keep
        alone. Valid because surviving-node sets are NESTED:
        deg only shrinks as edges are removed, so
        n in keep_r => deg_r(n) >= k => deg_{r-1}(n) >= k
        => n in keep_{r-1}; by induction
        E_r = E_0 ∩ (keep_{r-1} × keep_{r-1}) with every earlier
        keep-filter subsumed. That makes the peel ZERO-writeback:
        no round ever materializes an edge list — each round is
        one scan of the cached base through two broadcast hash
        probes + one map-side-combined degree aggregate.
        (The r7 form eagerly localCheckpoint'ed the filtered
        edges every round: 72s of the 273s sf10 wall was a single
        checkpoint write of 119M surviving rows.)"""
        if keep_nodes is None:
            return base
        # EXPLICIT broadcast: keep is bounded by |V| (a few MB
        # per million nodes), but past ~10 MB the planner's
        # auto-broadcast gives up and both semi-joins flip to
        # SortMergeJoin, shuffling+sorting the FULL edge list
        # twice per round — measured as the r7 sf10 cliff (the
        # 2M-node keep set = ~16 MB > threshold). Pinning the
        # broadcast keeps every round's filter a narrow probe at
        # any graph size whose node set fits an executor (the
        # k-core regime).
        return base.join(
            F.broadcast(keep_nodes.select(F.col("__n").alias("__u"))),
            "__u",
            "left_semi",
        ).join(
            F.broadcast(keep_nodes.select(F.col("__n").alias("__v"))),
            "__v",
            "left_semi",
        )

    keep: DataFrame | None = None
    for _ in range(rounds):
        deg = (
            _filtered(keep)
            .select(F.explode(F.array("__u", "__v")).alias("__n"))
            .groupBy("__n")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        # keep is consumed by BOTH semi-joins of the next round's
        # filter (and the round after reads it transitively), so
        # materialize it — it is node-bounded and tiny next to
        # the edges
        keep = (
            deg.filter(F.col("__d") >= k)
            .select("__n")
            .localCheckpoint(eager=True)
        )
    return (
        _filtered(keep)
        .select(F.explode(F.array("__u", "__v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
