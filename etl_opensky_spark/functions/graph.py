"""Iterative graph algorithms on edge DataFrames: PageRank.

PageRank is the link-graph quality weighting a training-data pipeline
uses (a la Common Crawl harmonic/PageRank centrality for source
selection).

Spark-first shape (per iteration):

- ``ranks ⋈ edges`` on ``src`` — an equi-join that AQE broadcasts
  while ranks fit and shuffle-partitions on the same key across
  iterations otherwise;
- ``groupBy(dst).sum`` with map-side partial aggregation — the moved
  bytes per iteration are one long per (reducer, dst), not the edges;
- a left join back onto the node set so dangling/unreferenced nodes
  keep receiving the teleport mass.

Nothing iterates on the driver: per round the driver launches one job;
all data stays distributed.  The edge list and node set are
``localCheckpoint``-ed once so each round re-reads materialized rows
instead of growing a nested lineage (same pattern as k-means /
star-contraction).

Determinism (what makes an iterative algorithm oracle-checkable —
same trick as ``functions.clustering``): ranks live in integer
pico-units (SCALE = 1e12) and every update is integer floor
arithmetic — ``rank div outdeg``, ``(d_num * contrib) div d_den`` —
so any engine that can floor-divide integers reproduces bit-identical
ranks round over round, and a DuckDB oracle can unroll the recursion.

``connected_components`` labels each node with its component's minimum
id: driver-side union-find below ``SMALL_GRAPH_EDGES`` edges, distributed
star contraction (``_star_contract``) above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ranks are integers in units of 1e-12 of total probability mass
SCALE = 1_000_000_000_000

#: below this edge count, connected components solves on the driver
#: (union-find) instead of paying per-round distributed scheduling
SMALL_GRAPH_EDGES = 1_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """``n_iter`` synchronous (weighted) PageRank rounds over an edge
    list with at most one row per (src, dst).

    Returns one row per node: ``(node, rank)`` with ``rank`` in
    1e-12 units.  Initial rank is ``SCALE div n`` for every node;
    each round::

        contrib(u→v) = (rank(u) * w(u,v)) div totw(u)
        rank'(v)     = teleport + (d_num * Σ contrib) div d_den
        teleport     = ((d_den - d_num) * SCALE div d_den) div n

    ``weight=None`` means w ≡ 1 (classic PageRank).  Integer weights
    must keep ``max_weight * SCALE < 2^63`` (i.e. per-edge weight
    < ~9.2e6) — plenty for transition counts; renormalize heavier
    weights upstream.  Weights must also be NON-NEGATIVE and non-null
    (enforced at execution): Spark's integer ``div`` truncates toward
    zero while DuckDB/Python floor, so a negative weight would silently
    desync this implementation from the oracle — determinism is the
    module's core contract, so a bad weight raises instead.  Mass lost
    to floor truncation and dangling nodes is dropped (the standard
    simplification) — identically on every engine, so results still
    hash-match.  ``n`` (node count) is the one driver scalar.
    """
    if weight is not None:
        raw_w = F.col(weight).cast("long")
        # inline guard (no extra job): negative or null weight -> error.
        # Riding on the weight expression itself means column pruning can
        # never drop the check while the weight is in use.
        w = F.when(raw_w >= 0, raw_w).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pagerank: weight column '{weight}' must be "
                        "non-negative and non-null, got "
                    ),
                    F.coalesce(raw_w.cast("string"), F.lit("NULL")),
                )
            ).cast("long")
        )
    else:
        w = F.lit(1).cast("long")
    e = (
        edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
        )
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    teleport = ((damping_den - damping_num) * SCALE // damping_den) // n

    totw = e.groupBy("_src").agg(F.sum("_w").alias("_totw"))
    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("rank"))
    for _ in range(n_iter):
        contribs = (
            e.join(ranks, e["_src"] == ranks["node"])
            .join(totw, "_src")
            .select(
                F.col("_dst").alias("node"),
                F.expr("(rank * _w) div _totw").alias("_c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(
                    f"({damping_num} * coalesce(_s, 0L)) div {damping_den}"
                )
            )
            .cast("long")
            .alias("rank"),
        )
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """Unrolled ANSI-SQL mirror of :func:`pagerank` for the DuckDB
    oracle: ``edges_cte`` must define ``edges(src, dst, w)`` with at
    most one row per (src, dst) — pass ``1 AS w`` for the unweighted
    case.  Every op is the same integer floor arithmetic, so the
    values hash-match the Spark recursion exactly."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "totw AS (SELECT src, SUM(w) AS totw FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {SCALE} // (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    teleport = (
        f"(({damping_den - damping_num} * {SCALE}) // {damping_den})"
        " // (SELECT n FROM nn)"
    )
    for i in range(1, n_iter + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS node, SUM((r.rank * e.w) // o.totw) AS s"
            f" FROM edges e JOIN r{i - 1} r ON e.src = r.node"
            " JOIN totw o ON e.src = o.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, {teleport}"
            f" + ({damping_num} * COALESCE(s{i}.s, 0)) // {damping_den} AS rank"
            f" FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{n_iter}"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count of the undirected simple graph, degree-ordered.

    The classic scalable formulation (node-iterator with degree
    orientation): orient every undirected edge from the (degree, node)-
    smaller endpoint to the larger, so each node's OUT-degree is
    O(sqrt(m)) on any graph — the wedge join below then generates
    sum-over-nodes C(outdeg, 2) candidate wedges instead of C(deg, 2),
    which is what keeps hub nodes from exploding the join at 100×
    (a hub of degree d contributes ~0 wedges as the wedge CENTER
    because almost all its edges point INTO it).

    Three equi-joins, no windows, no driver loops:
      1. canonicalize + distinct (one shuffle),
      2. degree table (one shuffle on node),
      3. wedges ``o(a,b) ⋈ o(a,c)`` on the center node,
      4. close the wedge with a SEMI join against oriented edges (b,c).

    Returns a 1-row frame: ``n_nodes, n_edges, n_triangles`` (the count
    is orientation-invariant, so an oracle may count with any total
    order and must agree).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("deg").alias("deg_u")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("deg").alias("deg_v")
    )
    ed = e.join(du, "u").join(dv, "v")
    # orient a -> b by the (degree, node) total order
    a_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(a_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias(
            "deg_b"
        ),
    )
    o1 = oriented.select("a", F.col("b").alias("b1"), F.col("deg_b").alias("d1"))
    o2 = oriented.select("a", F.col("b").alias("b2"), F.col("deg_b").alias("d2"))
    wedges = o1.join(o2, "a").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("b1") < F.col("b2")))
    )
    closed = wedges.join(
        oriented.select(
            F.col("a").alias("b1"), F.col("b").alias("b2")
        ),
        ["b1", "b2"],
        "left_semi",
    )
    n_tri = closed.agg(F.count("*").alias("n_triangles"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def label_spread(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    n_rounds: int = 3,
) -> DataFrame:
    """Deterministic semi-supervised label spreading: after ``n_rounds``
    synchronous rounds every node carries the MINIMUM seed label
    reachable within ``n_rounds`` undirected hops (unreached nodes are
    absent).  The min-adoption rule replaces classic LPA's random
    tie-breaking — the weak-supervision propagation step made
    engine-exact and partitioning-invariant.

    Scale shape per round: ONE equi-join of the current frontier label
    table to the (symmetrized) edge list + ONE map-side-combined
    groupBy-min — the same key-partitioned pattern as connected
    components' small-star step, bounded to ``n_rounds`` rounds.
    Lineage is ``localCheckpoint``-ed each round (the iterative-plan
    OOM lesson, docs/SCALE.md).  Label tables hold one row per REACHED
    node — at 100 TB the frontier is as sparse as the seed set's
    k-hop neighborhood, never corpus-sized.
    """
    sym = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).union(
        edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
    ).distinct()

    labels = seeds.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    ).groupBy("_n").agg(F.min("_l").alias("_l")).localCheckpoint()

    for _ in range(n_rounds):
        spread = labels.join(
            sym, labels["_n"] == sym["_s"], "inner"
        ).select(F.col("_d").alias("_n"), "_l")
        labels = (
            labels.union(spread)
            .groupBy("_n")
            .agg(F.min("_l").alias("_l"))
            .localCheckpoint()
        )
    return labels.select(
        F.col("_n").alias(node_col), F.col("_l").alias(label_col)
    )


def label_spread_oracle_sql(
    edges_cte: str, seeds_cte: str, n_rounds: int = 3
) -> str:
    """Unrolled ANSI-SQL replay of ``label_spread`` (the q98/q88
    unrolled-recursion oracle pattern): ``edges_cte``/``seeds_cte`` are
    SQL bodies producing (src, dst) and (node, label).  Chained CTEs
    are left un-MATERIALIZED deliberately — each is referenced once
    (re-expanding a CTE referenced from several stages does not apply)."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "sym AS (SELECT src AS s, dst AS d FROM edges"
        " UNION SELECT dst AS s, src AS d FROM edges)",
        f"l0 AS (SELECT node AS n, MIN(label) AS l FROM ({seeds_cte}) s"
        " GROUP BY 1)",
    ]
    for r in range(n_rounds):
        parts.append(
            f"l{r + 1} AS (SELECT n, MIN(l) AS l FROM ("
            f"SELECT n, l FROM l{r} UNION ALL "
            f"SELECT sym.d AS n, l{r}.l FROM l{r} JOIN sym ON sym.s = l{r}.n"
            f") GROUP BY 1)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT n AS node, l AS label FROM l{n_rounds}"
    )


def shortest_paths(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_rounds: int = 4,
) -> DataFrame:
    """Single-source shortest paths: ``n_rounds`` of distributed
    Bellman-Ford relaxation over an edge list (directed; ``weight=None``
    means hop count, i.e. BFS levels).

    Returns ``(node, dist)`` for every node reachable within
    ``n_rounds`` hops, with ``dist`` the exact integer minimum path
    weight.  Spark-first shape (same as :func:`pagerank`): each round
    is ONE equi-join of the current tentative-distance table with the
    localCheckpoint-ed edge list on the source endpoint plus a
    map-side-combined ``min`` aggregation — the shuffle moves one long
    per (reducer, node), never the edges, and nothing iterates on the
    driver.  The distance table is localCheckpoint-ed per round so
    lineage stays flat (k-means / star-contraction pattern).

    Weights must be non-negative non-null integers (enforced inline on
    the weight expression, like :func:`pagerank`): pure integer add/min
    arithmetic means any engine reproduces bit-identical distances, so
    a DuckDB oracle can unroll the recursion
    (:func:`shortest_paths_oracle_sql`).

    At 100 TB: rounds are bounded by the graph diameter of interest;
    each round's join keys on the relaxation frontier which AQE
    broadcasts while small.  For huge frontiers this is textbook
    in-core Bellman-Ford — one shuffle per round, state = one row per
    reached node, never per path.
    """
    if weight is not None:
        raw_w = F.col(weight).cast("long")
        w = F.when(raw_w >= 0, raw_w).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"shortest_paths: weight column '{weight}' must "
                        "be non-negative and non-null, got "
                    ),
                    F.coalesce(raw_w.cast("string"), F.lit("NULL")),
                )
            ).cast("long")
        )
    else:
        w = F.lit(1).cast("long")
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    ).localCheckpoint()
    # one-row seed frame, typed from the edge schema so the per-round
    # join never needs an implicit cast
    dist = edges.sparkSession.range(1).select(
        F.lit(source).cast(e.schema["_src"].dataType).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(n_rounds):
        relaxed = e.join(dist, e["_src"] == dist["node"]).select(
            F.col("_dst").alias("node"),
            (F.col("dist") + F.col("_w")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def shortest_paths_oracle_sql(
    edges_cte: str, source_sql: str, n_rounds: int = 4
) -> str:
    """Unrolled ANSI-SQL replay of :func:`shortest_paths` (the
    q98/q88 unrolled-recursion oracle pattern): ``edges_cte`` must
    produce ``(src, dst, w)``; ``source_sql`` is a scalar SQL
    expression for the source node value."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        f"d0 AS (SELECT {source_sql} AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for r in range(n_rounds):
        parts.append(
            f"d{r + 1} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{r} UNION ALL "
            f"SELECT e.dst AS node, d{r}.dist + e.w AS dist"
            f" FROM d{r} JOIN edges e ON e.src = d{r}.node"
            f") GROUP BY node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d{n_rounds}"
    )


def temporal_reachability(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
    start_ts: int = 0,
    n_rounds: int = 4,
) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability: a node is reached
    only through edges whose timestamp is AT OR AFTER the arrival time
    at their source — the temporal-graph semantics (information/contagion
    flow) where static reachability (:func:`shortest_paths`) over-counts
    paths that go "back in time".

    ``edges`` carries one row per TIMED edge (parallel edges expected);
    ``ts`` is an integer time (epoch seconds).  Per round: one equi-join
    of the arrival table with the localCheckpoint-ed edge list on the
    source endpoint, a time-respecting filter ``e.ts >= arrival(v)``,
    and a map-side-combined ``min`` — the same one-shuffle-per-round
    shape as :func:`shortest_paths`, state = one row per reached node.
    Pure integer min arithmetic → unrolled SQL replay
    (:func:`temporal_reachability_oracle_sql`).

    Returns ``(node, arrival)`` for nodes reachable within
    ``n_rounds`` hops; the source has ``arrival = start_ts``.
    """
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(ts).cast("long").alias("_ts"),
    ).localCheckpoint()
    arr = edges.sparkSession.range(1).select(
        F.lit(source).cast(e.schema["_src"].dataType).alias("node"),
        F.lit(start_ts).cast("long").alias("arrival"),
    )
    for _ in range(n_rounds):
        relaxed = (
            e.join(arr, e["_src"] == arr["node"])
            .filter(F.col("_ts") >= F.col("arrival"))
            .select(F.col("_dst").alias("node"), F.col("_ts").alias("arrival"))
        )
        arr = (
            arr.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint()
        )
    return arr


def temporal_reachability_oracle_sql(
    edges_cte: str, source_sql: str, start_ts: int = 0, n_rounds: int = 4
) -> str:
    """Unrolled ANSI-SQL replay of :func:`temporal_reachability`:
    ``edges_cte`` must produce ``(src, dst, ts)``."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        f"a0 AS (SELECT {source_sql} AS node,"
        f" CAST({start_ts} AS BIGINT) AS arrival)",
    ]
    for r in range(n_rounds):
        parts.append(
            f"a{r + 1} AS (SELECT node, MIN(arrival) AS arrival FROM ("
            f"SELECT node, arrival FROM a{r} UNION ALL "
            f"SELECT e.dst AS node, CAST(e.ts AS BIGINT) AS arrival"
            f" FROM a{r} JOIN edges e ON e.src = a{r}.node"
            f" AND e.ts >= a{r}.arrival"
            f") GROUP BY node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(arrival AS BIGINT) AS arrival FROM a{n_rounds}"
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling on the undirected simple graph: repeatedly delete
    nodes of degree < k (``rounds`` synchronous peels) — the standard
    "dense substructure" filter (spam/bot rings, tightly-coupled
    supplier-part clusters, community nuclei).

    Each round is two bounded passes — a degree aggregate over the
    current edge set and two SEMI joins to drop edges touching peeled
    nodes — so one round costs two shuffles regardless of graph size;
    ``localCheckpoint`` cuts lineage per round (the iterative-loop
    Catalyst-OOM lesson).  A FIXED round count keeps the operator
    deterministic and oracle-replayable (unrolled CTEs); callers
    wanting the fixpoint iterate until the edge count stops moving
    (O(peel-depth) rounds, bounded by max degeneracy).

    Returns the surviving nodes with their degree in the peeled graph:
    ``(node, deg)`` after ``rounds`` peels — degrees may still dip
    below k if the fixpoint wasn't reached yet.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _deg(es: DataFrame) -> DataFrame:
        return (
            es.select(F.col("u").alias("node"))
            .unionAll(es.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    for _ in range(rounds):
        alive = _deg(e).filter(F.col("deg") >= k).select("node")
        e = (
            e.join(
                alive.select(F.col("node").alias("u")), "u", "left_semi"
            )
            .join(
                alive.select(F.col("node").alias("v")), "v", "left_semi"
            )
            .localCheckpoint()
        )
    return _deg(e)


def k_core_oracle_sql(
    edges_sql: str, k_expr: str, rounds: int
) -> str:
    """Unrolled-CTE replay of ``k_core`` for a DuckDB oracle:
    ``edges_sql`` must yield columns (u, v) already canonicalized
    (u < v, distinct); ``k_expr`` is a scalar SQL expression for k."""
    parts = [f"e0 AS ({edges_sql})", f"kk AS (SELECT ({k_expr}) AS k)"]
    for r in range(rounds):
        parts.append(
            f"d{r} AS (SELECT node, COUNT(*) AS deg FROM ("
            f"SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}"
            f") GROUP BY node)"
        )
        parts.append(
            f"a{r} AS (SELECT node FROM d{r}, kk WHERE deg >= kk.k)"
        )
        parts.append(
            f"e{r + 1} AS (SELECT e.u, e.v FROM e{r} e "
            f"WHERE e.u IN (SELECT node FROM a{r}) "
            f"AND e.v IN (SELECT node FROM a{r}))"
        )
    n = rounds
    return (
        "WITH " + ",\n".join(parts) + f"\n"
        f"SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM ("
        f"SELECT u AS node FROM e{n} UNION ALL SELECT v FROM e{n}"
        f") GROUP BY node"
    )


def _union_find():
    """Driver-side union-find with path compression: returns (parent, find)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    return parent, find


def _edge_signature(edges: DataFrame) -> tuple:
    """Order-independent (count, hash-sum) signature of an edge set —
    one scalar row per check, used to detect the star-contraction
    fixpoint without materializing a set comparison."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _star_contract(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond'): converges to a star
    forest — every node pointing at its component's MINIMUM id — in
    O(log n) rounds, unlike one-hop min-label propagation's O(diameter).

    Input: undirected edge list (src, dst).  Output: (src=node,
    dst=root) with root < node for every non-root node in the graph.

    large-star: each node u connects its LARGER neighbors to
    min(Γ(u) ∪ u); small-star: each node u (edges oriented big→small)
    connects its smaller neighbors and itself to that minimum.  Each
    half-round is one groupBy + one join on the node id; every emitted
    edge keeps src > dst, so the orientation invariant is maintained
    without re-sorting.

    Each round is materialized via ``localCheckpoint`` — iterative plans
    that merely ``persist`` nest the previous round's cached plan inside
    the next round's tree, and after a handful of rounds Catalyst's plan
    bookkeeping (not the data) blows the driver heap.  Checkpointing
    truncates the lineage to the round's output RDD.  (localCheckpoint
    trades executor-loss recovery for speed; this is the same choice
    GraphFrames makes for its iterative algorithms.)
    """
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    sig = _edge_signature(cur)
    for _ in range(max_iterations):
        # large star: for v in Γ(u), v > u  ->  (v, min(Γ(u) ∪ u))
        bi = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr_min = (
            bi.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("_mn", F.col("src")).alias("_m"))
        )
        large = (
            bi.join(nbr_min, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small star on the (big, small)-oriented result:
        # (v, min) for v in Γ≤(u), plus (u, min)
        nbr_min2 = large.groupBy("src").agg(F.min("dst").alias("_m"))
        small = (
            large.join(nbr_min2, "src")
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .unionByName(
                nbr_min2.select("src", F.col("_m").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _edge_signature(small)
        cur = small
        if new_sig == sig:
            return cur
        sig = new_sig
    raise RuntimeError(
        f"star contraction did not converge within {max_iterations} "
        "rounds — with O(log n) convergence this indicates a graph far "
        "beyond the round budget; raise max_iterations"
    )


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) — connected components over an undirected pair
    list; the component label is the component's minimum id.

    Hybrid execution: below ``SMALL_GRAPH_EDGES`` the edge list is
    collected and solved with driver-side union-find (a few hundred
    near-dup pairs do not deserve N Spark rounds of scheduling overhead);
    above it, distributed alternating star contraction
    (``_star_contract``) — O(log n) rounds of groupBy+join on the node
    id, intermediate edge sets persisted per round to cut lineage
    growth.  Raises if the round budget is exhausted before the
    fixpoint (never silently splits a component).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    if edges.count() <= SMALL_GRAPH_EDGES:
        parent, find = _union_find()
        touched = set()
        for row in edges.collect():
            touched.add(row["src"])
            touched.add(row["dst"])
            ra, rb = find(row["src"]), find(row["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        edges.unpersist()
        # only edge-touched nodes need a mapping; everyone else is a
        # singleton — ids stays distributed (it may be the whole corpus)
        spark = ids.sparkSession
        id_type = dict(ids.dtypes)[id_col]
        mapping = spark.createDataFrame(
            [(n, find(n)) for n in sorted(touched)],
            f"{id_col} {id_type}, _mapped {id_type}",
        )
        return ids.join(F.broadcast(mapping), on=id_col, how="left").select(
            F.col(id_col),
            F.coalesce("_mapped", id_col).alias("component"),
        )
    # star contraction leaves one (node, root) edge per non-root node;
    # everything absent from the mapping is a singleton or its own root
    stars = _star_contract(edges, max_iterations)
    mapping = stars.groupBy("src").agg(F.min("dst").alias("_root"))
    out = ids.join(
        mapping, ids[id_col] == mapping["src"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_root"), F.col(id_col)).alias("component"),
    )
    edges.unpersist()
    # the final star edge set is a localCheckpoint: node-count bounded
    # (two longs per non-root node) and GC'd once the result is dropped
    return out
