"""Iterative graph analytics over relational edge tables — the second
iterative family next to ``dedup.connected_components`` (no reference
analogue; extension surface for behavioral/link analysis on the same
tables the pipeline already owns).

``pagerank`` runs a FIXED number of synchronous power iterations so the
result is a pure deterministic function of the edge table — which is
what makes it oracle-checkable (DuckDB replays the same iterations in a
recursive CTE) and replay-safe in production (re-running a round on a
retried partition converges to identical ranks).

Two physical strategies for the SAME recurrence, picked by graph size
(the AQE philosophy applied to an iterative operator):

* **small graphs** (node set fits one partition, edge list broadcasts):
  every round references the previous rank frame exactly ONCE — spine
  rows, edge contributions, and the dangling-mass row are all emitted
  from a single struct-array explode over one left join (the round-3
  explode-not-union lesson), and the global dangling mass is read back
  with a whole-partition window. With single references there is no
  cross-branch recomputation, so NO per-round checkpoint is needed: all
  ``iterations`` rounds collapse into one linear Catalyst plan executed
  under the caller's single action — no per-round driver round-trips,
  which is where a small graph's wall-clock actually goes (measured
  3.2 s -> 1.8 s for the 25-node trade graph at sf0.1).

* **large graphs**: per round, one equi-join of the rank vector against
  the (pre-partitioned) transition list on src, one grouped sum on dst
  (map-side combined), and the dangling mass as a broadcast one-row
  aggregate — never a whole-graph window, which would single-partition
  a billion rows. State between rounds is one (node, rank) row per
  node; lineage is truncated per round with ``localCheckpoint`` exactly
  as connected_components does, because the rank frame is referenced by
  multiple subtrees (contribution join + dangling aggregate) and
  without the checkpoint round N's plan re-executes N join trees.

Dangling nodes (no out-edges) are tagged once at setup (``is_dang``
column carried on the rank rows); their mass redistributes uniformly
each round, keeping total rank mass at exactly 1.0 like the canonical
formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["pagerank"]

# Above these sizes the single-partition window / per-round edge
# broadcast of the small-graph path stop being free; fall back to the
# partitioned + checkpointed loop. ~100k nodes per partition keeps rank
# rows cache-resident per task; a billion-node graph gets 10k-way
# parallelism on the large path.
_SMALL_NODES = 100_000
_SMALL_EDGES = 1_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution.

    ``edges`` rows are (src, dst[, weight]); parallel edges are allowed
    (their weights add). Returns (node, rank) over every node appearing
    as src or dst, with ranks summing to 1.0 (up to float noise).

    Transition probability src->dst = weight / total out-weight of src.
    Each round: rank_next(d) = (1-a)/N + a * (sum of incoming
    rank*P(s,d) + dangling_mass/N), the standard stochastic-matrix
    formulation, run for exactly ``iterations`` rounds. Both physical
    paths (see module docstring) compute this identical recurrence.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    # collapse parallel edges, compute per-src transition probabilities.
    # Checkpoint the collapsed edge frame FIRST: out/trans/nodes all
    # derive from it, and without this the caller's upstream edge DAG
    # (a 5-table join for the trade graph) executes once per reference.
    e = e.groupBy("src", "dst").agg(F.sum("w").alias("w")).localCheckpoint(eager=True)
    out = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = e.join(out, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    # dangling nodes are TAGGED at setup (is_dang column carried on the
    # rank rows) rather than kept as a separate frame: the dangling mass
    # is then a filter+sum over rank rows — no per-round join against a
    # dangling table on either path.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            out.select(F.col("src").alias("node"), F.lit(False).alias("is_dang")),
            "node",
            "left",
        )
        .select("node", F.coalesce("is_dang", F.lit(True)).alias("is_dang"))
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if not n_nodes:  # no edges: a typed empty result
        return nodes.select("node", F.lit(0.0).alias("rank"))
    n_edges = e.count()
    base = (1.0 - damping) / n_nodes

    if n_nodes <= _SMALL_NODES and n_edges <= _SMALL_EDGES:
        ranks = _iterate_small(nodes, trans, n_nodes, base, damping, iterations)
    else:
        ranks = _iterate_large(nodes, trans, n_nodes, base, damping, iterations)
    return ranks.select("node", "rank")


def _iterate_small(
    nodes: DataFrame,
    trans: DataFrame,
    n_nodes: int,
    base: float,
    damping: float,
    iterations: int,
) -> DataFrame:
    """One linear plan, zero per-round driver actions (module docstring)."""
    trans = trans.localCheckpoint(eager=True)
    ranks = nodes.select("node", "is_dang", F.lit(1.0 / n_nodes).alias("rank"))
    wall = Window.partitionBy()
    for _ in range(iterations):
        j = ranks.join(F.broadcast(trans), ranks.node == trans.src, "left")
        # one struct per role, all from the SAME joined row — spine
        # (guarantees every node survives, carries its is_dang), edge
        # contribution (rank*p to dst), or dangling mass (rank to the
        # NULL sentinel target when the node has no out-edges)
        pairs = F.array(
            F.struct(
                F.col("node").alias("t"),
                F.lit(0.0).alias("c"),
                F.col("is_dang").alias("d"),
            ),
            F.struct(
                F.col("dst").alias("t"),
                F.when(
                    F.col("dst").isNotNull(), F.col("rank") * F.col("p")
                )
                .otherwise(F.col("rank"))
                .alias("c"),
                F.lit(False).alias("d"),
            ),
        )
        agg = (
            j.select(F.explode(pairs).alias("x"))
            .select("x.t", "x.c", "x.d")
            .groupBy("t")
            .agg(F.sum("c").alias("s"), F.max("d").alias("dang"))
        )
        # the NULL-target group is the dangling mass; whole-partition
        # window is safe here by the small-path size gate
        dmass = F.coalesce(
            F.max(F.when(F.col("t").isNull(), F.col("s"))).over(wall), F.lit(0.0)
        )
        ranks = (
            agg.withColumn("dm", dmass)
            .where(F.col("t").isNotNull())
            .select(
                F.col("t").alias("node"),
                F.col("dang").alias("is_dang"),
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.col("s") + F.col("dm") / F.lit(float(n_nodes)))
                ).alias("rank"),
            )
        )
    return ranks


def _iterate_large(
    nodes: DataFrame,
    trans: DataFrame,
    n_nodes: int,
    base: float,
    damping: float,
    iterations: int,
) -> DataFrame:
    """Partitioned + per-round-checkpointed loop (module docstring)."""
    n_part = max(1, -(-n_nodes // _SMALL_NODES))
    nodes = nodes.repartition(n_part, "node").localCheckpoint(eager=True)
    trans = trans.repartition(n_part, "src").localCheckpoint(eager=True)
    ranks = nodes.select("node", "is_dang", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(iterations):
        # dangling mass as a broadcast one-row frame, not a .first():
        # no extra driver-side step per iteration. The filter reads the
        # previous round's checkpointed frame, so the broadcast subtree
        # is a scan+agg, not a join.
        dang = ranks.where("is_dang").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            trans.join(ranks, trans.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("in_rank"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "is_dang",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_rank"), F.lit(0.0))
                        + F.col("dmass") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def mutual_knn_degrees(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Mutual-kNN graph density: build the exact top-``k`` neighbor list
    of every vector (symmetric int8 cosine — exact integer arithmetic,
    so ranks are engine-portable), keep the edges that are RECIPROCAL
    (a in topk(b) AND b in topk(a)), and return each vector's mutual
    degree: (vec_id, mutual_degree), degree 0 kept.

    Mutual-kNN degree is the standard graph statistic behind
    density-based near-dup clustering and embedding-quality audits: hub
    vectors (high asymmetric in-degree, low mutual degree) signal
    anisotropic/collapsed embedding spaces, while uniformly high mutual
    degree signals redundancy the sampler can exploit.

    Neighbor rule (mirrored exactly by the oracle): rank ALL pairs
    including self by (score desc, neighbor id asc), keep rank <= k+1,
    then drop the self pair — so every vector contributes exactly k
    neighbors unless >k+1 vectors tie at score 1.0 (identical quantized
    vectors; deterministic either way).

    Scale shape: this EXACT variant scores base x base through the
    BLAS-batched ``knn_join`` (one broadcast of the query matrix, one
    window shuffle proportional to n*k) — right for corpora up to a
    broadcastable query matrix (eval sets, centroid sets, <=1M rows).
    At 100 TB corpus scale, swap the scorer for the banded-LSH candidate
    pairs of ``dedup.embedding_near_dup`` and apply the same
    reciprocal-join + degree count on its verified edges.
    """
    from pythonvectordb_spark.operators.search import knn_join

    queries = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    topk = (
        knn_join(emb, queries, k=k + 1, data_id=id_col, query_vec=vec_col,
                 qvec_col=qvec_col)
        .filter(F.col("query_id") != F.col(id_col))
        .select(F.col("query_id").alias("a"), F.col(id_col).alias("b"))
    )
    # lazy checkpoint: the edge list feeds both sides of the reciprocal
    # self-join (advisor union-recompute discipline)
    topk = topk.localCheckpoint(eager=False)
    mutual = topk.join(
        topk.select(F.col("b").alias("a"), F.col("a").alias("b")),
        ["a", "b"],
        "left_semi",
    )
    deg = mutual.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("mutual_degree"))
    return (
        emb.select(F.col(id_col))
        .join(deg, F.col(id_col) == F.col("a"), "left")
        .select(
            F.col(id_col),
            F.coalesce("mutual_degree", F.lit(0).cast("long")).alias("mutual_degree"),
        )
    )


def pair_graph_triangles(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over a
    canonical pair graph (``id_a < id_b``, e.g. any dedup pair report) —
    the cluster-density diagnostic behind dedup resolution policy:
    triangle-rich neighborhoods are genuine duplicate GROUPS (safe to
    collapse), while high-degree/zero-triangle stars and chains are the
    transitive-merge risk `resolve_duplicates` can over-collapse
    (A~B~C with A!~C). Returns one row per node appearing in the graph:
    (node, degree, n_triangles, clustering_coeff = 2T / d(d-1)).

    Distributed shape: triangles enumerate by ordered wedge join —
    edges(a<b) JOIN edges(b<c) on the shared middle, closed by a third
    equi-join on (a, c); the canonical orientation counts each triangle
    exactly ONCE with no permutation blow-up. Cost follows sum of
    degree^2 over the middle vertices (the standard bound), not V^3;
    every join is a hash equi-join on node ids. The edge frame is
    lazily checkpointed — it feeds all three join roles plus the degree
    count. Coefficients are exact-integer ratios promoted to double.
    """
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
        .join(
            e.alias("e3"),
            (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
            "left_semi",
        )
    )
    tri_nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    d = F.col("degree").cast("double")
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    coeff = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * t.cast("double") / (d * (d - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        t.alias("n_triangles"),
        F.round(coeff, 6).alias("clustering_coeff"),
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 6,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """``rounds`` synchronous rounds of degree-< ``k`` peeling over a
    canonical pair graph — the k-core is the dedup-policy complement of
    `pair_graph_triangles`: chains and stars peel away entirely (their
    leaves never reach degree k), so surviving membership certifies a
    node sits in a DENSE duplicate region worth collapsing, while the
    triangle count grades individual neighborhoods. A fixed round
    budget keeps the result a pure deterministic function of the edge
    table (the `pagerank` contract — DuckDB replays the same unrolled
    rounds); peeling converges in a handful of rounds on dup graphs,
    whose components are near-cliques.

    Scale shape: each round is one explode → degree count (map-side
    combined) and two hash semi-joins of the edge frame against the
    surviving-node set — never a node×node product; the edge frame and
    the keep set are lazily checkpointed per round (each feeds two
    consumers; the connected_components lineage discipline). Edges
    shrink monotonically, so later rounds cost less, not more.

    Returns one row per surviving node: (node, core_degree) — its
    degree inside the peeled subgraph.
    """
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node").localCheckpoint(eager=False)
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def assortativity(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Newman degree assortativity of an undirected pair graph (the
    >=threshold duplicate graph, in the registered query): do
    high-degree nodes attach to other high-degree nodes (r > 0,
    template farms duplicating each other — resolve entire clusters at
    once) or to leaves (r < 0, hub-and-spoke boilerplate — the hub is
    the template, spokes are instances)? The third structural lens on
    the dup graph after `dedup_graph_triangles` (local density) and
    `dedup_kcore` (global core).

    Determinism: degrees are exact counts; r is the Pearson correlation
    over the 2m ordered endpoint pairs, and with both orientations
    present the moment algebra collapses to r = (M*Sxy - Sx^2) /
    (M*Sxx - Sx^2) with M = 2m, Sx = sum(da+db), Sxy = sum(2*da*db),
    Sxx = sum(da^2+db^2) — ALL exact int64, one final double division,
    ROUNDED 9; NULL for degree-regular graphs (variance 0).

    Scale shape: one explode + grouped count for degrees, two equi-joins
    edge->degree (degree frame is node-sized, checkpointed once across
    both hookups), one global aggregate. Never materializes the 2m
    orientation rows — the doubled moments are algebraic.
    """
    e = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    j = (
        e.join(deg.withColumnsRenamed({"node": "a", "deg": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "db"}), "b")
        .select("da", "db")
    )
    g = j.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(F.sum(F.col("da") + F.col("db")), F.lit(0)).cast("long").alias("sx"),
        F.coalesce(
            F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db")), F.lit(0)
        )
        .cast("long")
        .alias("sxx"),
        F.coalesce(F.sum(F.lit(2) * F.col("da") * F.col("db")), F.lit(0))
        .cast("long")
        .alias("sxy"),
    ).withColumn("_one", F.lit(1))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")).withColumn(
        "_one", F.lit(1)
    )
    m2 = F.lit(2) * F.col("n_edges")
    num = (m2 * F.col("sxy") - F.col("sx") * F.col("sx")).cast("long")
    den = (m2 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    return (
        g.join(F.broadcast(nn), "_one")
        .select(
            "n_nodes",
            "n_edges",
            F.when(
                den > 0, F.round(num.cast("double") / den.cast("double"), 9)
            ).alias("assortativity"),
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """HITS hub/authority scores by fixed-count power iteration
    (Kleinberg 1999), weighted: auth <- sum of in-edge w*hub, hub <-
    sum of out-edge w*auth, each L1-normalized per round. PageRank
    ranks nodes by one global importance; HITS separates "points at
    good things" (hub) from "is pointed at by good pointers" (auth) —
    on a trade graph, exporters vs importers of influence.

    Deterministic for the same reason `pagerank` is: the iteration
    count is FIXED, so DuckDB replays the identical rounds as unrolled
    MATERIALIZED CTEs; scores round to 6 (both engines sum the same
    <=|nodes| doubles per group — the `trade_pagerank` precedent).

    Scale shape (the registered input is the nation-grain graph; more
    than `_SMALL_NODES` nodes raises ``ValueError``): ONE LINEAR PLAN, zero
    per-round driver actions (round 11). The previous shape lazily
    checkpointed auth/hub and broadcast a one-row sum every round —
    localCheckpoint forces physical planning (and, under AQE, stage
    jobs) at BUILD time, so the query paid ~10 tiny barrier jobs of
    driver work before one 0.14 s job. Rounds are now SPARSE: only
    nodes with in/out mass carry rows (an absent node is exactly the
    0.0 the old coalesce materialized — a zero score contributes zero
    terms to the next round's sums and nothing to the normalizer), so
    each round is one join + one grouped sum per direction with L1
    normalization via a whole-partition window over the same non-null
    raw set the old one-row aggregate summed; every node reappears via
    one left join at the end. Alternating A/B at sf0.1: 4.5 -> 2.96 s
    best, output exactly equal. The window's single partition holds at
    most `_SMALL_NODES` rows, the bound `pagerank._iterate_small` uses.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if not n_nodes:  # no edges: a typed empty result
        return nodes.select("node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth"))
    if n_nodes > _SMALL_NODES:
        raise ValueError(
            f"hits: {n_nodes} nodes exceed _SMALL_NODES={_SMALL_NODES}"
        )
    wall = Window.partitionBy()
    hub = nodes.select("node", F.lit(1.0 / float(n_nodes)).alias("hub"))
    auth = None
    for _ in range(int(iterations)):
        auth = (
            e.join(hub.withColumnRenamed("node", "_sn"), e.src == F.col("_sn"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("w") * F.col("hub")).alias("raw"))
            .select("node", (F.col("raw") / F.sum("raw").over(wall)).alias("auth"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "_dn"), e.dst == F.col("_dn"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("w") * F.col("auth")).alias("raw"))
            .select("node", (F.col("raw") / F.sum("raw").over(wall)).alias("hub"))
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hub", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("auth", F.lit(0.0)), 6).alias("auth"),
        )
    )


def markov_stationary(
    events: DataFrame,
    iterations: int = 12,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    by fixed-count power iteration (new round 7): where does user
    behavior SETTLE if the observed transition structure keeps running
    — read against the empirical state share, a large gap means the
    process is still transient (e.g. funnels that drain into 'error').

    Transition probabilities are exact-integer ratios c(from,to) /
    c(from); the iteration count is FIXED (12 rounds from the uniform
    vector), so DuckDB replays identical rounds as unrolled
    MATERIALIZED CTEs — the `hits`/`pagerank` determinism argument:
    each round's grouped sum adds <= |states| doubles per group, and
    the output rounds to 6 far above that float-order noise.

    Scale shape: ONE window lag per user (shuffle by user, the
    `event_transitions` frame) collapses to the state-grain transition
    matrix (map-side combined); the 12 rounds then run on
    |states|^2-sized broadcast joins — constant work regardless of
    input rows. Each round normalizes over a single-partition window,
    so more than `_SMALL_NODES` states raises ``ValueError``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    pairs = (
        events.select(
            F.col(user_col),
            F.col(type_col).alias("to_s"),
            F.lag(type_col).over(w).alias("from_s"),
        )
        .filter(F.col("from_s").isNotNull())
        .groupBy("from_s", "to_s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    outc = pairs.groupBy("from_s").agg(F.sum("c").cast("long").alias("ct"))
    trans = pairs.join(outc, "from_s").select(
        "from_s",
        "to_s",
        (F.col("c").cast("double") / F.col("ct").cast("double")).alias("p"),
    ).localCheckpoint(eager=True)
    states = (
        trans.select(F.col("from_s").alias("s"))
        .unionByName(trans.select(F.col("to_s").alias("s")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_states = states.count()
    if not n_states:  # no transitions: a typed empty result
        return states.select(
            F.col("s").alias("event_type"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(0.0).alias("empirical_share"),
            F.lit(0.0).alias("stationary_p"),
        )
    if n_states > _SMALL_NODES:
        raise ValueError(
            f"markov_stationary: {n_states} states exceed _SMALL_NODES={_SMALL_NODES}"
        )
    # ONE LINEAR PLAN, zero per-round driver actions (round 11 — the
    # `hits` treatment): rounds are sparse (a state with no incoming
    # mass is exactly the 0.0 the old coalesce materialized — zero
    # terms in the next round's sums, nothing in the normalizer, which
    # sums the same non-null raw set the old one-row aggregate did;
    # renormalizing guards mass leaked through no-out-edge states) and
    # every state reappears via one left join at the end. The previous
    # shape lazily checkpointed v each round — localCheckpoint forces
    # physical planning (and AQE stage jobs) at BUILD time.
    wall = Window.partitionBy()
    v = states.select("s", F.lit(1.0 / float(n_states)).alias("v"))
    for _ in range(int(iterations)):
        v = (
            trans.join(v.withColumnRenamed("s", "_fs"), trans.from_s == F.col("_fs"))
            .groupBy(F.col("to_s").alias("s"))
            .agg(F.sum(F.col("p") * F.col("v")).alias("raw"))
            .select("s", (F.col("raw") / F.sum("raw").over(wall)).alias("v"))
        )
    emp = events.groupBy(F.col(type_col).alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    tot_e = events.agg(F.count(F.lit(1)).cast("long").alias("nt")).withColumn(
        "_one", F.lit(1)
    )
    return (
        states.join(v, "s", "left")
        .join(emp, "s")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(tot_e), "_one")
        .select(
            F.col("s").alias("event_type"),
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("nt").cast("double"), 6
            ).alias("empirical_share"),
            F.round(F.coalesce("v", F.lit(0.0)), 6).alias("stationary_p"),
        )
    )


def adamic_adar_links(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected pair graph (new
    round 7): for every NON-adjacent node pair sharing at least one
    common neighbor, the AA score sum_y 1/ln(deg(y)) over shared
    neighbors y, plus the neighborhood Jaccard — on a dup graph these
    are the merges the detector MISSED (two docs near-identical to the
    same third doc but not flagged against each other: transitivity
    repair candidates, ranked).

    Determinism: degrees are exact int64; each 1/ln(deg) term is a
    deterministic double of an exact integer (wedge centers have
    deg >= 2 by construction, so ln > 0); the per-pair sum adds a
    handful of such terms (grouped float-sum noise ~1e-15, ROUNDED 6);
    neighborhood Jaccard is an exact-integer ratio.

    Scale shape: the ordered wedge join (the `pair_graph_triangles`
    discipline — symmetrized edges joined on the shared center with
    x < z) generates exactly the candidate set; an anti-join removes
    existing edges; degree and intersection counts are
    map-side-combined grouped sums. Never all-pairs: work is
    sum_y deg(y)^2, the wedge count — witnessed in bench.py's
    rehearsal.
    """
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # wedges centered at y: (x, y, z) with x < z
    l = sym.select(F.col("b").alias("y"), F.col("a").alias("x"))
    r = sym.select(F.col("b").alias("y2"), F.col("a").alias("z"))
    wedges = l.join(r, (F.col("y") == F.col("y2")) & (F.col("x") < F.col("z"))).select(
        "x", "y", "z"
    )
    cand = (
        wedges.join(deg.withColumnRenamed("node", "y"), "y")
        .groupBy("x", "z")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("aa"),
        )
        .join(
            e.select(F.col("a").alias("x"), F.col("b").alias("z")),
            ["x", "z"],
            "left_anti",
        )
    )
    da = deg.select(F.col("node").alias("x"), F.col("deg").alias("deg_x"))
    db = deg.select(F.col("node").alias("z"), F.col("deg").alias("deg_z"))
    return (
        cand.join(da, "x")
        .join(db, "z")
        .select(
            F.col("x").alias("id_a"),
            F.col("z").alias("id_b"),
            "n_common",
            "deg_x",
            "deg_z",
            F.round("aa", 6).alias("adamic_adar"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_x") + F.col("deg_z") - F.col("n_common")).cast("double"),
                6,
            ).alias("neighborhood_jaccard"),
        )
    )


def mutual_knn_pairs(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Canonical (id_a < id_b) RECIPROCAL kNN edge list — the pair-set
    twin of :func:`mutual_knn_degrees` (same exact int8-cosine top-k+1
    neighbor rule, same BLAS-batched `knn_join` scorer, same 100 TB
    swap to banded-LSH candidates); feeds graph analytics that need
    the edges themselves, e.g. `adamic_adar_links`."""
    from pyspark.sql import functions as F

    from pythonvectordb_spark.operators.search import knn_join

    queries = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    topk = (
        knn_join(emb, queries, k=k + 1, data_id=id_col, query_vec=vec_col,
                 qvec_col=qvec_col)
        .filter(F.col("query_id") != F.col(id_col))
        .select(F.col("query_id").alias("a"), F.col(id_col).alias("b"))
        .localCheckpoint(eager=False)  # both sides of the reciprocal join
    )
    rec = topk.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return (
        topk.join(rec, ["a", "b"], "left_semi")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
