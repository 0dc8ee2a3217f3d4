"""Graph analytics over warehouse-derived co-occurrence graphs.

Two families the reference's surface lacks but a large-scale analytics
engine needs (SURVEY §2 extensions, same spirit as operators/dedup.py's
connected components):

- fixed-iteration PageRank over the supplier co-occurrence graph —
  the iterative bulk-synchronous pattern (one shuffle per iteration),
  unrolled to a fixed round count so a DuckDB oracle can replay it
  CTE-for-CTE and hash-match;
- item-item co-purchase lift — the association-rules / collaborative-
  filtering primitive (PMI-style normalization of pair counts).

Scale notes (100 TB): the co-occurrence edge build is a self-join on
the order key (co-partitioned single shuffle; per-order fan-out is
bounded by order size, and a hot mega-order would be AQE-skew-split).
PageRank at true graph scale runs the SAME join-agg loop per iteration
with localCheckpoint between rounds (the connected_components recipe,
dedup.py:170); the fixed unroll here keeps plans finite and
oracle-checkable. Dangling nodes don't exist in a symmetric graph, so
no dangling-mass redistribution term is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..memo import session_memo

PR_DAMP = 0.85
PR_ITERS = 3
PR_TOP = 20

# Python-computed double constants, embedded verbatim in the oracle so
# both engines use the bit-identical literal (1.0 - 0.85 != 0.15 in
# float64 — it is 0.15000000000000002).
_PR_TELEPORT = 1.0 - PR_DAMP


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric supplier co-occurrence edges: (src, dst) iff the two
    suppliers ship lines of the same order. Distinct bridge first so a
    supplier with many lines in one order contributes one edge."""
    li = load_table(spark, sf_dir, "lineitem")
    bridge = li.select("l_orderkey", "l_suppkey").distinct()
    a = bridge.alias("a")
    b = bridge.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 synchronous iterations) on the
    supplier co-occurrence graph; top 20 by final rank.

    Determinism contract: per-edge contributions (rank/outdeg) and
    per-node updates ((1-d)/n + d·Σ) round to 9 dp and SUM as exact
    decimal, so iteration results are order-independent and the DuckDB
    oracle (same formulas, unrolled CTEs) matches to the last bit.

    Plan: one shuffle builds the edge set (order-key self-join), one
    degree aggregate, then per iteration exactly one join (edges ⋈
    ranks on src — broadcast while ranks stay dim-sized, shuffle-on-key
    at graph scale) and one dst-keyed aggregate. The edge set is
    localCheckpoint'd (the connected_components recipe, dedup.py:170)
    so each iteration joins the MATERIALIZED edges instead of replaying
    the self-join lineage three times — at graph scale this is the
    'build the adjacency once, iterate over it' structure every BSP
    engine uses."""
    supp = load_table(spark, sf_dir, "supplier")
    return (
        _pagerank_ranks(spark, sf_dir)
        .join(F.broadcast(supp), F.col("node") == supp.s_suppkey, "inner")
        .select(
            F.col("node").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("outdeg").alias("degree"),
            F.col("rank").alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("supplier_id"))
        .limit(PR_TOP)
    )


# Session memo for the materialized adjacency (the trained-quantizer
# pattern: immutable inputs => the checkpointed edge set is reusable
# across calls in one session — bench cold+warm passes and repeated
# reports share it).
def _cached_adjacency(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    def build() -> tuple[DataFrame, DataFrame]:
        edges = _co_edges(spark, sf_dir).localCheckpoint()
        deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
        return edges, deg

    return session_memo(spark, "graph_adjacency", sf_dir, build)


def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (node, outdeg, n, rank) table after PR_ITERS iterations —
    split out so tests can assert mass conservation over ALL nodes, not
    just the top-20 report."""
    edges, deg = _cached_adjacency(spark, sf_dir)
    n1 = deg.agg(F.count("*").alias("n"))

    # r0 = 1/n for every node, rounded like every later iterate.
    ranks = (
        deg.crossJoin(F.broadcast(n1))
        .select(
            F.col("src").alias("node"),
            "outdeg",
            "n",
            F.round(F.lit(1.0) / F.col("n").cast("double"), 9)
            .cast("decimal(18,9)")
            .alias("rank"),
        )
    )
    for _ in range(PR_ITERS):
        # ranks is node-cardinality (~|V| rows, tiny next to the
        # near-complete edge set): broadcast it so each iteration scans
        # the checkpointed edges in place — the only shuffle left per
        # round is the dst-keyed mass aggregate
        contrib = edges.join(
            F.broadcast(ranks), edges.src == ranks.node, "inner"
        ).select(
            F.col("dst"),
            F.round(
                F.col("rank").cast("double") / F.col("outdeg").cast("double"), 9
            )
            .cast("decimal(18,9)")
            .alias("contrib"),
        )
        summed = contrib.groupBy("dst").agg(F.sum("contrib").alias("mass"))
        ranks = (
            summed.join(F.broadcast(deg), summed.dst == deg.src, "inner")
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("dst").alias("node"),
                "outdeg",
                "n",
                F.round(
                    F.lit(_PR_TELEPORT) / F.col("n").cast("double")
                    + PR_DAMP * F.col("mass").cast("double"),
                    9,
                )
                .cast("decimal(18,9)")
                .alias("rank"),
            )
        )
    return ranks


LIFT_MIN_PAIR = 3
LIFT_TOP = 25


def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items frequently bought together: part pairs ranked by LIFT —
    P(a,b) / (P(a)·P(b)) over order baskets, the association-rules /
    "customers also bought" primitive. Support floor keeps noise pairs
    out; a < b canonicalizes the pair.

    Plan: distinct (order, part) bridge (one shuffle), pair generation
    via the same-key self-join (co-partitioned — no extra exchange on
    the second leg at scale), per-part counts broadcast back onto the
    pair counts. Lift arithmetic is pure double with a single 6 dp
    round at the edge; counts are exact ints so both engines divide
    identical values."""
    li = load_table(spark, sf_dir, "lineitem")
    bridge = li.select("l_orderkey", "l_partkey").distinct()
    # Lazy 1-row basket count broadcast into the lift projection (the
    # supplier_pagerank n1 pattern) — constructing the DataFrame runs
    # no job and the plan is data-independent.
    n1 = bridge.agg(F.countDistinct("l_orderkey").alias("n"))
    # pair counts from the shared checkpointed co-occurrence table
    # (LIFT_MIN_PAIR >= TRI_MIN_SUPPORT, so filtering the thresholded
    # table is exact); src < dst picks each unordered pair once
    pair_ct = (
        _copurchase_pairs(spark, sf_dir)
        .filter((F.col("src") < F.col("dst")) & (F.col("support") >= LIFT_MIN_PAIR))
        .select(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
            F.col("support").alias("pair_ct"),
        )
    )
    part_ct = bridge.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count("*").alias("part_ct")
    )
    n_d = F.col("n").cast("double")
    lift = F.round(
        (F.col("pair_ct").cast("double") / n_d)
        / (
            (F.col("ct_a").cast("double") / n_d)
            * (F.col("ct_b").cast("double") / n_d)
        ),
        6,
    )
    return (
        pair_ct.join(
            F.broadcast(part_ct.select(F.col("pk"), F.col("part_ct").alias("ct_a"))),
            F.col("part_a") == F.col("pk"),
        )
        .drop("pk")
        .join(
            F.broadcast(part_ct.select(F.col("pk"), F.col("part_ct").alias("ct_b"))),
            F.col("part_b") == F.col("pk"),
        )
        .drop("pk")
        .crossJoin(F.broadcast(n1))
        .select("part_a", "part_b", "pair_ct", "ct_a", "ct_b", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(LIFT_TOP)
    )


TRI_TOP = 20
TRI_MIN_SUPPORT = 2   # co-purchase support threshold: the raw pair set
                      # grows linearly with the corpus, but pairs seen
                      # >= 2 times saturate at catalog scale (probed:
                      # 2.4M raw vs 7k thresholded directed edges at
                      # sf0.1) — the graph a recommender actually keeps


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    SUPPORT-THRESHOLDED part co-purchase graph — the cohesion/community
    primitive (top TRI_TOP by triangle count). The supplier
    co-occurrence graph is near-complete (1000 nodes sharing 150k
    orders), so triangles there are a cubic blowup with no meaning;
    the thresholded part graph is sparse AND shrinks relative to the
    corpus, which is what makes exact triangle enumeration viable at
    100 TB.

    Algorithm: DEGREE-ORDERED edge orientation (the scalable
    triangle-enumeration standard): each undirected edge {u,v} is kept
    once, oriented toward the higher (degree, id) endpoint, so every
    triangle is enumerated exactly once from its lowest-ordered vertex
    and wedge fan-out is bounded by O(sqrt(m)) per node even on skewed
    graphs — a hub of degree d generates wedges only from its ~sqrt(m)
    lower-ordered neighbors, not d^2. The (deg, id) order is total and
    deterministic, so the DuckDB oracle replays it exactly.

    Plan: one edge build (self-join on order key), one degree agg, the
    orientation joins, ONE wedge self-join (the only quadratic-ish
    step, bounded by orientation), closed by an inner join against the
    oriented edge set; per-node attribution explodes each triangle's
    three corners. All shuffles key on node/edge ids — AQE splits any
    residual hot key."""
    return _triangles_over(_copurchase_edges(spark, sf_dir))


def _triangles_over(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration + clustering coefficient
    over a symmetric (src, dst) edge set — shared by
    copurchase_triangles (full thresholded graph) and
    copurchase_triangles_capped (hub-removed graph), so the two cannot
    drift.

    The degree table scales with the CATALOG (one row per node), so it
    carries no broadcast hint (r9 self-review, same discipline as the
    order_wide dims): sub-threshold Catalyst/AQE broadcasts it exactly
    as before; on a multi-million-part catalog the joins degrade to
    shuffles instead of forcing a multi-GB broadcast."""
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    half = edges.filter(F.col("src") < F.col("dst"))
    o = (
        half.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "deg_src")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "deg_dst"),
            "dst",
        )
        .select(
            F.when(
                (F.col("deg_src") < F.col("deg_dst"))
                | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))),
                F.col("src"),
            ).otherwise(F.col("dst")).alias("lo"),
            F.when(
                (F.col("deg_src") < F.col("deg_dst"))
                | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))),
                F.col("dst"),
            ).otherwise(F.col("src")).alias("hi"),
        )
    )
    # the oriented edge relation feeds THREE aliases of the wedge/close
    # join — without a checkpoint the whole orientation subtree (degree
    # agg + two joins, and in the capped/p99 callers the entire hub-cap
    # derivation riding inside the edge set) replays once per alias
    # (r13; executed plan of copurchase_triangles_p99: 118 -> 14
    # exchanges). Bounded relation: one row per ORIENTED thresholded
    # edge — catalog-scale by the TRI_MIN_SUPPORT argument above, so
    # the checkpoint is safe at any corpus size.
    o = o.localCheckpoint(eager=False)
    w1, w2, e3 = o.alias("w1"), o.alias("w2"), o.alias("e3")
    tri = (
        w1.join(w2, F.col("w1.lo") == F.col("w2.lo"))
        .filter(F.col("w1.hi") != F.col("w2.hi"))
        .join(
            e3,
            (F.col("w1.hi") == F.col("e3.lo")) & (F.col("w2.hi") == F.col("e3.hi")),
        )
        .select(
            F.col("w1.lo").alias("x"), F.col("w1.hi").alias("y"), F.col("w2.hi").alias("z")
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_ct"))
    )
    coef = F.round(
        2.0 * F.col("tri_ct").cast("double")
        / (F.col("deg").cast("double") * (F.col("deg").cast("double") - 1.0)),
        6,
    )
    return (
        per_node.join(deg, "node")
        .select(
            F.col("node").alias("part_id"),
            F.col("deg").alias("degree"),
            "tri_ct",
            coef.alias("clust_coef"),
        )
        .orderBy(F.desc("tri_ct"), F.asc("part_id"))
        .limit(TRI_TOP)
    )


# Gate-scale hub budget for the capped variant: small enough that the
# sf0.01 graph actually has hubs over it (max degree 13, 50 nodes past
# the cap), so the gate exercises the degraded path for real — the
# SIMHASH_BUCKET_CAP discipline applied to the graph family.
TRI_DEG_CAP = 8


def copurchase_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """copurchase_triangles under a DEGREE BUDGET (VERDICT r8 #3): the
    thresholded edge set is catalog-bounded only while basket overlap
    is sparse — a corpus whose baskets densify (or a replication
    artifact that keeps the catalog fixed while orders grow) drives the
    graph toward complete, and m^1.5 wedge work explodes with it. The
    standard guard is HIGH-DEGREE VERTEX REMOVAL: nodes with degree >
    TRI_DEG_CAP leave the graph entirely (a recommender treats a part
    co-purchased with everything as boilerplate, exactly like a dedup
    mega-cluster), triangles are enumerated on the induced subgraph
    where wedge fan-out is <= cap per node, and the dropped mass is
    observable via copurchase_degree_overflow. Deterministic given the
    degree threshold, so the DuckDB oracle replays it exactly."""
    kept, _hubs, _deg = _capped_graph(spark, sf_dir)
    return _triangles_over(kept)


def _hub_free(edges: DataFrame, hubs: DataFrame) -> DataFrame:
    """Edges with neither endpoint in the hub set. No broadcast hints —
    the hub table scales with the catalog (Catalyst/AQE decides;
    sub-threshold plans unchanged, huge catalogs fall back to shuffled
    anti joins)."""
    # lazily checkpointed: the kept set feeds the degree agg, the
    # orientation joins AND (in the overflow report) the dropped-edge
    # anti join — each replay would otherwise re-run the two anti joins
    # plus the whole hub derivation (p99: the quantile-cap subtree)
    # riding inside them. Bounded by the thresholded edge set itself.
    return edges.join(
        hubs.select(F.col("node").alias("src")), "src", "left_anti"
    ).join(
        hubs.select(F.col("node").alias("dst")), "dst", "left_anti"
    ).select("src", "dst").localCheckpoint(eager=False)


def _capped_graph(spark: SparkSession, sf_dir: str):
    """(kept_edges, hubs, deg) of the degree-budgeted co-purchase graph
    — the ONE place the hub rule (deg > TRI_DEG_CAP over src-grouped
    counts) lives, shared by the capped enumeration and its overflow
    report so the two can never disagree."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    hubs = deg.filter(F.col("deg") > TRI_DEG_CAP)
    return _hub_free(edges, hubs), hubs, deg


TRI_CAP_QUANTILE = 0.99


def copurchase_triangles_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the degree budget (ADVICE r9): instead of
    a fixed cap, the hub threshold is the corpus's own p99 degree — the
    budget adapts to the graph the way srp_bits_for adapts to corpus
    size, so a densifying corpus sheds exactly its top-1% boilerplate
    hubs instead of (as the dense-100x probe showed for the fixed
    gate-scale cap) emptying the graph.

    Scale: the quantile is EXACT but never funnels the node table
    through one task — degrees histogram into at most max-degree
    distinct values, the cumulative sum windows over THAT bounded
    table, and the cap joins back as a broadcast scalar. ceil(q*n) on
    the shared float64 product keeps Spark and DuckDB on the same side
    of any boundary (IEEE multiplication is deterministic)."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    hist = deg.groupBy("deg").agg(F.count("*").alias("ct"))
    wd = Window.orderBy("deg").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("ct").over(wd))
    n = deg.agg(F.count("*").alias("n"))
    cap = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("cum") >= F.ceil(F.lit(TRI_CAP_QUANTILE) * F.col("n")))
        .agg(F.min("deg").alias("cap"))
    )
    hubs = deg.crossJoin(F.broadcast(cap)).filter(F.col("deg") > F.col("cap")).select("node", "deg")
    return _triangles_over(_hub_free(edges, hubs))


def copurchase_degree_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-only overflow report paired with
    copurchase_triangles_capped: how many nodes exceed the degree cap,
    the worst degree, and how many undirected edges the removal drops —
    the observability a capped run ships instead of unbounded wedge
    work (the simhash_bucket_overflow contract for the graph family).
    'Dropped' = edges touching at least one hub = all edges minus the
    capped variant's kept set, both from the shared _capped_graph."""
    kept, hubs, _deg = _capped_graph(spark, sf_dir)
    edges = _copurchase_edges(spark, sf_dir)
    dropped = (
        edges.filter(F.col("src") < F.col("dst"))
        .join(kept.filter(F.col("src") < F.col("dst")), ["src", "dst"], "left_anti")
    )
    return hubs.agg(
        F.count("*").alias("over_nodes"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_degree"),
    ).crossJoin(F.broadcast(dropped.agg(F.count("*").alias("dropped_edges"))))


REACH_HOPS = 3


# Session memo for the thresholded co-purchase pair-count table — the
# adjacency pattern: the lineitem self-join + count is by far the
# most expensive step shared by lift/triangles/reach, and the support
# >= TRI_MIN_SUPPORT result is catalog-bounded (~7k directed edges at
# sf0.1 vs 2.4M raw pairs), so ONE localCheckpoint serves all three.
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst, support) part co-purchase pair counts at
    support >= TRI_MIN_SUPPORT, built once per (application, corpus).
    At warehouse scale this is the persisted co-occurrence table a
    recommender maintains; in-session every consumer (lift's ranked
    pairs at >= LIFT_MIN_PAIR, triangles/reach's edge set) filters the
    same checkpoint instead of re-running the basket self-join."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        bridge = li.select("l_orderkey", "l_partkey").distinct()
        a0, b0 = bridge.alias("a0"), bridge.alias("b0")
        return (
            a0.join(b0, "l_orderkey")
            .filter(F.col("a0.l_partkey") != F.col("b0.l_partkey"))
            .groupBy(
                F.col("a0.l_partkey").alias("src"), F.col("b0.l_partkey").alias("dst")
            )
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= TRI_MIN_SUPPORT)
            .localCheckpoint()
        )

    return session_memo(spark, "copurchase_pairs", sf_dir, build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric support-thresholded part co-purchase edges (the
    copurchase_triangles graph, factored for reuse)."""
    return _copurchase_pairs(spark, sf_dir).select("src", "dst")


def copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the thresholded co-purchase graph: minimum hop
    distance from the seed part (the lowest part id in the edge set)
    for every node within REACH_HOPS hops, rolled up per hop — the
    "related products within k clicks" traversal primitive, and the
    frontier-join pattern every distributed BFS uses (one edges join +
    one min-agg per hop; at graph scale each round shuffles only the
    frontier, with localCheckpoint between rounds for long walks —
    bounded unroll keeps the plan finite and oracle-replayable)."""
    # the shared co-occurrence checkpoint already materializes the
    # lineitem self-join once, so the seed aggregate and every frontier
    # join replay a tiny cached projection, not the edge build
    edges = _copurchase_edges(spark, sf_dir)
    seed = edges.agg(F.min("src").alias("node"))
    reached = seed.select("node", F.lit(0).alias("hop"))
    for h in range(1, REACH_HOPS + 1):
        frontier = reached.filter(F.col("hop") == h - 1)
        expanded = frontier.join(edges, frontier.node == edges.src).select(
            F.col("dst").alias("node"), F.lit(h).alias("hop")
        )
        reached = (
            reached.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return (
        reached.groupBy("hop")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_part"),
            F.max("node").alias("max_part"),
        )
        .orderBy("hop")
    )


TRIPLE_MIN_SUPPORT = 2
TRIPLE_TOP = 20


def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (the Apriori step past
    copurchase_lift's pairs): top TRIPLE_TOP part triples by basket
    support. Candidate generation runs IN-ARRAY per basket (sorted
    part set, ordered index triples — C(|basket|,3) bounded by basket
    size, the minhash in-bucket pair trick lifted to triples), so the
    only shuffles are the basket collect and the (a,b,c)-keyed count;
    no joins blow up in candidate space."""
    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups per basket, so no distinct() first — that was
    # a second full shuffle of lineitem for nothing (r4->r5 warm drift)
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("p"))
        .filter(F.size("p") >= 3)
    )
    triples = F.expr(
        "flatten(flatten(transform(sequence(0, size(p) - 3), i -> "
        "transform(sequence(i + 1, size(p) - 2), j -> "
        "transform(sequence(j + 1, size(p) - 1), k -> "
        "struct(p[i] AS a, p[j] AS b, p[k] AS c))))))"
    )
    return (
        baskets.select(F.explode(triples).alias("t"))
        .groupBy(F.col("t.a").alias("part_a"), F.col("t.b").alias("part_b"), F.col("t.c").alias("part_c"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= TRIPLE_MIN_SUPPORT)
        .orderBy(F.desc("support"), "part_a", "part_b", "part_c")
        .limit(TRIPLE_TOP)
    )


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out}_c AS (
        SELECT e.dst,
               CAST(ROUND(CAST(r.rank AS DOUBLE) / CAST(r.outdeg AS DOUBLE), 9) AS DECIMAL(18,9)) AS contrib
        FROM edges e JOIN {prev} r ON e.src = r.node
    ), {out} AS (
        SELECT c.dst AS node, d.outdeg, n.n,
               CAST(ROUND({_PR_TELEPORT!r} / CAST(n.n AS DOUBLE)
                    + {PR_DAMP!r} * CAST(SUM(c.contrib) AS DOUBLE), 9) AS DECIMAL(18,9)) AS rank
        FROM {out}_c c JOIN deg d ON c.dst = d.src, n
        GROUP BY c.dst, d.outdeg, n.n
    )"""


QUERIES = {
    "supplier_pagerank": supplier_pagerank,
    "copurchase_lift": copurchase_lift,
    "copurchase_triangles": copurchase_triangles,
    "copurchase_triangles_capped": copurchase_triangles_capped,
    "copurchase_triangles_p99": copurchase_triangles_p99,
    "copurchase_degree_overflow": copurchase_degree_overflow,
    "copurchase_reach": copurchase_reach,
    "frequent_triples": frequent_triples,
}

def _reach_oracle() -> str:
    parts = [f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), r0 AS (
        SELECT MIN(src) AS node, 0 AS hop FROM edges
    )"""]
    prev = "r0"
    for h in range(1, REACH_HOPS + 1):
        parts.append(f""", r{h} AS (
        SELECT node, MIN(hop) AS hop FROM (
            SELECT node, hop FROM {prev}
            UNION ALL
            SELECT e.dst AS node, {h} AS hop
            FROM {prev} f JOIN edges e ON f.node = e.src
            WHERE f.hop = {h - 1}
        ) GROUP BY node
    )""")
        prev = f"r{h}"
    parts.append(f"""
    SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_part, MAX(node) AS max_part
    FROM {prev}
    GROUP BY hop
    ORDER BY hop
    """)
    return "".join(parts)


ORACLES = {
    "frequent_triples": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM bridge a
    JOIN bridge b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    JOIN bridge c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
    ORDER BY support DESC, part_a, part_b, part_c
    LIMIT {TRIPLE_TOP}
    """,
    "copurchase_reach": _reach_oracle(),
    "copurchase_triangles": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), deg AS (
        SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), o AS (
        SELECT CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.src ELSE e.dst END AS lo,
               CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.dst ELSE e.src END AS hi
        FROM edges e
        JOIN deg ds ON e.src = ds.node
        JOIN deg dd ON e.dst = dd.node
        WHERE e.src < e.dst
    ), tri AS (
        SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
        FROM o w1
        JOIN o w2 ON w1.lo = w2.lo AND w1.hi <> w2.hi
        JOIN o e3 ON w1.hi = e3.lo AND w2.hi = e3.hi
    ), per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_ct
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY node
    )
    SELECT p.node AS part_id, CAST(d.deg AS BIGINT) AS degree, p.tri_ct,
           ROUND(2.0 * CAST(p.tri_ct AS DOUBLE)
                 / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 6) AS clust_coef
    FROM per_node p JOIN deg d ON p.node = d.node
    ORDER BY tri_ct DESC, part_id ASC
    LIMIT {TRI_TOP}
    """,
    "copurchase_triangles_capped": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), all_edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), hubs AS (
        SELECT src AS node FROM all_edges GROUP BY src HAVING COUNT(*) > {TRI_DEG_CAP}
    ), edges AS (
        SELECT src, dst FROM all_edges
        WHERE src NOT IN (SELECT node FROM hubs)
          AND dst NOT IN (SELECT node FROM hubs)
    ), deg AS (
        SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), o AS (
        SELECT CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.src ELSE e.dst END AS lo,
               CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.dst ELSE e.src END AS hi
        FROM edges e
        JOIN deg ds ON e.src = ds.node
        JOIN deg dd ON e.dst = dd.node
        WHERE e.src < e.dst
    ), tri AS (
        SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
        FROM o w1
        JOIN o w2 ON w1.lo = w2.lo AND w1.hi <> w2.hi
        JOIN o e3 ON w1.hi = e3.lo AND w2.hi = e3.hi
    ), per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_ct
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY node
    )
    SELECT p.node AS part_id, CAST(d.deg AS BIGINT) AS degree, p.tri_ct,
           ROUND(2.0 * CAST(p.tri_ct AS DOUBLE)
                 / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 6) AS clust_coef
    FROM per_node p JOIN deg d ON p.node = d.node
    ORDER BY tri_ct DESC, part_id ASC
    LIMIT {TRI_TOP}
    """,
    "copurchase_triangles_p99": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), all_edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), deg0 AS (
        SELECT src AS node, COUNT(*) AS deg FROM all_edges GROUP BY src
    ), hist AS (
        SELECT deg, COUNT(*) AS ct FROM deg0 GROUP BY deg
    ), cum AS (
        SELECT deg, SUM(ct) OVER (ORDER BY deg) AS cum FROM hist
    ), cap AS (
        SELECT MIN(deg) AS cap FROM cum, (SELECT COUNT(*) AS n FROM deg0)
        WHERE cum >= CEIL({TRI_CAP_QUANTILE} * n)
    ), hubs AS (
        SELECT node FROM deg0, cap WHERE deg > cap
    ), edges AS (
        SELECT src, dst FROM all_edges
        WHERE src NOT IN (SELECT node FROM hubs)
          AND dst NOT IN (SELECT node FROM hubs)
    ), deg AS (
        SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), o AS (
        SELECT CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.src ELSE e.dst END AS lo,
               CASE WHEN (ds.deg, e.src) < (dd.deg, e.dst) THEN e.dst ELSE e.src END AS hi
        FROM edges e
        JOIN deg ds ON e.src = ds.node
        JOIN deg dd ON e.dst = dd.node
        WHERE e.src < e.dst
    ), tri AS (
        SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
        FROM o w1
        JOIN o w2 ON w1.lo = w2.lo AND w1.hi <> w2.hi
        JOIN o e3 ON w1.hi = e3.lo AND w2.hi = e3.hi
    ), per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_ct
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY node
    )
    SELECT p.node AS part_id, CAST(d.deg AS BIGINT) AS degree, p.tri_ct,
           ROUND(2.0 * CAST(p.tri_ct AS DOUBLE)
                 / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 6) AS clust_coef
    FROM per_node p JOIN deg d ON p.node = d.node
    ORDER BY tri_ct DESC, part_id ASC
    LIMIT {TRI_TOP}
    """,
    "copurchase_degree_overflow": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), deg AS (
        SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), hubs AS (
        SELECT node, deg FROM deg WHERE deg > {TRI_DEG_CAP}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS over_nodes,
           CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_degree,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges
            WHERE src < dst
              AND (src IN (SELECT node FROM hubs)
                   OR dst IN (SELECT node FROM hubs))) AS dropped_edges
    FROM hubs
    """,
    "supplier_pagerank": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey <> b.l_suppkey
    ), deg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), n AS (
        SELECT COUNT(*) AS n FROM deg
    ), r0 AS (
        SELECT src AS node, outdeg, n.n,
               CAST(ROUND(1.0 / CAST(n.n AS DOUBLE), 9) AS DECIMAL(18,9)) AS rank
        FROM deg, n
    ),{_pr_iter_sql("r0", "r1")},{_pr_iter_sql("r1", "r2")},{_pr_iter_sql("r2", "r3")}
    SELECT r.node AS supplier_id, s.s_name AS supplier_name,
           CAST(r.outdeg AS BIGINT) AS degree, r.rank AS pagerank
    FROM r3 r JOIN supplier s ON r.node = s.s_suppkey
    ORDER BY pagerank DESC, supplier_id ASC
    LIMIT {PR_TOP}
    """,
    "copurchase_lift": f"""
    WITH bridge AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n FROM bridge
    ), pair_ct AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_ct
        FROM bridge a JOIN bridge b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {LIFT_MIN_PAIR}
    ), part_ct AS (
        SELECT l_partkey AS pk, COUNT(*) AS part_ct FROM bridge GROUP BY 1
    )
    SELECT p.part_a, p.part_b,
           CAST(p.pair_ct AS BIGINT) AS pair_ct,
           CAST(ca.part_ct AS BIGINT) AS ct_a,
           CAST(cb.part_ct AS BIGINT) AS ct_b,
           ROUND((CAST(p.pair_ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                 / ((CAST(ca.part_ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                    * (CAST(cb.part_ct AS DOUBLE) / CAST(n.n AS DOUBLE))), 6) AS lift
    FROM pair_ct p
    JOIN part_ct ca ON p.part_a = ca.pk
    JOIN part_ct cb ON p.part_b = cb.pk, n_orders n
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT {LIFT_TOP}
    """,
}
