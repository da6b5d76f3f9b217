package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Graph analytics over relations — the corpus-curation use case is
  * domain-authority ranking (a web-scale pipeline scores crawl domains by
  * link authority before sampling training documents; reference anchor:
  * the dim-enrichment joins at /root/reference/app.py:119-131 are the same
  * star shape the edge extraction below starts from).
  *
  * Scale design (100 TB): the expensive part of graph analytics on raw
  * data is building the edge list — here a four-table join + aggregation
  * over the fact tables, all shuffle-partitioned on the join keys. The
  * iteration then runs on the AGGREGATED graph (nodes = dims, thousands to
  * millions of rows), orders of magnitude smaller than the corpus; each
  * round is one join + one hash aggregation, so 5 rounds is 5 tiny stages
  * behind one heavy extraction. Companion iterative op:
  * [[Dedup.clusterAssign]] (label propagation + pointer jumping).
  */
object Graph {

  private val Scale = 1000000L // fixed-point: rank 1.0 ≡ 1e6
  private val Rounds = 5

  /** Fixed-point integer PageRank over the nation-to-nation trade graph.
    *
    * Edge extraction: customer-nation → supplier-nation pairs through
    * orders⋈lineitem⋈customer⋈supplier, aggregated to pair counts, then
    * sparsified to above-1.2×-average pairs with the comparison kept in
    * INTEGER cross-multiplied form (`cnt·npairs·10 >= total·12`) so the
    * cut is bit-exact in any engine.
    *
    * Iteration: 5 rounds of `r' = 0.15·S + 0.85·Σ floor(r_u / deg_u)` in
    * SCALED-INTEGER arithmetic (S = 1e6, integer div). Classic
    * double-valued PageRank cannot pass a cross-engine hash gate — the
    * contribution SUM's addition order differs between engines and doubles
    * don't associate; with every quantity a BIGINT and division as `div`,
    * every round is exact and the final ranks are bit-identical (same
    * determinism rule as SURVEY.md §7.4; dangling-node mass is dropped,
    * the standard "leaky" formulation, identical on both sides).
    *
    * The edge table is localCheckpoint'd once so the heavy extraction
    * isn't re-executed by each round's lineage, and each round references
    * the previous ranks exactly once, so the unresolved plan grows
    * linearly — no exponential re-analysis (the [[Dedup.clusterAssign]]
    * lesson).
    */
  /** The customer-nation → supplier-nation trade pairs through
    * orders⋈lineitem⋈customer⋈supplier, aggregated to counts, sparsified
    * to above-1.2×-average pairs with the comparison kept in INTEGER
    * cross-multiplied form (`cnt·npairs·10 >= total·12`) so the cut is
    * bit-exact in any engine. Shared edge extraction for every graph op.
    */
  private def sparseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    // materialize the heavy extraction ONCE: `pairs` feeds both the total
    // (for the sparsification threshold) and the filter — without the
    // lineage cut each consumer re-executes the 4-table star join, and a
    // downstream self-join (triangles) multiplies that again per branch.
    // The aggregated relation is nation×nation ≤ 625 rows.
    val pairs = line
      .join(orders, line("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(supp), line("l_suppkey") === supp("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val tot = pairs.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("npairs"))
    pairs.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("npairs") * 10 >= col("total") * 12)
      .select(col("src"), col("dst"))
  }

  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = sparseEdges(spark, sfDir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // materialize the heavy extraction once; every round reuses ~625 rows
    val e = edges.join(deg, "src").localCheckpoint(true)

    val nations = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    var ranks = nations
      .select(col("n_nationkey").as("node"), lit(Scale).as("rank"))
    for (_ <- 1 to Rounds) {
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nations.select(col("n_nationkey").as("node"))
        .join(contribs, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (lit(Scale * 15 / 100)
            + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
    }
    ranks.join(broadcast(nations), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("rank"))
      .orderBy(col("rank").desc, col("n_name"))
  }

  /** Oracle: the identical integer recurrence unrolled as chained CTEs —
    * DuckDB's `//` is floor division, Spark's `div` is integer division;
    * they agree on the non-negative operands here.
    */
  private val pagerankOracle: String = {
    val base = Scale * 15 / 100
    val rounds = (1 to Rounds).map { i =>
      s"""r$i AS (
         |  SELECT nn.node,
         |    CAST($base + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM (SELECT n_nationkey AS node FROM nation) nn
         |  LEFT JOIN (SELECT e.dst, CAST(sum(r.rank // e.deg) AS BIGINT) AS s
         |             FROM e JOIN r${i - 1} r ON e.src = r.node
         |             GROUP BY e.dst) c ON c.dst = nn.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |               CAST(count(*) AS BIGINT) AS npairs FROM pairs),
       |edges AS (SELECT src, dst FROM pairs, tot
       |          WHERE cnt * npairs * 10 >= total * 12),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, deg.deg
       |      FROM edges JOIN deg ON edges.src = deg.src),
       |r0 AS (SELECT n_nationkey AS node, CAST($Scale AS BIGINT) AS rank
       |       FROM nation),
       |$rounds
       |SELECT n_name, rank
       |FROM r$Rounds JOIN nation ON node = n_nationkey
       |ORDER BY rank DESC, n_name""".stripMargin
  }

  /** Per-node triangle counts over the undirected sparsified trade graph —
    * the clustering/cohesion primitive (community detection, spam-graph
    * features, link-quality scores all start here).
    *
    * Scale shape: the canonical distributed formulation — undirect and
    * canonicalize each edge to (a < b) once, then count each triangle
    * exactly once as a < b < c via TWO equi-joins: wedges (a,b)⋈(b,c)
    * closed by membership of (a,c). The a<b ordering is what bounds the
    * join: every wedge is generated from its lowest vertex only, so no
    * triangle is formed three times and then deduped (at 100 TB the
    * standard refinement orders by DEGREE instead of id — same plan shape,
    * only the canonicalization key changes — which bounds wedge fan-out by
    * the arboricity instead of the max degree). Edge extraction reuses the
    * PageRank sparsification; everything is integer-exact.
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = sparseEdges(spark, sfDir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val tri = ud.as("e1")
      .join(ud.as("e2"), col("e1.b") === col("e2.a"))
      .join(ud.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
    val nations = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    perNode.join(broadcast(nations), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("n_name"))
  }

  private val trianglesOracle =
    """WITH pairs AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |               CAST(count(*) AS BIGINT) AS npairs FROM pairs),
      |ud AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |       FROM pairs, tot
      |       WHERE cnt * npairs * 10 >= total * 12 AND src <> dst),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM ud e1
      |        JOIN ud e2 ON e2.a = e1.b
      |        JOIN ud e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      |       FROM (SELECT x AS node FROM tri
      |             UNION ALL SELECT y FROM tri
      |             UNION ALL SELECT z FROM tri)
      |       GROUP BY node)
      |SELECT n_name, n_triangles
      |FROM pn JOIN nation ON node = n_nationkey
      |ORDER BY n_triangles DESC, n_name""".stripMargin

  private val BfsRounds = 4

  /** Single-source shortest paths (BFS hop counts) from nation 0 over the
    * directed sparsified trade graph — the reachability primitive behind
    * crawl-frontier scheduling and influence radii.
    *
    * Formulated as Bellman-Ford with SELF-LOOP edges (weight 0) so each
    * round is ONE join + ONE min-aggregate referencing the previous
    * frontier exactly once: `d' = min over (u,v,w) of d(u)+w`, with (v,v,0)
    * carrying the incumbent distance forward. The naive
    * `union(dist, relaxed)` spelling references `dist` twice per round and
    * doubles the unresolved plan every iteration — the same exponential
    * re-analysis trap [[pagerank]] documents. All-integer, so bit-exact;
    * nodes unreached within [[BfsRounds]] hops are absent (BFS frontier
    * semantics, identical in the unrolled oracle).
    *
    * Scale: rounds run on the aggregated graph behind one heavy
    * extraction, like [[pagerank]]; at web scale the same loop is the
    * standard Pregel-style SSSP with the frontier checkpointed per round.
    */
  def shortestPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val selfLoops = nations.select(
      col("n_nationkey").as("src"), col("n_nationkey").as("dst"),
      lit(0L).as("w"))
    val eAug = sparseEdges(spark, sfDir)
      .select(col("src"), col("dst"), lit(1L).as("w"))
      .unionAll(selfLoops)
      .localCheckpoint(true)
    var dist = nations.filter(col("n_nationkey") === 0)
      .select(col("n_nationkey").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to BfsRounds) {
      // the augmented edge list is the tiny static side (aggregated graph
      // + one self-loop per node) — broadcast it explicitly so no round
      // ever plans a sort-merge join on the frontier
      dist = dist.join(broadcast(eAug), col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(min(col("dist") + col("w")).as("d"))
        .select(col("dst").as("node"), col("d").as("dist"))
    }
    dist.join(broadcast(nations), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("dist"))
      .orderBy(col("dist"), col("n_name"))
  }

  private val shortestPathsOracle: String = {
    val rounds = (1 to BfsRounds).map { i =>
      s"""d$i AS (SELECT ea.dst AS node, CAST(min(d.dist + ea.w) AS BIGINT) AS dist
         |        FROM d${i - 1} d JOIN ea ON ea.src = d.node
         |        GROUP BY ea.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |               CAST(count(*) AS BIGINT) AS npairs FROM pairs),
       |ea AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM pairs, tot
       |       WHERE cnt * npairs * 10 >= total * 12
       |       UNION ALL
       |       SELECT n_nationkey, n_nationkey, CAST(0 AS BIGINT) FROM nation),
       |d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS dist
       |       FROM nation WHERE n_nationkey = 0),
       |$rounds
       |SELECT n_name, dist
       |FROM d$BfsRounds JOIN nation ON node = n_nationkey
       |ORDER BY dist, n_name""".stripMargin
  }

  private val LpaRounds = 3

  /** Synchronous label propagation (community detection) over the
    * undirected trade graph — the cheap-and-parallel community primitive
    * (near-linear per round; the first pass production graph clustering
    * reaches for before anything spectral). Each of 3 rounds, every node
    * simultaneously adopts the most frequent label among its neighbors
    * (tie → smallest label; isolated node keeps its own) — all from the
    * PREVIOUS round's labels, so the update is order-independent and
    * engine-exact, unlike the asynchronous variant whose result depends
    * on visit order. The argmax is the `max(struct(count, -label))`
    * selection-aggregate (no window sort), and labels are node ids —
    * pure BIGINTs, so the oracle (the same recurrence unrolled as CTEs
    * with a row_number tiebreak) matches bit-for-bit.
    *
    * Scale shape: per round, ONE equi-join of edges to the label table on
    * dst + two hash aggregates keyed by src — linear in edges, the
    * classic Pregel message pattern as plain relational ops. Labels are
    * `localCheckpoint`'d per round (25 rows here): each round's plan
    * references the previous labels twice (message join + isolated-node
    * fallback), so an uncut lineage would double per round — the
    * [[Dedup.clusterAssign]] lesson.
    */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val base = sparseEdges(spark, sfDir)
    val edges = base.select(col("src"), col("dst"))
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nations = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    var labels = nations
      .select(col("n_nationkey").as("node"),
        col("n_nationkey").cast("long").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to LpaRounds) {
      val best = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
        .select(col("src").as("bn"), (-col("b.nl")).as("blabel"))
      labels = labels
        .join(best, col("node") === col("bn"), "left_outer")
        .select(col("node"), coalesce(col("blabel"), col("label")).as("label"))
        .localCheckpoint(true)
    }
    labels.join(broadcast(nations), col("node") === col("n_nationkey"))
      .select(col("n_name"), col("label").as("community"))
      .orderBy("n_name")
  }

  private val labelPropagationOracle: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS (
         |  SELECT l.node, coalesce(b.blabel, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT src, label AS blabel FROM (
         |      SELECT e.src, p.label, count(*) AS c,
         |        row_number() OVER (PARTITION BY e.src
         |          ORDER BY count(*) DESC, p.label) AS rn
         |      FROM edges e JOIN l${i - 1} p ON e.dst = p.node
         |      GROUP BY e.src, p.label) WHERE rn = 1) b ON b.src = l.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |               CAST(count(*) AS BIGINT) AS npairs FROM pairs),
       |edges0 AS (SELECT src, dst FROM pairs, tot
       |           WHERE cnt * npairs * 10 >= total * 12),
       |edges AS (SELECT src, dst FROM edges0
       |          UNION SELECT dst, src FROM edges0),
       |l0 AS (SELECT n_nationkey AS node,
       |              CAST(n_nationkey AS BIGINT) AS label FROM nation),
       |$rounds
       |SELECT n_name, label AS community
       |FROM l$LpaRounds JOIN nation ON node = n_nationkey
       |ORDER BY n_name""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("graph_pagerank",
      "fixed-point integer PageRank over the nation trade graph, 5 rounds",
      pagerank, Some(pagerankOracle)),
    Query("graph_triangles",
      "per-node triangle counts: canonicalized wedges closed by one join",
      triangles, Some(trianglesOracle)),
    Query("graph_shortest_paths",
      "BFS hop counts from nation 0: self-loop Bellman-Ford, 4 rounds",
      shortestPaths, Some(shortestPathsOracle)),
    Query("graph_label_propagation",
      "synchronous 3-round majority-label communities, integer-exact ties",
      labelPropagation, Some(labelPropagationOracle)),
  )
}
