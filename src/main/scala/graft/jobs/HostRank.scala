package graft.jobs

import graft.QueryDef
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank over a host-link graph — the canonical consumer of the
  * edge tables the reference's pipeline produces (wat_extract_links →
  * hostlinks_to_graph feed exactly this kind of webgraph analysis;
  * rank is also the standard crawl-prioritization / quality-weighting
  * signal in a training-data pipeline).
  *
  * Pure DataFrame iteration: per round, one join of ranks to edges on
  * the source key and one aggregation on the target key — both shuffles
  * are keyed on node ids, so the plan scales with edge count. Dangling
  * mass (sinks) is redistributed uniformly each round, keeping total
  * rank ≈ 1.
  */
object HostRank {

  /** A prepared graph: deduped cached edges, the cached (node, deg)
    * frame every rank variant iterates over, and the node count. Built
    * once and SHARED across the whole graph family for a given
    * (session, sf dir) — pageRank, personalized/weighted variants and
    * HITS all consume the same edge prep, and rebuilding + re-caching
    * it per invocation was the bulk of the personalized variant's
    * +1.2 s over plain pagerank in r11's bench.
    */
  private[jobs] final case class PreparedGraph(e: DataFrame, nodes: DataFrame, n: Long)

  private[jobs] def prepareGraph(edges: DataFrame): PreparedGraph = {
    val e0 = edges.select(col("s"), col("t")).dropDuplicates().cache()
    // deg is a per-NODE constant — join it to the node set ONCE and
    // carry (node, deg) through every round inside the checkpointed
    // frame, instead of re-joining ranks⋈outDeg each iteration (one
    // keyed join per round saved; at cluster scale, one fewer shuffle
    // of the rank table per round)
    val outDeg = e0.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    val nodes = e0.select(col("s").as("node"))
      .union(e0.select(col("t").as("node"))).distinct()
      .join(outDeg, Seq("node"), "left").cache()
    val n = nodes.count() // materializes e0's cache as a side effect
    PreparedGraph(layEdgeCache(e0), nodes, n)
  }

  /** Lay the MATERIALIZED deduped edge cache out for the per-round
    * ranks⋈e join. Two regimes:
    *
    *  - BROADCAST (small edge mass — every test SF): the planner ships
    *    e into each rank join as a broadcast relation, so a cache
    *    layout on the join key is dead weight — it only costs one
    *    extra prep exchange, re-paid whenever the session cache
    *    refills (r16 measured +0.3–0.5 s locally with no payoff).
    *    Keep dropDuplicates' layout.
    *  - SORT-MERGE (edge mass over the broadcast threshold — any real
    *    webgraph): a cache laid out by dropDuplicates' (s, t) hash
    *    re-shuffles the FULL EDGE MASS once per round to satisfy the
    *    join; re-laying it HASH(s) at prep time moves that to ONE
    *    prep exchange shared by the whole graph family (the rank
    *    table still shuffles each round, but it is |nodes| rows
    *    against the edge table's |edges|). The per-round executed plan
    *    shows both regimes.
    *
    * The regime test compares the cache's materialized byte size (the
    * same statistic the planner's broadcast decision reads off the
    * InMemoryRelation) against spark.sql.autoBroadcastJoinThreshold;
    * `spark.graft.graph.edgeLayout` (`auto`/`s`/`none`) overrides.
    */
  private[jobs] def layEdgeCache(e0: DataFrame): DataFrame = {
    val conf = e0.sparkSession.conf
    val relay = conf.getOption("spark.graft.graph.edgeLayout")
      .getOrElse("auto") match {
      case "s" => true
      case "none" => false
      case _ =>
        // the conf value may be a plain number ("-1" disables
        // auto-broadcast; "10485760") or a byte string ("10MB")
        val raw = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
        val thr = raw.toLongOption.getOrElse(
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
        // thr < 0 disables auto-broadcast: every per-round join is
        // sort-merge and the join-key layout always pays
        thr < 0 || e0.queryExecution.optimizedPlan.stats.sizeInBytes > thr
    }
    if (!relay) e0
    else {
      val e = e0.repartition(col("s")).cache()
      e.count()
      e0.unpersist(blocking = false)
      e
    }
  }

  private def releaseGraph(g: PreparedGraph): Unit = {
    g.e.unpersist(blocking = false)
    g.nodes.unpersist(blocking = false); ()
  }

  /** Build-once per (application, sf dir): the order-graph prep shared
    * by the registered graph_* queries. Bounded: ONE cached graph per
    * (session, sf) however many family members run, instead of each
    * invocation building + caching + dropping its own copy.
    */
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[String, PreparedGraph]()


  private def orderGraph(s: SparkSession, dir: String): PreparedGraph = {
    val g = graft.util.Caches.fill(graphCache,
      s.sparkContext.applicationId + ":" + dir, releaseGraph) {
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      // long node ids shuffle far cheaper than string keys; prefix only
      // for display (customers < 1e6 <= suppliers)
      prepareGraph(o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("s"), (col("l_suppkey") + 1000000L).as("t")))
    }
    // the bench barrier (and any notebook user) may clearCache() between
    // invocations — a stale handle would silently iterate the per-round
    // joins over UNCACHED join lineage; re-mark and let the first action
    // repopulate
    import org.apache.spark.storage.StorageLevel
    if (g.e.storageLevel == StorageLevel.NONE) g.e.cache()
    if (g.nodes.storageLevel == StorageLevel.NONE) g.nodes.cache()
    g
  }

  /** edges: (s, t) of any node type. Returns (node, rank). */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val g = prepareGraph(edges)
    // final ranks are materialized by the checkpointer — release the
    // per-call graph caches so repeated invocations in one session
    // (bench runs, notebooks) don't accumulate storage-memory leaks
    try pageRankCore(g, iters, damping) finally releaseGraph(g)
  }

  private def pageRankCore(g: PreparedGraph, iters: Int, damping: Double): DataFrame = {
    val spark = g.e.sparkSession
    val n = g.n.toDouble
    // per-round materialization breaks the two-branch (dangling +
    // contribs) recompute fanout; the every-few-rounds reliable
    // checkpoint bounds lineage and survives executor loss without
    // paying a full ranks disk-write per round
    val ckpt = new graft.util.Checkpoints.IterationCheckpointer(
      interval = spark.conf.getOption("spark.graft.checkpointInterval").map(_.toInt).getOrElse(1))
    var ranks = g.nodes.withColumn("rank", lit(1.0 / n)) // (node, deg, rank)
    for (_ <- 1 to iters) {
      // dangling nodes (no out-edges) spread their rank uniformly. The
      // dangling mass stays IN the plan as a broadcast 1-row aggregate
      // (no driver .head() round-trip), so each iteration is a single
      // materializing action.
      val danglingMass = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = ranks.filter(col("deg").isNotNull)
        .join(g.e, col("node") === col("s"))
        .select(col("t").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_rank"))
      ranks = ckpt.next(
        g.nodes.join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(danglingMass))
          .select(col("node"), col("deg"),
            (lit((1.0 - damping) / n) + lit(damping / n) * col("dm") +
              lit(damping) * coalesce(col("in_rank"), lit(0.0))).as("rank")))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Personalized (topic-sensitive) PageRank — Haveliwala 2002: the
    * teleport distribution concentrates on a SEED node set instead of
    * uniform 1/n, so rank mass flows outward from the seeds and the
    * result ranks nodes by proximity-weighted reachability from them
    * (the "trusted hosts" / "topic hub" ranking a crawl-frontier
    * scheduler or TrustRank-style spam filter runs). Same per-round
    * plan as [[pageRank]] — dangling mass redistributes to the TELEPORT
    * vector (seeds), not uniformly — with p0 carried as a node column
    * through the checkpointed frame; zero extra shuffles vs the
    * uniform variant.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    val g = prepareGraph(edges)
    try personalizedCore(g, seeds, iters, damping) finally releaseGraph(g)
  }

  /** The iteration over a prepared graph. Seeds may carry an optional
    * `w` weight column (crawl-frontier priority, TrustRank seed decay):
    * the teleport vector becomes p0(v) = w(v) / Σw over the seeds
    * PRESENT in the graph — with no `w`, every seed weighs 1.0 and
    * Σw = |seeds| exactly (integer-valued doubles), so p0 is the same
    * 1/ns IEEE division as the uniform-seed form.
    */
  private def personalizedCore(g: PreparedGraph, seeds: DataFrame, iters: Int,
                               damping: Double): DataFrame =
    personalizedPrep(g, seeds) match {
      // no seeds in the graph (empty crawl shard, or a reference set
      // disjoint from it): the teleport vector is all-zero, so every
      // rank is zero — return that rather than throwing, the same
      // empty-shard robustness contract every batch query keeps
      case None => g.nodes.select(col("node"), lit(0.0).as("rank"))
      case Some(nodes) =>
        try personalizedIter(g, nodes, iters, damping)
        finally { nodes.unpersist(blocking = false); () }
    }

  /** The (node, deg, p0) frame a seeded iteration consumes — the seed
    * semi-join, the Σw driver aggregate, and the p0 join, i.e. every
    * per-seed-set cost OUTSIDE the per-round loop. None = no seed mass
    * lands in the graph. The registered variants cache this per
    * (session, sf, seed set) so repeated invocations pay only the
    * iteration — the r12 bench had personalized at 1.27× plain
    * pagerank, and this prep was the whole gap.
    */
  private def personalizedPrep(g: PreparedGraph, seeds: DataFrame): Option[DataFrame] = {
    val wCol = if (seeds.columns.contains("w")) col("w").cast("double") else lit(1.0)
    // teleport vector: mass only on seeds PRESENT in the graph (seeds
    // outside it carry none — the reference-set semantics); max() makes
    // a conflicting duplicate seed row deterministic
    val seedIn = seeds.select(col("node"), wCol.as("w"))
      .groupBy(col("node")).agg(max(col("w")).as("w"))
      .join(g.nodes.select(col("node")), Seq("node"), "left_semi").cache()
    try {
      // bounded driver artifact: one 1-row aggregate over the seed set
      val wsum = seedIn.agg(coalesce(sum(col("w")), lit(0.0))).collect()(0).getDouble(0)
      if (wsum <= 0) None
      else Some(g.nodes
        .join(seedIn.withColumn("p0", col("w") / lit(wsum)).drop("w"),
          Seq("node"), "left")
        .na.fill(0.0, Seq("p0")).cache())
    } finally { seedIn.unpersist(blocking = false); () }
  }

  /** The per-round loop over a prepared (node, deg, p0) frame — the
    * same two keyed join+aggs per round as [[pageRankCore]]; zero
    * extra shuffles vs the uniform variant.
    */
  private def personalizedIter(g: PreparedGraph, nodes: DataFrame, iters: Int,
                               damping: Double): DataFrame = {
    val spark = g.e.sparkSession
    val ckpt = new graft.util.Checkpoints.IterationCheckpointer(
      interval = spark.conf.getOption("spark.graft.checkpointInterval").map(_.toInt).getOrElse(1))
    var ranks = nodes.withColumn("rank", col("p0")) // (node, deg, p0, rank)
    for (_ <- 1 to iters) {
      val danglingMass = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = ranks.filter(col("deg").isNotNull)
        .join(g.e, col("node") === col("s"))
        .select(col("t").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_rank"))
      ranks = ckpt.next(
        nodes.join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(danglingMass))
          .select(col("node"), col("p0"), col("deg"),
            (lit(1.0 - damping) * col("p0") +
              lit(damping) * col("p0") * col("dm") +
              lit(damping) * coalesce(col("in_rank"), lit(0.0))).as("rank")))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Seeded (node, deg, p0) preps over the SHARED order graph, cached
    * per (session, sf, seed tag) — see [[personalizedPrep]].
    */
  private val seededCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[DataFrame]]()

  private def seededOrderNodes(s: SparkSession, dir: String, tag: String)(
      seedsOf: PreparedGraph => DataFrame): (PreparedGraph, Option[DataFrame]) = {
    val g = orderGraph(s, dir)
    val nodesOpt = graft.util.Caches.fill(seededCache,
      s.sparkContext.applicationId + ":" + dir + ":" + tag,
      (v: Option[org.apache.spark.sql.DataFrame]) =>
        v.foreach(_.unpersist(blocking = false))) {
      personalizedPrep(g, seedsOf(g))
    }
    // re-cache guard, same rationale as orderGraph
    import org.apache.spark.storage.StorageLevel
    nodesOpt.foreach(n => if (n.storageLevel == StorageLevel.NONE) n.cache())
    (g, nodesOpt)
  }

  /** HITS hubs/authorities (Kleinberg 1999) — the other classic webgraph
    * rank the host-link tables feed. Power iteration with per-round L1
    * normalization in DOUBLE (the pageRank float shape): scores stay in
    * [0,1] forever, so there is no accumulation cliff at any iteration
    * depth or graph density (the previous integer-in-DECIMAL(38,0) form
    * overflowed ~3 orders of magnitude above the bench graph's h_3).
    *
    * Only ONE normalization is needed per round: scalars commute through
    * the linear maps, so the authority normalization cancels inside
    * h_k = A·a_k / ‖A·a_k‖ and the composed round is
    * h_k(s) = Σ_{(s,t)} ar(t) / Σ_{(s',t)∈E} ar(t) with ar = Aᵀh_{k-1}.
    * One checkpoint per round (h only — not both half-steps): the 1-row
    * L1 total stays in-plan as a broadcast aggregate, and its second use
    * of the hub subtree is collapsed at runtime by exchange reuse, so a
    * round executes exactly two keyed join+aggs — shuffles scale with
    * edge count, nothing round-trips the driver.
    *
    * Returns the UNNORMALIZED authority scores a_iters = Aᵀh_{iters-1};
    * callers normalize once at the end (same direction as normalizing
    * every half-step, again because scalars commute).
    */
  def hits(edges0: DataFrame, iters: Int = 3): DataFrame = {
    // same regime-gated join-key layout as prepareGraph: above the
    // broadcast threshold both h-push joins per round key on s (the
    // ar-pull keys on t and still exchanges — one edge shuffle per
    // round instead of two); below it the joins broadcast e and the
    // layout would be dead weight
    val e0 = edges0.select(col("s"), col("t")).dropDuplicates().cache()
    e0.count()
    val e = layEdgeCache(e0)
    try hitsCore(e, iters) finally { e.unpersist(blocking = false); () }
  }

  private def hitsCore(e: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    val ckpt = new graft.util.Checkpoints.IterationCheckpointer(
      interval = spark.conf.getOption("spark.graft.checkpointInterval")
        .map(_.toInt).getOrElse(1))
    // h_0 = 1.0 over source nodes: the uniform 1/n init's constant
    // cancels through the first L1 normalization (scalars commute), and
    // sink nodes contribute 0 to every ar whatever their h — so the
    // all-nodes union/distinct + count() driver job the 1/n form needed
    // buy nothing. Bonus: round-1 sums of 1.0 are exact integers in
    // double, removing fp noise right where both engines start.
    var h = e.select(col("s").as("node")).distinct().withColumn("h", lit(1.0))
    for (_ <- 1 to iters - 1) {
      val ar = e.join(h.select(col("node").as("s"), col("h")), "s")
        .groupBy(col("t").as("node")).agg(sum(col("h")).as("ar"))
      val hr = e.join(ar.select(col("node").as("t"), col("ar")), "t")
        .groupBy(col("s").as("node")).agg(sum(col("ar")).as("hr"))
      val ht = hr.agg(sum(col("hr")).as("ht"))
      h = ckpt.next(
        hr.crossJoin(broadcast(ht))
          .select(col("node"), (col("hr") / col("ht")).as("h")))
    }
    e.join(h.select(col("node").as("s"), col("h")), "s")
      .groupBy(col("t").as("node")).agg(sum(col("h")).as("a"))
  }

  /** Registered query: rank the customer→supplier order graph (a stand-in
    * host graph derived from the test tables), top 20.
    */
  val hostRank: QueryDef = QueryDef(
    "graph_pagerank",
    (s, dir) => {
      pageRankCore(orderGraph(s, dir), iters = 3, damping = 0.85)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
        .select(
          when(col("node") < 1000000L, concat(lit("c"), col("node")))
            .otherwise(concat(lit("s"), col("node") - 1000000L)).as("node"),
          round(col("rank"), 6).as("rank"))
    },
    // DuckDB mirrors the iteration as a recursive CTE: the recursive term
    // sees exactly the previous iteration's working table, which IS the
    // per-round DataFrame semantics above (uniform init, dangling mass
    // redistributed, 3 updates). Hash-matching at 6dp across engines
    // despite different summation orders — rank magnitudes (~1e-2) leave
    // ulp-level differences far below the rounding quantum.
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS t
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT s AS node FROM edges UNION ALL SELECT t AS node FROM edges)),
      deg AS (SELECT s AS node, COUNT(*) AS deg FROM edges GROUP BY s),
      params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      pr(iter, node, rank) AS (
        SELECT 0, node, 1.0 / (SELECT n FROM params) FROM nodes
        UNION ALL
        SELECT p.iter + 1, p.node,
          0.15 / (SELECT n FROM params)
          + 0.85 / (SELECT n FROM params) *
            (SELECT coalesce(SUM(c.rank), 0) FROM pr c
             WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = c.node))
          + 0.85 * coalesce((SELECT SUM(c2.rank / d2.deg)
              FROM pr c2 JOIN deg d2 ON c2.node = d2.node
              JOIN edges e ON e.s = c2.node
              WHERE e.t = p.node), 0)
        FROM pr p WHERE p.iter < 3
      ),
      final AS (SELECT node, rank FROM pr WHERE iter = 3
                ORDER BY rank DESC, node LIMIT 20)
      SELECT CASE WHEN node < 1000000 THEN 'c' || CAST(node AS VARCHAR)
                  ELSE 's' || CAST(node - 1000000 AS VARCHAR) END AS node,
             round(rank, 6) AS rank
      FROM final"""))

  /** Registered query: topic-sensitive rank of the same order graph,
    * teleporting to the customer nodes with custkey % 50 = 0 (3 seeds
    * at sf0.001 — probed non-empty at every SF before registration).
    * The bipartite shape makes the semantics visible in the output:
    * non-seed customers have no in-edges and ZERO teleport mass, so
    * their rank is exactly 0 — only seeds and supplier nodes reachable
    * from them carry mass. Oracle: the graph_pagerank recursive CTE
    * with the teleport vector swapped in (p0 join instead of the 1/n
    * constant; dangling mass × p0 instead of /n). The oracle's
    * `node < 1000000` seed guard mirrors the custkey < 1e6 id-encoding
    * assumption this whole query family (graph_pagerank/graph_hits'
    * `suppkey + 1000000` scheme) already makes about the fixtures —
    * a corpus that breaks it breaks the encoding first.
    */
  val hostRankPersonalized: QueryDef = QueryDef(
    "graph_pagerank_personalized",
    (s, dir) => {
      // graph customer nodes ARE exactly the custkeys with lineitems, so
      // seeding from the cached node set equals seeding from orders
      // (the oracle's `node < 1000000 AND node % 50 = 0` CTE, verbatim);
      // the (node, deg, p0) prep is cached per (session, sf, seed set)
      val (g, nodesOpt) = seededOrderNodes(s, dir, "mod50-uniform")(g =>
        g.nodes
          .filter(col("node") < 1000000L && col("node") % 50 === 0)
          .select(col("node")))
      nodesOpt.map(personalizedIter(g, _, iters = 3, damping = 0.85))
        .getOrElse(g.nodes.select(col("node"), lit(0.0).as("rank")))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
        .select(
          when(col("node") < 1000000L, concat(lit("c"), col("node")))
            .otherwise(concat(lit("s"), col("node") - 1000000L)).as("node"),
          round(col("rank"), 6).as("rank"))
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS t
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT s AS node FROM edges UNION ALL SELECT t AS node FROM edges)),
      deg AS (SELECT s AS node, COUNT(*) AS deg FROM edges GROUP BY s),
      seeds AS (SELECT node FROM nodes WHERE node < 1000000 AND node % 50 = 0),
      params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
      p0v AS (SELECT n.node,
          CASE WHEN sd.node IS NOT NULL THEN 1.0 / (SELECT ns FROM params)
               ELSE 0.0 END AS p0
        FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node),
      pr(iter, node, rank) AS (
        SELECT 0, node, p0 FROM p0v
        UNION ALL
        SELECT p.iter + 1, p.node,
          0.15 * v.p0
          + 0.85 * v.p0 *
            (SELECT coalesce(SUM(c.rank), 0) FROM pr c
             WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = c.node))
          + 0.85 * coalesce((SELECT SUM(c2.rank / d2.deg)
              FROM pr c2 JOIN deg d2 ON c2.node = d2.node
              JOIN edges e ON e.s = c2.node
              WHERE e.t = p.node), 0)
        FROM pr p JOIN p0v v ON v.node = p.node WHERE p.iter < 3
      ),
      final AS (SELECT node, rank FROM pr WHERE iter = 3
                ORDER BY rank DESC, node LIMIT 20)
      SELECT CASE WHEN node < 1000000 THEN 'c' || CAST(node AS VARCHAR)
                  ELSE 's' || CAST(node - 1000000 AS VARCHAR) END AS node,
             round(rank, 6) AS rank
      FROM final"""))

  /** Registered query: WEIGHTED personalized rank — the same seed set
    * with non-uniform teleport mass p0(v) ∝ 2^(custkey mod 3), the
    * crawl-frontier-priority / TrustRank-seed-decay shape: the teleport
    * column generalizes to arbitrary caller-supplied mass, and the
    * oracle's p0v CTE parameterizes the same way. Weights and their sum
    * are integer-valued doubles, so p0 = w/Σw is one IEEE division —
    * bit-identical across engines. The specific weight function also
    * keeps Σw NON-dyadic at every fixture SF (7 / 70 / 696 — each with
    * an odd non-5 factor), so rank values are non-terminating decimals
    * that can never sit EXACTLY on a 6dp half-boundary where the two
    * engines' ulp-level summation-order noise would round apart (the
    * (mod 7)+1 form produced Σw = 6 at sf0.001 and a true rank of
    * exactly 0.0430625 — a coin-flip at the rounding gate).
    */
  val hostRankWeighted: QueryDef = QueryDef(
    "graph_pagerank_weighted",
    (s, dir) => {
      val (g, nodesOpt) = seededOrderNodes(s, dir, "mod50-pow2")(g =>
        g.nodes
          .filter(col("node") < 1000000L && col("node") % 50 === 0)
          .select(col("node"),
            pow(lit(2.0), (col("node") % 3).cast("double")).as("w")))
      nodesOpt.map(personalizedIter(g, _, iters = 3, damping = 0.85))
        .getOrElse(g.nodes.select(col("node"), lit(0.0).as("rank")))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
        .select(
          when(col("node") < 1000000L, concat(lit("c"), col("node")))
            .otherwise(concat(lit("s"), col("node") - 1000000L)).as("node"),
          round(col("rank"), 6).as("rank"))
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS t
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT s AS node FROM edges UNION ALL SELECT t AS node FROM edges)),
      deg AS (SELECT s AS node, COUNT(*) AS deg FROM edges GROUP BY s),
      seeds AS (SELECT node, CAST(POWER(2, node % 3) AS DOUBLE) AS w FROM nodes
                WHERE node < 1000000 AND node % 50 = 0),
      params AS (SELECT SUM(w) AS ws FROM seeds),
      p0v AS (SELECT n.node,
          CASE WHEN sd.node IS NOT NULL THEN sd.w / (SELECT ws FROM params)
               ELSE 0.0 END AS p0
        FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node),
      pr(iter, node, rank) AS (
        SELECT 0, node, p0 FROM p0v
        UNION ALL
        SELECT p.iter + 1, p.node,
          0.15 * v.p0
          + 0.85 * v.p0 *
            (SELECT coalesce(SUM(c.rank), 0) FROM pr c
             WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = c.node))
          + 0.85 * coalesce((SELECT SUM(c2.rank / d2.deg)
              FROM pr c2 JOIN deg d2 ON c2.node = d2.node
              JOIN edges e ON e.s = c2.node
              WHERE e.t = p.node), 0)
        FROM pr p JOIN p0v v ON v.node = p.node WHERE p.iter < 3
      ),
      final AS (SELECT node, rank FROM pr WHERE iter = 3
                ORDER BY rank DESC, node LIMIT 20)
      SELECT CASE WHEN node < 1000000 THEN 'c' || CAST(node AS VARCHAR)
                  ELSE 's' || CAST(node - 1000000 AS VARCHAR) END AS node,
             round(rank, 6) AS rank
      FROM final"""))

  /** Registered query: top-20 authorities of the same order graph. The
    * DuckDB mirror carries the L1-normalized h through the recursive CTE
    * (iteration k's working table is exactly h_k — the single per-round
    * division mirrors hits()'s composed-round normalization) and computes
    * a_3 = Aᵀh_2 outside it. The top-20 is ranked by the 6dp-ROUNDED
    * normalized authority: quantizing before ranking means ulp-level
    * summation-order differences between engines cannot reorder the
    * boundary, and exact 6dp ties break on the node id deterministically.
    */
  val graphHits: QueryDef = QueryDef(
    "graph_hits",
    (s, dir) => {
      val auth = hitsCore(orderGraph(s, dir).e, iters = 3)
      val tot = auth.agg(sum(col("a")).as("tot"))
      auth.crossJoin(broadcast(tot))
        .select(col("node"), round(col("a") / col("tot"), 6).as("authority"))
        .orderBy(col("authority").desc, col("node")).limit(20)
        .select(
          when(col("node") < 1000000L, concat(lit("c"), col("node")))
            .otherwise(concat(lit("s"), col("node") - 1000000L)).as("node"),
          col("authority"))
    },
    Some("""WITH RECURSIVE
      edges AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS t
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      hh(iter, node, h) AS (
        SELECT 0, s AS node, CAST(1.0 AS DOUBLE) AS h
        FROM (SELECT DISTINCT s FROM edges)
        UNION ALL
        SELECT p.iter + 1, p.node,
          coalesce((SELECT SUM(x.ar) FROM
            (SELECT e.t AS tt, SUM(c.h) AS ar FROM hh c
             JOIN edges e ON e.s = c.node GROUP BY e.t) x
            JOIN edges e2 ON e2.t = x.tt
            WHERE e2.s = p.node), 0)
          / (SELECT SUM(y.ar) FROM
            (SELECT e3.t AS tt, SUM(c2.h) AS ar FROM hh c2
             JOIN edges e3 ON e3.s = c2.node GROUP BY e3.t) y
            JOIN edges e4 ON e4.t = y.tt)
        FROM hh p WHERE p.iter < 2
      ),
      auth AS (SELECT e.t AS node, SUM(c.h) AS a
               FROM hh c JOIN edges e ON e.s = c.node
               WHERE c.iter = 2 GROUP BY e.t),
      tot AS (SELECT SUM(a) AS tot FROM auth),
      final AS (SELECT node, round(a / (SELECT tot FROM tot), 6) AS authority
                FROM auth ORDER BY authority DESC, node LIMIT 20)
      SELECT CASE WHEN node < 1000000 THEN 'c' || CAST(node AS VARCHAR)
                  ELSE 's' || CAST(node - 1000000 AS VARCHAR) END AS node,
             authority
      FROM final"""))
}
