package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics beyond connected components: PageRank-style
  * authority over the part co-purchase graph (parts are adjacent when some
  * order contains both — the classic item-affinity network; the corpus
  * analogue ranks web domains on the link graph to derive crawl-quality
  * priors).
  *
  * Every quantity is integer: ranks are micro-units (10⁶ per node seeded),
  * damping is `(rank·85) div 100`, the per-neighbor share is a further
  * `div deg`. Long sums are associative-commutative, so the result is
  * bit-identical at ANY parallelism and the DuckDB oracle can state the
  * same arithmetic — the same exact-cents discipline the money aggregates
  * use, applied to an iterative fixpoint computation (floating-point
  * PageRank would differ by summation order on every shuffle).
  *
  * Scale shape (100 TB lens):
  *  - the edge build is one self-equi-join on the order key — partitioned
  *    by `l_orderkey`, never all-pairs; per-order fanout is C(parts,2)
  *    with TPC-H-style bounded order width;
  *  - the edge table is a write-once materialized parquet layout (one
  *    build job, many analyses — a cluster deployment writes it to S3);
  *    degrees are one cached row per node, so each power iteration scans
  *    the edge table once and never re-derives the build join;
  *  - per-iteration work is edges ⋈ contributions + one partial-agg
  *    shuffle of (node, mass); the contribution table is one row per NODE
  *    (20k at sf0.1, domains-not-pages at corpus scale) — broadcastable
  *    far beyond the edge table's growth, so the join is exchange-free on
  *    the 2.4M-row edge side. The broadcast is size-GATED on the actual
  *    node count vs the session broadcast threshold: past the ceiling
  *    (page-level graphs, 10⁹ nodes) every join falls back to a plain
  *    shuffle join, the shape that scales without executor-memory limits.
  */
object GraphOps {

  val RankIters = 3
  val SeedUnits = 1000000L
  val BaseUnits = 150000L // (1-d)·seed with d = 0.85

  /** Conservative wire size of one (long, long) contribution/inbound row
    * inside a broadcast hash relation — key + value + table overhead.
    */
  val BytesPerNodeRow = 48L

  /** Conf key overriding the node-count ceiling for broadcasting the
    * per-node tables inside the rank loop (tests lower it to force the
    * shuffle path; a deployment can raise it with executor memory).
    */
  val MaxBroadcastNodesKey = "graft.graph.maxBroadcastNodes"

  /** Default ceiling (edge count) for broadcasting the triangle query's
    * closing-edge set — deliberately above the generic broadcast
    * threshold because the alternative is shuffling the QUADRATIC wedge
    * set (Σ out-deg² rows) instead of a linear m-row list.
    */
  val MaxBroadcastEdges = 4000000L

  /** Conf key overriding [[MaxBroadcastEdges]] (tests lower it to force
    * the shuffle fallback).
    */
  val MaxBroadcastEdgesKey = "graft.graph.maxBroadcastEdges"

  /** Conf key disabling the packed single-long closing key (tests set it
    * false to pin the wide-id pair-key fallback path against the packed
    * one; auto-gated on max node id < 2³¹ otherwise).
    */
  val PackedCloseKeyKey = "graft.graph.packedCloseKey"

  private val nodesCache =
    scala.collection.mutable.HashMap[String, DataFrame]()

  /** One tiny (node, degree) row per node (~0.5 MB at sf0.1), persisted
    * and memoized per edge layout so the rank iterations, the triangle
    * gate, and repeated calls all reuse ONE frame instead of
    * re-aggregating the multi-million-row edge table each time.
    */
  private def nodeTable(edir: String, edges: DataFrame): DataFrame =
    GraphOps.synchronized {
      nodesCache.getOrElseUpdate(edir,
        edges.groupBy(col("p1").as("node"))
          .agg(count(lit(1)).as("deg"))
          .persist())
    }

  /** The symmetric co-purchase edge table, materialized once per JVM
    * (the production shape: a link/affinity graph is derived by one
    * build job and analyzed by many — [[copurchaseRank]] and
    * [[triangles]] both read this layout). The build is one
    * self-equi-join on the order key + two distincts — all hash-
    * partitioned, nothing quadratic beyond the bounded per-order fanout.
    */
  private def edgeTable(s: SparkSession, d: String): (String, DataFrame) = {
    val edir = graft.sources.SetupOnce.runtimeDir(d, "copurchase_edges")
    graft.sources.SetupOnce(edir) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct() // same part twice in one order is one co-occurrence
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .distinct() // co-purchase in many orders is one edge
      pairs
        .unionByName(pairs.select(col("p2").as("p1"), col("p1").as("p2")))
        .write.mode("overwrite").parquet(edir)
    }
    (edir, s.read.parquet(edir))
  }

  def copurchaseRank(s: SparkSession, d: String): DataFrame = {
    val (edir, edges) = edgeTable(s, d)
    // one tiny row per node (~0.5 MB at sf0.1) — cached so the
    // per-iteration left join and the contribution projection don't
    // re-aggregate 2.4M edges each time. Memoized per edge layout so
    // repeated calls reuse ONE persisted frame instead of pinning a new
    // cache entry (and logging re-registration churn) every run; the
    // entry lives for the JVM like the layout it derives from.
    val nodes = nodeTable(edir, edges)

    // The per-node tables (contrib, inbound) are broadcastable far beyond
    // the edge table's growth at domain-graph scale — but "one row per
    // node" is NOT unconditionally small (a page-level web graph has 10⁹+
    // nodes), so the broadcast is size-GATED: one count of the cached
    // node table (a scalar off an already-persisted frame) against the
    // session's broadcast threshold. Over the ceiling, both joins fall
    // back to plain shuffle joins — edges hash-partition on p1 and nodes
    // on node, the normal distributed shape; GraphOpsSpec pins that both
    // paths produce bit-identical ranks (integer arithmetic, so this is
    // exact, not approximate).
    val nodeCount = nodes.count()
    val maxBroadcastNodes = s.conf.getOption(MaxBroadcastNodesKey)
      .map(_.toLong)
      .getOrElse {
        // Spark's conf machinery already parses the "10MB" forms to bytes;
        // no hand-rolled byte-string parser. A non-positive threshold
        // (auto-broadcast off) still leaves the EXPLICIT hint meaningful,
        // so fall back to the Spark default size rather than disabling
        // the gate entirely
        val bytes = s.sessionState.conf.autoBroadcastJoinThreshold
        (if (bytes > 0) bytes else 10485760L) / BytesPerNodeRow
      }
    val canBroadcast = nodeCount <= maxBroadcastNodes
    def hinted(df: DataFrame): DataFrame =
      if (canBroadcast) broadcast(df) else df

    var ranks = nodes.select(col("node"), col("deg"),
      lit(SeedUnits).as("rank"))
    for (_ <- 1 to RankIters) {
      val contrib = ranks.select(col("node").as("src"),
        expr(s"((rank * 85) div 100) div deg").as("c"))
      val inbound = edges.join(hinted(contrib), col("p1") === col("src"))
        .groupBy(col("p2").as("node"))
        .agg(sum(col("c")).as("in_c"))
      // inbound is one row per node — when it fits, broadcast it over the
      // node table rather than letting size estimates force a sort-merge
      // join; when it doesn't, the left join shuffles on `node`
      ranks = nodes.join(hinted(inbound), Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit(BaseUnits) + coalesce(col("in_c"), lit(0L))).as("rank"))
    }
    ranks.select(col("node").as("p_partkey"), col("deg"), col("rank"))
      .orderBy(col("p_partkey"))
  }

  /** Triangle counting + local clustering coefficient over the same
    * materialized co-purchase graph — the triadic-closure tier of graph
    * analytics above [[copurchaseRank]]'s walk statistics (community
    * detection, spam/anomaly heuristics, and graph-quality priors all
    * threshold on it).
    *
    * Algorithm: degree-ordered orientation (Ortmann/Brandes compact-
    * forward): each undirected edge points from its lexicographically
    * smaller `(degree, id)` endpoint to the larger, which bounds every
    * out-degree by O(√m) regardless of hubs; wedges are the self-join of
    * the oriented edges on their source with the `(deg, id)` order fixing
    * `b ≺ c`, and a triangle is a wedge whose closing `(b, c)` edge
    * exists — stored oriented b→c by construction, so ONE equi-join
    * closes every wedge and each triangle is found exactly once. All
    * joins hash-partition on node keys; wedge volume (Σ out-deg² — 41M
    * at sf0.1, max out-degree 97) is the operator's true cost and the
    * orientation is what keeps it from degenerating on skewed graphs
    * (an unoriented wedge join squares the HUB degrees instead).
    * Output: per node with degree ≥ 2, the triangle count and the local
    * clustering coefficient in exact floor'd ppm —
    * `10⁶·2·tri div (deg·(deg−1))` — pure integers end to end.
    */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val (edir, edges) = edgeTable(s, d)
    val und = edges.filter(col("p1") < col("p2"))
    val deg = nodeTable(edir, edges)
      .select(col("node").as("pk"), col("deg"))
    def ordLt(d1: Column, k1: Column, d2: Column, k2: Column): Column =
      (d1 < d2) || (d1 === d2 && k1 < k2)
    val ori = und
      .join(deg.select(col("pk").as("p1"), col("deg").as("deg1")), Seq("p1"))
      .join(deg.select(col("pk").as("p2"), col("deg").as("deg2")), Seq("p2"))
      .select(
        when(ordLt(col("deg1"), col("p1"), col("deg2"), col("p2")),
          col("p1")).otherwise(col("p2")).as("src"),
        when(ordLt(col("deg1"), col("p1"), col("deg2"), col("p2")),
          col("p2")).otherwise(col("p1")).as("dst"),
        when(ordLt(col("deg1"), col("p1"), col("deg2"), col("p2")),
          col("deg2")).otherwise(col("deg1")).as("ddst"))
    val e1 = ori.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
    val e2 = ori.select(col("src"), col("dst").as("c"), col("ddst").as("dc"))
    // The wedge set (Σ out-deg² — 41M rows at sf0.1) dwarfs the edge set
    // it closes against (m rows, 16 bytes each): shuffling the WEDGES on
    // (b, c) is the naive plan's dominant exchange. The asymmetry
    // justifies a ceiling well above the session's generic broadcast
    // threshold — a Σd² wedge exchange is quadratic in degree while the
    // closing set is linear in m, so up to [[MaxBroadcastEdges]] edges
    // (~64 MB raw, a routine executor-memory spend) the closing list is
    // broadcast as a hash set and the quadratic side never touches the
    // wire. Past the ceiling (page-scale graphs, 10⁹ edges) the plain
    // shuffle join is the fallback shape that never outgrows memory;
    // GraphOpsSpec pins identical triangles on both paths.
    val maxBroadcastEdges = s.conf
      .getOption(MaxBroadcastEdgesKey).map(_.toLong)
      .getOrElse(MaxBroadcastEdges)
    // the undirected edge count is Σdeg/2 off the memoized persisted node
    // table — a tiny agg, not a fresh multi-million-row edge scan per call
    val edgeCount = nodeTable(edir, edges)
      .agg(sum(col("deg"))).head.getLong(0) / 2
    val broadcastable = edgeCount <= maxBroadcastEdges
    // On the BROADCAST path, when every node id fits in 31 bits, the
    // closing key (b, c) packs losslessly into ONE long (b << 32 | c): a
    // single-long join key lets Spark build a LongHashedRelation instead
    // of the generic two-column UnsafeHashedRelation — measured 2.6x on
    // the probe, which is the query's dominant cost (41M wedge probes vs
    // 1.2M closing edges at sf0.1; 385M vs 12M at 10x). The packed
    // column is broadcast-path-ONLY: on the shuffle fallback it would
    // add 8 bytes to every wedge row crossing the wire (+31 GB at 100x —
    // the exchange is the fallback's bottleneck, and (b, c) already
    // hash-partitions exactly as bc would). Wider ids (page-scale
    // graphs) keep the exact pair key; GraphOpsSpec pins packed and
    // pair-key paths identical.
    val maxId = nodeTable(edir, edges)
      .agg(max(col("node"))).head.getLong(0)
    val packable = broadcastable && maxId < (1L << 31) &&
      s.conf.getOption(PackedCloseKeyKey).forall(_.toBoolean)
    def packed(b: Column, c: Column): Column =
      (shiftleft(b, 32) + c).as("bc")
    val wedgeBase = e1.join(e2, Seq("src"))
      .filter(ordLt(col("db"), col("b"), col("dc"), col("c")))
    val wedges =
      if (packable)
        wedgeBase.select(col("src").as("a"), col("b"), col("c"),
          packed(col("b"), col("c")))
      else wedgeBase.select(col("src").as("a"), col("b"), col("c"))
    val closing =
      if (packable) ori.select(packed(col("src"), col("dst")))
      else ori.select(col("dst").as("c"), col("src").as("b"))
    val closingHinted = if (broadcastable) broadcast(closing) else closing
    val tris = wedges.join(closingHinted,
      if (packable) Seq("bc") else Seq("b", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("pk"), "left")
      .select(col("pk").as("p_partkey"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_ppm",
        expr("(1000000 * 2 * n_tri) div (deg * (deg - 1))"))
      .orderBy(col("p_partkey"))
  }

  val trianglesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), und AS (
      |  SELECT DISTINCT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |), deg AS (
      |  SELECT pk, COUNT(*) AS deg FROM (
      |    SELECT p1 AS pk FROM und UNION ALL SELECT p2 FROM und
      |  ) GROUP BY pk
      |), ori AS (
      |  SELECT CASE WHEN (da.deg, u.p1) < (db.deg, u.p2)
      |              THEN u.p1 ELSE u.p2 END AS src,
      |         CASE WHEN (da.deg, u.p1) < (db.deg, u.p2)
      |              THEN u.p2 ELSE u.p1 END AS dst,
      |         CASE WHEN (da.deg, u.p1) < (db.deg, u.p2)
      |              THEN db.deg ELSE da.deg END AS ddst
      |  FROM und u
      |  JOIN deg da ON u.p1 = da.pk JOIN deg db ON u.p2 = db.pk
      |), tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM ori e1
      |  JOIN ori e2 ON e1.src = e2.src
      |    AND ((e1.ddst, e1.dst) < (e2.ddst, e2.dst))
      |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst
      |), pernode AS (
      |  SELECT pk, COUNT(*) AS n_tri FROM (
      |    SELECT a AS pk FROM tri UNION ALL
      |    SELECT b FROM tri UNION ALL
      |    SELECT c FROM tri
      |  ) GROUP BY pk
      |)
      |SELECT deg.pk AS p_partkey, deg.deg,
      |       CAST(COALESCE(pernode.n_tri, 0) AS BIGINT) AS n_tri,
      |       (1000000 * 2 * COALESCE(pernode.n_tri, 0))
      |         // (deg.deg * (deg.deg - 1)) AS cc_ppm
      |FROM deg LEFT JOIN pernode ON deg.pk = pernode.pk
      |WHERE deg.deg >= 2
      |ORDER BY p_partkey""".stripMargin

  /** The identical integer arithmetic, iterations unrolled as CTEs
    * (`//` is DuckDB floor division ≡ `div` on the all-positive units).
    */
  val copurchaseRankSql: String = {
    val iters = (1 to RankIters).map { i =>
      s"""c$i AS (SELECT node AS src, ((rank * 85) // 100) // deg AS c
         |        FROM r${i - 1}),
         |i$i AS (SELECT e.p2 AS node, CAST(SUM(c) AS BIGINT) AS in_c
         |        FROM ed e JOIN c$i ON e.p1 = c$i.src GROUP BY 1),
         |r$i AS (SELECT d.node, d.deg,
         |               CAST($BaseUnits + COALESCE(in_c, 0) AS BIGINT) AS rank
         |        FROM dg d LEFT JOIN i$i ON d.node = i$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |pr AS (SELECT a.pk AS p1, b.pk AS p2
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |       GROUP BY 1, 2),
       |ed AS (SELECT p1, p2 FROM pr
       |       UNION ALL SELECT p2, p1 FROM pr),
       |dg AS (SELECT p1 AS node, COUNT(*) AS deg FROM ed GROUP BY 1),
       |r0 AS (SELECT node, deg, CAST($SeedUnits AS BIGINT) AS rank FROM dg),
       |$iters
       |SELECT node AS p_partkey, deg, rank FROM r$RankIters
       |ORDER BY p_partkey""".stripMargin
  }

  // ---------- BFS levels: frontier expansion over the same graph ----------

  /** Depth bound for [[bfsLevels]] (co-purchase graphs are small-world;
    * every reachable node is found well inside this on the testdata, and
    * the bound keeps the driver loop — and the oracle's recursion —
    * finite regardless of input pathology). When the last allowed round
    * still adds nodes, the result reports `cut` = 1.
    */
  val BfsMaxDepth = 6

  /** BFS level histogram from the lowest part id — graph TRAVERSAL, the
    * iterative family member [[copurchaseRank]] (fixpoint) and
    * [[graft.operators.Dedup]]'s star contraction (component collapse)
    * don't cover: correctness is the MINIMUM level per node, which the
    * expansion gets for free by anti-joining each frontier against the
    * visited set (a node never re-enters, so its first level is its
    * final level). The state is one `(node, level)` frame; [[Fixpoint]]
    * round `l` expands the level `l − 1` frontier with one frontier⋈edges
    * hash join + distinct + one LeftAnti — all keyed on node, nothing
    * quadratic — and the first round that adds nothing ends it. The
    * histogram is observed as `bfsLevels` (`rounds`, `converged`, `cut`).
    * The DuckDB oracle is an independent WITH RECURSIVE
    * expansion + min-per-node regroup; per-level id sums travel as a
    * checksum so a single misplaced node hash-fails.
    */
  def bfsLevels(s: SparkSession, d: String): DataFrame = {
    val (_, edges) = edgeTable(s, d)
    val seed = edges.agg(min(col("p1")).as("node"))
      .select(col("node"), lit(0L).as("level"))
    // `fresh` marks the round's new nodes for the signal only; Fixpoint
    // drops it before the checkpoint
    val run = Fixpoint.iterate(seed, BfsMaxDepth,
        Seq(count(when(col("fresh"), 1)).as("added"))) { (visited, l) =>
      val frontier = visited.filter(col("level") === l - 1)
        .select(col("node").as("p1"))
      val next = edges.join(frontier, Seq("p1"))
        .select(col("p2").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(l.toLong).as("level"), lit(true).as("fresh"))
      visited.withColumn("fresh", lit(false)).unionByName(next)
    } { (_, _, m) => m("added") == 0L }
    val hist = run.state.groupBy(col("level"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"),
        sum(col("node")).as("node_id_sum"))
    run.report(hist, "bfsLevels", lit(if (run.converged) 0 else 1).as("cut"))
      .orderBy(col("level"))
  }

  val bfsLevelsSql: String =
    s"""WITH RECURSIVE li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pr AS (SELECT a.pk AS p1, b.pk AS p2
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |       GROUP BY 1, 2),
       |ed AS (SELECT p1, p2 FROM pr UNION ALL SELECT p2, p1 FROM pr),
       |bfs AS (
       |  SELECT (SELECT MIN(p1) FROM ed) AS node, 0 AS lvl
       |  UNION
       |  SELECT e.p2 AS node, b.lvl + 1 AS lvl
       |  FROM bfs b JOIN ed e ON e.p1 = b.node
       |  WHERE b.lvl < $BfsMaxDepth),
       |lv AS (SELECT node, MIN(lvl) AS level FROM bfs GROUP BY node)
       |SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_nodes,
       |       MIN(node) AS min_node,
       |       CAST(SUM(node) AS BIGINT) AS node_id_sum
       |FROM lv GROUP BY level ORDER BY level""".stripMargin
}
