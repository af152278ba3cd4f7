package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.RefTransforms.cents

/** Relational [EXT] operators over the driver's star schema (SURVEY.md
  * §2e-§2i): joins, aggregations, rollup/cube, set ops, top-k, window
  * analytics, and the upsert/last-writer-wins pattern that replaces the
  * reference's per-row `INSERT ... ON CONFLICT` (lambda_function.py:224-256)
  * with one set-oriented window dedup.
  *
  * Scale notes (100 TB thinking, verified via .explain on local runs):
  *  - fact⋈fact joins (orders⋈lineitem) stay sort-merge on the join key —
  *    both sides shuffle once on the key; at cluster scale bucketing both
  *    tables by orderkey would eliminate that shuffle entirely.
  *  - genuinely-small dimensions (nation: 25 rows at ANY scale factor) are
  *    broadcast explicitly; customer/orders are NOT broadcast since they
  *    grow with SF.
  *  - all money aggregates sum exact integer cents (RefTransforms.cents) so
  *    results are partition-order-independent — required both for the DuckDB
  *    oracle hash and for deterministic re-runs on a real cluster.
  *  - aggregates are partial (map-side combine) by construction: groupBy.agg
  *    with sum/count compiles to HashAggregate(partial) → shuffle →
  *    HashAggregate(final).
  */
object Relational {

  /** J1 — three-way equi-join: filtered customers ⋈ orders ⋈ lineitem,
    * revenue per order, top 10. TPC-H Q3 shape. The customer filter is
    * pushed to the parquet scan; join order left to Catalyst/AQE.
    */
  def joinEnrich(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val joinEnrichSql: String =
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       COUNT(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey
      |ORDER BY revenue_cents DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** J1 left join + broadcast dim: per-customer order stats with nation name.
    * `broadcast(nation)` is correct at every scale — nation is 25 rows at
    * SF100k too.
    */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val o = Tables.orders(s, d)
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("n_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spend_cents"))
      .orderBy(col("c_custkey"))
  }

  val joinLeftSql: String =
    """SELECT c_custkey, n_name,
      |       COUNT(o_orderkey) AS n_orders,
      |       COALESCE(CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT), 0) AS spend_cents
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, n_name
      |ORDER BY c_custkey""".stripMargin

  /** J2 — left-semi: customers holding at least one 'F' order. */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** J2 — left-anti: customers with no orders at all. */
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** J1 at scale — bucketed co-located join: both fact tables are written
    * bucketed+sorted on the join key, so the sort-merge join needs NO
    * exchange and NO sort on either side (verify: the plan between the two
    * scans and the SortMergeJoin contains no `Exchange hashpartitioning` —
    * asserted by RelationalSpec). This is the technique that removes the
    * dominant shuffle of repeated fact⋈fact joins at 100 TB: pay the
    * bucketed write once, join shuffle-free forever after.
    */
  val JoinBuckets = 8

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    // cache key = full dataset path (not basename: two datasets named
    // "sf0.1" in different parents must not alias), sanitized for the
    // catalog; both tables checked so a failure between the two writes
    // can't wedge the session with a half-created pair
    val canonical = new java.io.File(d).getCanonicalPath
    val tag = s"${canonical.replaceAll("[^A-Za-z0-9]", "_")}".toLowerCase
    val (ot, lt) = (s"orders_b_$tag", s"lineitem_b_$tag")
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
      // the in-memory catalog forgets tables across sessions in one JVM
      // but the warehouse directories persist — clear stale locations
      // (warehouse itself is per-JVM, see Sessions)
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(ot, lt).foreach { t =>
        val dir = java.nio.file.Paths.get(wh, t)
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          val st = java.nio.file.Files.walk(dir)
          try st.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
          finally st.close()
        }
      }
      // project to the joined/aggregated columns before the one-time write:
      // the bucketed tables are a purpose-built join index, not a full copy
      // (2 of 9 order columns, 3 of 11 lineitem columns)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite")
        .bucketBy(JoinBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite")
        .bucketBy(JoinBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
    }
    // merge hint: at test scale AQE would broadcast the small side, hiding
    // the point; at 100 TB SMJ is the only option and the buckets make it
    // exchange-free
    s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy(col("o_orderstatus"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** A2 — TPC-H Q1-shaped grouped aggregate: partial+final hash agg, exact
    * cent arithmetic, avg derived as exact-sum / count (deterministic double
    * division, identical in DuckDB).
    */
  def aggPricingSummary(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).filter(col("l_quantity") <= 45)
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
        count(lit(1)).as("n"))
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("n").cast("double"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val aggPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |FROM lineitem
      |WHERE l_quantity <= 45
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A3 — exact distinct counts per group (expands to two-phase distinct
    * aggregation; at scale the partial distinct happens map-side).
    */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val aggDistinctSql: String =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A3 — HyperLogLog++ approximate distinct: the scale path for dedup-style
    * counting (constant memory per group regardless of cardinality). Sketch
    * internals are engine-specific, so this query has no DuckDB oracle —
    * the driver records a rows-only check — but the output is
    * SELF-VALIDATING: the exact distinct rides along in the same row with
    * the relative error and a within-5%-bound flag, so even the rows-only
    * record shows the sketch inside its configured rsd on inspection (the
    * ScalaTest spec asserts the flag; one scan — the distinct aggregate
    * makes it an Expand-based multi-phase aggregation, not a single
    * partial+final pass). The exact twin exists to VALIDATE the sketch —
    * the same verify-the-candidates pattern the dedup sketches use — and
    * is what a deployment drops at the cardinalities where only the
    * constant-memory HLL++ path survives; the pure sketch shape is
    * `q_agg_distinct`'s plan minus the exact columns.
    */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    // spread: the Expand doubles every input row before the first
    // exchange, so the single-split local file serializes 2x600k rows of
    // HLL updates onto one core without it
    Tables.spread(Tables.lineitem(s, d), col("l_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .withColumn("rel_err",
        abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts").cast("double"))
      .withColumn("within_bound", col("rel_err") <= 0.05)
      // the HASH-GATED flag is 4σ, not 2.5σ: rsd=0.02 makes the 5% flag a
      // ~1.2%-per-group coin flip on REGENERATED data (the driver rebuilds
      // testdata every round), which would read as an engine regression
      // that isn't one. 8% ≈ 4σ → P(flip) ≈ 6e-5 per group; a real sketch
      // regression blows far past either bound. The tight 5% stays here,
      // spec-asserted on the current corpus.
      .withColumn("within_gate", col("rel_err") <= 0.08)
      .orderBy(col("l_returnflag"))

  /** The hash-gated shape of [[aggApproxDistinct]]: the HLL++ estimate is
    * engine-specific (DuckDB cannot evaluate the sketch), but its 5%
    * relative-error contract against the exact distinct is a boolean this
    * query computes in-row. Emit only the oracle-derivable columns — group,
    * exact distinct, and the bound flag the oracle states as TRUE — so a
    * sketch regression fails the HASH gate instead of hiding behind a
    * rows-only record. Rich estimate/error columns stay on
    * [[aggApproxDistinct]] (spec-asserted).
    */
  def aggApproxDistinctChecked(s: SparkSession, d: String): DataFrame =
    aggApproxDistinct(s, d)
      .select(col("l_returnflag"), col("exact_parts"), col("within_gate"))

  val aggApproxDistinctCheckedSql: String =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS exact_parts,
      |       TRUE AS within_gate
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A3-family sketch: approximate quantiles (the KLL/GK-style mergeable
    * sketch behind `percentile_approx`) beside their own validity check.
    * The sketch's merge is order-dependent, so the value is not
    * byte-reproducible and the driver records a rows-only check — but the
    * GUARANTEE it ships with is a RANK bound, not a value bound, and that
    * is checkable in-query: the returned value is an actual data point
    * whose rank RANGE `[count(<v), count(≤v)]/n` must intersect
    * `[p−1/accuracy, p+1/accuracy]` — on discrete data a single value can
    * hold percent-scale probability mass, so checking only `count(≤v)/n`
    * against p would false-fail the sketch. The query
    * emits both rank fractions and the bound flag per group, so even the
    * rows-only entry is self-validating (same pattern as
    * `q_approx_distinct`; bound also asserted in RelationalSpec). Shape at
    * scale: one partial+final sketch aggregation, then the tiny per-group
    * sketch results broadcast back for ONE conditional-count pass — two
    * scans, no wide shuffle.
    */
  val QuantileAccuracy = 1000
  val QuantileProbes   = Seq(0.25, 0.5, 0.75)

  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val probes = QuantileProbes
    val ap = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_quantity"),
        array(probes.map(lit): _*), lit(QuantileAccuracy)).as("qs"),
        count(lit(1)).as("n"))
    val rankFracs = probes.indices.flatMap { i =>
      Seq(
        (sum(when(col("l_quantity") < col("qs")(i), 1L).otherwise(0L))
          .cast("double") / first(col("n")).cast("double")).as(s"rf_lo$i"),
        (sum(when(col("l_quantity") <= col("qs")(i), 1L).otherwise(0L))
          .cast("double") / first(col("n")).cast("double")).as(s"rf_hi$i"))
    }
    val eps = 1.0 / QuantileAccuracy + 1e-9
    val bounds = probes.zipWithIndex.map { case (p, i) =>
      col(s"rf_lo$i") <= lit(p + eps) && col(s"rf_hi$i") >= lit(p - eps)
    }
    val aggCols =
      Seq(first(col("n")).as("n"),
        first(col("qs")(0)).as("q25"), first(col("qs")(1)).as("q50"),
        first(col("qs")(2)).as("q75")) ++ rankFracs
    Tables.lineitem(s, d)
      .join(broadcast(ap), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("within_bound", bounds.reduce(_ && _))
      .orderBy(col("l_returnflag"))
  }

  /** Per-mille probe positions and their ±1‰ rank windows — the integer
    * restatement of [[QuantileProbes]] ± 1/[[QuantileAccuracy]], shared by
    * the checked projection and its oracle so both state the same bounds.
    */
  val QuantilePermille: Seq[Int] = QuantileProbes.map(p => (p * 1000).round.toInt)

  /** The hash-gated shape of [[approxQuantiles]]: the sketch VALUES are
    * engine-specific (order-dependent KLL merge) and can never match a
    * DuckDB recomputation byte-for-byte, but the sketch's CONTRACT — each
    * returned value's rank lies inside the ±1/accuracy window — is a
    * boolean the query computes exactly from its own data. So the checked
    * projection emits only columns the oracle derives independently: the
    * exact group count, the integer rank windows (pure functions of n and
    * the probe), and `within_bound`, which the oracle states as literal
    * TRUE. A sketch regression that breaks the rank guarantee flips the
    * flag and fails the HASH gate — strictly stronger than the old
    * rows-only record, with the rich diagnostic columns still available in
    * [[approxQuantiles]] (spec-asserted).
    */
  def approxQuantilesChecked(s: SparkSession, d: String): DataFrame = {
    val bounds = QuantilePermille.flatMap { pm =>
      Seq(
        expr(s"(${pm - 1} * n + 999) div 1000").as(s"lo_rank_$pm"),
        expr(s"(${pm + 1} * n) div 1000").as(s"hi_rank_$pm"))
    }
    approxQuantiles(s, d)
      .select(col("l_returnflag") +: col("n") +: bounds :+ col("within_bound"): _*)
  }

  val approxQuantilesCheckedSql: String = {
    val bounds = QuantilePermille.flatMap { pm =>
      Seq(
        s"CAST((${pm - 1} * COUNT(*) + 999) // 1000 AS BIGINT) AS lo_rank_$pm",
        s"CAST((${pm + 1} * COUNT(*)) // 1000 AS BIGINT) AS hi_rank_$pm")
    }.mkString(",\n      |       ")
    s"""SELECT l_returnflag, COUNT(*) AS n,
      |       $bounds,
      |       TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** A4 — rollup over the time hierarchy implied by the reference's
    * year=/month= partition layout (` s3_uploader.py`:113-118).
    */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        col("o_totalprice"))
      .rollup(col("y"), col("m"))
      .agg(sum(cents(col("o_totalprice"))).as("total_cents"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("y").cast("string"), lit("ALL")).as("y"),
        coalesce(col("m").cast("string"), lit("ALL")).as("m"),
        col("total_cents"), col("n"))
      .orderBy(col("y"), col("m"))

  val aggRollupSql: String =
    """SELECT COALESCE(CAST(y AS VARCHAR), 'ALL') AS y,
      |       COALESCE(CAST(m AS VARCHAR), 'ALL') AS m,
      |       total_cents, n
      |FROM (SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
      |             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
      |             COUNT(*) AS n
      |      FROM orders GROUP BY ROLLUP (y, m))
      |ORDER BY y, m""".stripMargin

  /** A4 — cube over two categorical dimensions. */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_cents"))
      .orderBy(col("status"), col("priority"))

  val aggCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Exact interpolated percentiles (same linear-interpolation definition
    * as DuckDB's quantile_cont) over the integer-valued quantity column —
    * deterministic because sorting + interpolation over exact values has
    * no accumulation order. At scale the approximate sibling is
    * approx_percentile (t-digest); kept exact here because the oracle can
    * check exactness.
    */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.95)").as("p95"),
        expr("percentile(l_extendedprice, 0.5)").as("price_p50"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val percentilesSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.95) AS p95,
      |       quantile_cont(l_extendedprice, 0.5) AS price_p50,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Winsorized robust scaling — the feature-engineering clamp: every
    * quantity clipped to its group's exact [P5, P95] band and rescaled
    * to a ppm position inside it. Shape: the per-group percentile table
    * is GROUP-CARDINALITY-sized and BROADCASTS back into the row stream
    * (the aggregate-then-broadcast-back pattern — the row-scaled side is
    * one scan + one broadcast hash join, no row shuffle at any scale).
    * Per-row FP (clamp + affine rescale) is deterministic — the engine's
    * FP discipline bans partition-order-dependent grouped ACCUMULATION,
    * not per-row arithmetic — and the oracle states the identical IEEE
    * expression tree. Degenerate bands (P95 = P5, a constant column)
    * are guarded on BOTH sides with the same `q_hi = q_lo ⇒ 0` fallback:
    * Spark's x/0.0 would yield NULL while DuckDB's yields inf (and the
    * BIGINT cast of inf errors), so the guard is what keeps the engines
    * hash-equal on a constant group, not just a nicety.
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.05)").as("q_lo"),
        expr("percentile(l_quantity, 0.95)").as("q_hi"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      .join(broadcast(stats), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        least(greatest(col("l_quantity"), col("q_lo")), col("q_hi"))
          .as("clamped"),
        expr("""CASE WHEN q_hi = q_lo THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
              (least(greatest(l_quantity, q_lo), q_hi) - q_lo) * 1000000
              / (q_hi - q_lo)) AS BIGINT) END""").as("scaled_ppm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val winsorizeSql: String =
    """WITH stats AS (
      |  SELECT l_returnflag,
      |         quantile_cont(l_quantity, 0.05) AS q_lo,
      |         quantile_cont(l_quantity, 0.95) AS q_hi
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
      |       least(greatest(l_quantity, q_lo), q_hi) AS clamped,
      |       CASE WHEN q_hi = q_lo THEN CAST(0 AS BIGINT)
      |       ELSE CAST(floor(
      |         (least(greatest(l_quantity, q_lo), q_hi) - q_lo) * 1000000
      |         / (q_hi - q_lo)) AS BIGINT) END AS scaled_ppm
      |FROM lineitem l JOIN stats USING (l_returnflag)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Per-group ARGMAX via struct max — each customer's single most
    * expensive order, carried as `max(struct(price, key))` so the whole
    * query is ONE map-side-combinable hash aggregate: partial maxima
    * collapse inside each partition before the |customers|-keyed
    * exchange, and no per-group sort or window buffer ever exists (the
    * row_number() formulation shuffles and sorts EVERY row; the struct
    * max moves one candidate per customer per partition). Ties on price
    * break to the higher orderkey through the struct's lexicographic
    * order — the oracle pins the same tiebreak explicitly.
    */
  def argmaxOrder(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_custkey"),
        struct(cents(col("o_totalprice")).as("p"), col("o_orderkey").as("k"))
          .as("cand"))
      .groupBy(col("o_custkey"))
      .agg(max(col("cand")).as("best"))
      .select(col("o_custkey"), col("best.k").as("best_orderkey"),
        col("best.p").as("best_price_cents"))
      .orderBy(col("o_custkey"))

  val argmaxOrderSql: String =
    """SELECT o_custkey, o_orderkey AS best_orderkey,
      |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |         AS best_price_cents
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
      |             o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** Deterministic moment statistics: mean/variance/stddev derived from
    * EXACT integer sums (Σcents, Σcents²) rather than floating
    * accumulation — the only way `stddev` is reproducible across partition
    * orders (and comparable to an oracle). Population variance:
    * (Σx² − (Σx)²/n) / n, all inputs exact, math identical in DuckDB.
    */
  def statsExact(s: SparkSession, d: String): DataFrame = {
    val c = cents(col("o_totalprice"))
    // Σc² overflows int64 at large group sizes (c² ≈ 3e15 × 10⁵ rows), so
    // the squared moment accumulates in decimal (exact, 128-bit-backed) and
    // converts to double once at the end — DuckDB's HUGEINT sum + CAST
    // rounds to the identical double.
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(sum(c).as("s1"),
        sum((c * c).cast("decimal(38,0)")).cast("double").as("s2"),
        count(lit(1)).as("n"))
      .select(
        col("o_orderstatus"),
        col("n"),
        (col("s1").cast("double") / col("n").cast("double") / 100.0)
          .as("mean"),
        (sqrt((col("s2") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("n").cast("double")) / col("n").cast("double")) / 100.0)
          .as("stddev_pop"))
      .orderBy(col("o_orderstatus"))
  }

  /** Exact 3σ outlier detection per group — the row-level data-quality
    * gate [[statsExact]]'s group statistics feed. The flag |x − μ| > 3σ
    * is evaluated WITHOUT any floating point: multiplying through by n²
    * gives (n·x − Σx)² > 9·(n·Σx² − (Σx)²), every term an exact integer
    * in DECIMAL(38,0) (DuckDB: HUGEINT) — so the boundary cases that
    * make FP z-scores engine-dependent are bit-identical here, and the
    * whole report is hash-gated. Shape: one group-stats aggregate (rows
    * per group: 5), broadcast back over the fact table for a single
    * narrow flag-and-count pass — two scans, no wide shuffle, same
    * contract at any scale.
    */
  def anomalyExact(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        cents(col("o_totalprice")).cast("decimal(38,0)").as("x"))
    val g = base.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("qx"))
    base.join(broadcast(g), Seq("o_orderpriority"))
      .withColumn("dev", col("n") * col("x") - col("sx"))
      .withColumn("is_out",
        (col("dev") * col("dev")) >
          lit(9) * (col("n") * col("qx") - col("sx") * col("sx")))
      .groupBy(col("o_orderpriority"))
      .agg(first(col("n")).as("n"),
        sum(col("is_out").cast("long")).as("n_out"))
      .select(col("o_orderpriority"), col("n"), col("n_out"))
      .orderBy(col("o_orderpriority"))
  }

  val anomalyExactSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |         CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
      |           AS x
      |  FROM orders),
      |g AS (
      |  SELECT o_orderpriority, COUNT(*) AS n, SUM(x) AS sx,
      |         SUM(x * x) AS qx
      |  FROM c GROUP BY o_orderpriority)
      |SELECT c.o_orderpriority, CAST(g.n AS BIGINT) AS n,
      |       CAST(SUM(CASE WHEN (g.n * c.x - g.sx) * (g.n * c.x - g.sx) >
      |                          9 * (g.n * g.qx - g.sx * g.sx)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      |FROM c JOIN g USING (o_orderpriority)
      |GROUP BY c.o_orderpriority, g.n
      |ORDER BY c.o_orderpriority""".stripMargin

  /** TPC-H Q5-shaped star join: revenue by nation for one region and
    * date window, through the full six-table snowflake — region → nation
    * → customer → orders → lineitem → supplier, with the Q5 "local
    * supplier" constraint (supplier and customer share a nation). The
    * canonical optimizer showcase the two-table joins don't exercise:
    * Catalyst must reorder the chain, push the region/date filters into
    * the scans (`PushedFilters` on o_orderdate, r_name), broadcast every
    * dimension (region 5, nation 25, supplier and customer both
    * sub-threshold at test scale), and leave ONE true shuffle pair —
    * lineitem ⋈ orders — as the only exchange that grows with the data.
    * At warehouse scale customer outgrows the broadcast threshold and
    * AQE flips that one join to shuffle; nothing else changes. Money in
    * exact cents, output |nations-in-region| rows.
    */
  def starJoin(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1997-01-01")
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    r.join(n, col("r_regionkey") === col("n_regionkey"))
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  val starJoinSql: String =
    """SELECT n_name,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       COUNT(*) AS n_lines
      |FROM region
      |JOIN nation   ON r_regionkey = n_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_cents DESC, n_name""".stripMargin

  /** TPC-H-Q3-shaped shipping-priority query: segment-filtered customers
    * ⋈ open orders ⋈ not-yet-shipped lineitems, per-order revenue, top 10
    * — the classic join+agg+top-k OLAP shape. All three single-table
    * predicates push to their parquet scans; the final top-10 compiles to
    * TakeOrderedAndProject (distributed heads, no global sort), and the
    * revenue is per-row-rounded exact cents (the same discipline as the
    * star join, so the oracle states identical arithmetic). Deterministic
    * under revenue ties via the (o_orderdate, l_orderkey) tiebreak.
    */
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val cutoff = "1996-06-30"
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
    c.join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"),
        col("o_orderpriority"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("order_ms").asc,
        col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("revenue_cents"), col("order_ms"),
        col("o_orderpriority"))
  }

  val tpchQ3Sql: String =
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |         + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       epoch_ms(o_orderdate) AS order_ms,
      |       o_orderpriority
      |FROM customer
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-06-30'
      |  AND l_shipdate  > TIMESTAMP '1996-06-30'
      |GROUP BY l_orderkey, epoch_ms(o_orderdate), o_orderpriority
      |ORDER BY revenue_cents DESC, order_ms ASC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Σ l_quantity cutoff for [[tpchQ18]], in exact cents (250 units ≈ the
    * top 1-2% of orders on this data — populated at every SF, while the
    * top-100 limit binds at sf0.1).
    */
  val Q18QtyCentsThreshold = 25000L

  /** TPC-H-Q18-shaped large-volume-order query: customers holding orders
    * whose summed lineitem quantity exceeds a threshold, top-100 by order
    * value — the classic AGGREGATE-THEN-JOIN-BACK shape the Q1/Q3/Q5 trio
    * doesn't exercise. The fact table is aggregated EXACTLY ONCE (one
    * map-side-combined shuffle on l_orderkey); the HAVING filter runs on
    * the agg output and the surviving ~1% of orders carry their sum into
    * the join — no semi-join + re-aggregation double-pass (the naive SQL
    * formulation with `o_orderkey IN (SELECT … HAVING)` re-aggregates
    * lineitem after the join; the plan pin in RelationalSpec holds this
    * to one Aggregate). Post-filter the big-order set is dim-sized, so
    * AQE broadcasts it into the orders join at any scale; the top-100
    * compiles to TakeOrderedAndProject (distributed heads, no global
    * sort), deterministic under value ties via (order_ms, o_orderkey).
    * Quantities and prices ride as per-row-rounded exact cents — the
    * engine's integer discipline, so the oracle states identical
    * arithmetic.
    */
  def tpchQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      .filter(col("sum_qty_cents") > Q18QtyCentsThreshold)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"),
        cents(col("o_totalprice")).as("totalprice_cents"),
        col("sum_qty_cents"))
      .orderBy(col("totalprice_cents").desc, col("order_ms").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  val tpchQ18Sql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |         CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
       |           AS BIGINT) AS sum_qty_cents
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum_qty_cents > ${Q18QtyCentsThreshold}
       |)
       |SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_ms,
       |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
       |         AS totalprice_cents,
       |       sum_qty_cents
       |FROM orders
       |JOIN big      ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY totalprice_cents DESC, order_ms ASC, o_orderkey ASC
       |LIMIT 100""".stripMargin

  /** TPC-H-Q13-shaped customer order-count distribution: how many
    * customers placed exactly k (non-urgent) orders, INCLUDING the
    * zero-order customers — the classic left-outer-join + double
    * aggregation shape (histogram of group sizes) none of the Q1/Q3/Q18
    * trio exercises. Plan discipline: the fact table is pre-aggregated
    * to (o_custkey, n_orders) BEFORE the left join — the join's right
    * side shrinks from |orders| rows to ≤|customers| rows, so the
    * customer-preserving outer join moves key-count pairs instead of
    * order rows (at 100 TB the per-key count table is the thing you can
    * afford to shuffle; the naive join-then-count form shuffles the raw
    * fact table into customer partitions first). Zero-order customers
    * surface as a null count coalesced to 0 — the semantics the ON-clause
    * filter placement preserves and a WHERE-clause filter would destroy.
    * The second aggregate's domain is the distinct order-count values
    * (tiny at any scale). Fully deterministic: custdist DESC with
    * c_count DESC tiebreak, and c_count is unique after the final group.
    */
  def tpchQ13(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val tpchQ13Sql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders
      |  WHERE o_orderpriority <> '1-URGENT'
      |  GROUP BY o_custkey
      |)
      |SELECT CAST(coalesce(n_orders, 0) AS BIGINT) AS c_count,
      |       COUNT(*) AS custdist
      |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
      |GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Supplier nations for [[tpchQ21]] — two of the 25 synthetic nations,
    * enough suppliers to keep the result populated at sf0.001.
    */
  val Q21Nations: Seq[String] = Seq("NATION_3", "NATION_7")

  /** TPC-H-Q21-shaped sole-fault supplier query: suppliers in a nation
    * set whose lineitem was returned (`l_returnflag = 'R'`) on a
    * finalized multi-supplier order where NO other supplier's item was
    * returned — the classic correlated EXISTS + NOT EXISTS double
    * self-join on the fact table, the one decorrelation shape
    * `q_correlated`'s scalar subqueries don't reach. (TPC-H Q21 proper
    * keys "fault" off receipt-vs-commit lateness; this schema carries
    * no commit/receipt dates, so the returned-flag predicate stands in —
    * a pure lineitem predicate, exactly like the original, keeping the
    * l2/l3 subqueries correlated on l_orderkey alone.) Catalyst's
    * RewritePredicateSubquery compiles the EXISTS into a LeftSemi and
    * the NOT EXISTS into a LeftAnti join, both equi-keyed on l_orderkey
    * with the `l_suppkey <>` conjunct riding as a residual — so the
    * whole query is FOUR hash-partitionable joins over the same
    * l_orderkey clustering (per-row re-execution of the subqueries, the
    * naive reading, would be O(n) fact-table scans). RelationalSpec pins
    * the optimized plan: no subquery expressions survive, exactly one
    * LeftSemi and one LeftAnti. Top-k compiles to
    * TakeOrderedAndProject; numwait ties break on s_name.
    */
  def tpchQ21(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q21")
    Tables.orders(s, d).createOrReplaceTempView("orders_q21")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q21")
    Tables.nation(s, d).createOrReplaceTempView("nation_q21")
    val nations = Q21Nations.map(n => s"'$n'").mkString(", ")
    s.sql(
      s"""SELECT s_name, COUNT(*) AS numwait
         |FROM supplier_q21
         |JOIN lineitem_q21 l1 ON s_suppkey = l1.l_suppkey
         |JOIN orders_q21 ON o_orderkey = l1.l_orderkey
         |JOIN nation_q21 ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F'
         |  AND l1.l_returnflag = 'R'
         |  AND n_name IN ($nations)
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem_q21 l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM lineitem_q21 l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey
         |      AND l3.l_returnflag = 'R')
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name
         |LIMIT 100""".stripMargin)
  }

  val tpchQ21Sql: String = {
    val nations = Q21Nations.map(n => s"'$n'").mkString(", ")
    s"""SELECT s_name, COUNT(*) AS numwait
       |FROM supplier
       |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_returnflag = 'R'
       |  AND n_name IN ($nations)
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_returnflag = 'R')
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin
  }

  /** TPC-H Q17 shape — small-quantity-order revenue: lineitems of a
    * brand/size part slice whose quantity sits below 20% of their part's
    * average quantity over the WHOLE lineitem table. This is the one
    * decorrelation shape [[correlatedSubquery]] doesn't cover: there the
    * correlated aggregate ranges over the DIM side (per-nation customer
    * mean); here it ranges over the FACT — Catalyst must turn the
    * per-row correlated aggregate into ONE pre-aggregated
    * `l_partkey`-grouped scan of lineitem joined back to the outer fact
    * rows (naive per-row re-execution would be O(n) lineitem scans).
    * The correlated aggregate is phrased as a LATERAL returning BOTH
    * moments (count, Σqty) in one row — two separate scalar subqueries
    * would decorrelate into two aggregates and scan lineitem twice;
    * the lateral collapses them into a single Aggregate below a single
    * join, pinned in RelationalSpec (and no subquery expression survives
    * the optimized plan).
    *
    * FP discipline: the `quantity < 0.2·avg(quantity)` test is
    * cross-multiplied to `qty·5·count(*) < Σqty` in exact BIGINT (the
    * [[correlatedSubquery]] trick), and revenue leaves as exact cents
    * with a floor-div-7 "avg_yearly" in integer cents — no float
    * accumulates anywhere, so the oracle hash is stable.
    */
  def tpchQ17(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q17")
    Tables.part(s, d).createOrReplaceTempView("part_q17")
    s.sql(
      """SELECT CAST(SUM(cents) DIV 7 AS BIGINT) AS avg_yearly_cents,
        |       COUNT(*) AS n_lines
        |FROM (
        |  SELECT CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |           AS cents
        |  FROM lineitem_q17 l
        |  JOIN part_q17 p ON p.p_partkey = l.l_partkey,
        |  LATERAL (SELECT COUNT(*) AS cnt,
        |                  SUM(CAST(l2.l_quantity AS BIGINT)) AS sq
        |           FROM lineitem_q17 l2
        |           WHERE l2.l_partkey = l.l_partkey) m
        |  WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
        |    AND CAST(l.l_quantity AS BIGINT) * 5 * m.cnt < m.sq)""".stripMargin)
  }

  val tpchQ17Sql: String =
    """SELECT CAST(SUM(cents) // 7 AS BIGINT) AS avg_yearly_cents,
      |       COUNT(*) AS n_lines
      |FROM (
      |  SELECT CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
      |           AS cents
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey,
      |  LATERAL (SELECT COUNT(*) AS cnt,
      |                  CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
      |                    AS sq
      |           FROM lineitem l2
      |           WHERE l2.l_partkey = l.l_partkey) m
      |  WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
      |    AND CAST(l.l_quantity AS BIGINT) * 5 * m.cnt < m.sq)""".stripMargin

  /** Minimum pair support (orders containing BOTH parts) for
    * [[associationRules]] — populated at every SF of the driver data.
    */
  val AssocMinSupport = 3L

  val AssocTopK = 100

  /** The in-row pair generator: for each element `a` of the array
    * column `arr`, one row (a, b) per element `b` of a's strict suffix
    * — every unordered pair once, ordered as in the array (a sorted
    * array yields a < b). Two chained codegen'd Generates (posexplode +
    * explode over the element's strict suffix) rather than one nested
    * transform/flatten/struct pipeline — higher-order functions run
    * interpreted per row, generators run in whole-stage codegen.
    */
  private[operators] def suffixPairs(df: DataFrame, arr: String,
      a: String, b: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("i", a)))
      .select(col(a),
        explode(slice(col(arr), col("i") + lit(2),
          greatest(size(col(arr)) - col("i") - lit(1), lit(0)))).as(b))

  /** Market-basket association mining: part pairs co-purchased in ≥
    * [[AssocMinSupport]] orders, with EXACT ppm confidences both ways and
    * lift as an exact rational — the classic support/confidence/lift
    * triple. Shape: baskets are per-order sorted distinct part ARRAYS
    * (one exchange on l_orderkey, map-side deduped); pairs are generated
    * in-row from each sorted array (pair volume is Σ basket-width² per
    * order, bounded by the order shape — production caps basket width,
    * the same posting-cap guard the n-gram dedup family ships); item
    * supports re-derive the same basket aggregate (exchange reused) and
    * BROADCAST back into the pair table. No FP anywhere:
    * confidence is integer ppm (sup_ab·10⁶ div sup_a) and lift leaves as
    * (num, den) = (sup_ab·N, sup_a·sup_b), exact up to N ≈ 3·10⁹ orders.
    * Top-[[AssocTopK]] by (support, conf, pair) compiles to
    * TakeOrderedAndProject.
    */
  def associationRules(s: SparkSession, d: String): DataFrame = {
    val nOrders = Tables.orders(s, d).agg(count(lit(1)).as("n_orders"))
    // r17 optimization (guide §1.2/§2.4): baskets as per-order SORTED
    // distinct part arrays via ONE exchange on l_orderkey (collect_set
    // dedupes map-side), instead of distinct-on-(order,part) + a basket
    // self-join — which cost a second full re-shuffle (or, when AQE
    // broadcasts the basket side, a |baskets|-row broadcast build) just
    // to pair rows that already live in the same group. Pairs are
    // generated IN-ROW from the sorted array (p1 < p2 by construction),
    // and the item supports re-derive the same aggregate subtree, so
    // the basket exchange is computed once and reused.
    val orderParts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
    val sup = orderParts.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("sup"))
    suffixPairs(orderParts, "parts", "p1", "p2")
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= AssocMinSupport)
      .join(broadcast(sup.select(col("l_partkey").as("p1"),
        col("sup").as("sup_a"))), Seq("p1"))
      .join(broadcast(sup.select(col("l_partkey").as("p2"),
        col("sup").as("sup_b"))), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("sup_ab"), col("sup_a"),
        col("sup_b"),
        expr("sup_ab * 1000000 div sup_a").as("conf_ab_ppm"),
        expr("sup_ab * 1000000 div sup_b").as("conf_ba_ppm"),
        (col("sup_ab") * col("n_orders")).as("lift_num"),
        (col("sup_a") * col("sup_b")).as("lift_den"))
      .orderBy(col("sup_ab").desc, col("conf_ab_ppm").desc,
        col("p1"), col("p2"))
      .limit(AssocTopK)
  }

  val associationRulesSql: String =
    s"""WITH baskets AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |n AS (SELECT COUNT(*) AS n_orders FROM orders),
       |sup AS (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS sup
       |  FROM baskets GROUP BY l_partkey),
       |pairs AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       |         CAST(COUNT(*) AS BIGINT) AS sup_ab
       |  FROM baskets a JOIN baskets b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $AssocMinSupport)
       |SELECT p1, p2, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
       |       sup_ab * 1000000 // sa.sup AS conf_ab_ppm,
       |       sup_ab * 1000000 // sb.sup AS conf_ba_ppm,
       |       CAST(sup_ab * n_orders AS BIGINT) AS lift_num,
       |       CAST(sa.sup * sb.sup AS BIGINT) AS lift_den
       |FROM pairs, n
       |JOIN sup sa ON p1 = sa.l_partkey
       |JOIN sup sb ON p2 = sb.l_partkey
       |ORDER BY sup_ab DESC, conf_ab_ppm DESC, p1, p2
       |LIMIT $AssocTopK""".stripMargin

  /** Correlated scalar subquery — the SQL-front-end surface the
    * DataFrame queries never touch: customers whose balance exceeds
    * their nation's average, phrased with per-row correlated subqueries
    * that Catalyst MUST decorrelate (RewriteCorrelatedScalarSubquery
    * rewrites both into one grouped aggregate joined back on the
    * correlation key — per-row re-execution, the naive reading, would
    * be O(n²) scans). The mean comparison is cleared of FP by
    * cross-multiplying: `cents·n > Σcents` instead of
    * `balance > avg(balance)` — exact integers, hash-stable at any
    * partition order, same rewrite in the oracle.
    */
  def correlatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_corr")
    s.sql(
      """SELECT c_nationkey, COUNT(*) AS n_above
        |FROM customer_corr c
        |WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer_corr c2
        |       WHERE c2.c_nationkey = c.c_nationkey) >
        |      (SELECT SUM(CAST(floor(c2.c_acctbal * 100 + 0.5) AS BIGINT))
        |       FROM customer_corr c2
        |       WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)
  }

  val correlatedSubquerySql: String =
    """SELECT c_nationkey, COUNT(*) AS n_above
      |FROM customer c
      |WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
      |      (SELECT COUNT(*) FROM customer c2
      |       WHERE c2.c_nationkey = c.c_nationkey) >
      |      (SELECT CAST(SUM(CAST(floor(c2.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |       FROM customer c2
      |       WHERE c2.c_nationkey = c.c_nationkey)
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE, compiled to `UnionLoop`) —
    * the iterative-closure surface of the SQL front end: a
    * key-arithmetic binary hierarchy over customers (parent(k) = k div
    * 2, rooted at key 1 — derived, so the oracle replays it exactly)
    * walked to a per-depth rollup. The optimized plan is an iterative
    * chain of EQUI-joins of the previous level's frontier against the
    * customer scan — each iteration is one hash-partitionable join, the
    * loop count is the hierarchy depth (log₂ N here; bounded by key
    * width, never row count), and nothing is row-recursive. This is the
    * org-chart / BOM / graph-reachability shape that previously needed
    * the hand-rolled iteration in GraphOps; plan pinned to contain
    * UnionLoop in RelationalSpec.
    */
  def recursiveHierarchy(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_rec")
    s.sql(
      """WITH RECURSIVE d AS (
        |  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth
        |  FROM customer_rec WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT c.c_custkey, d.depth + 1
        |  FROM customer_rec c JOIN d ON c.c_custkey DIV 2 = d.k
        |)
        |SELECT depth, COUNT(*) AS n,
        |       MIN(k) AS min_k, MAX(k) AS max_k
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin)
  }

  val recursiveHierarchySql: String =
    """WITH RECURSIVE d AS (
      |  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth
      |  FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT c.c_custkey, d.depth + 1
      |  FROM customer c JOIN d ON c.c_custkey // 2 = d.k
      |)
      |SELECT depth, COUNT(*) AS n,
      |       CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
      |FROM d GROUP BY depth ORDER BY depth""".stripMargin

  /** LATERAL correlated subquery with ORDER BY + LIMIT — per-customer
    * top-2 orders phrased the natural "for each row, run this query"
    * way. Catalyst MUST decorrelate it (the naive reading is one
    * subquery execution per customer row): the optimized plan is a
    * row_number window over orders with `WindowGroupLimit` rank
    * pushdown (each partition stops ranking after k rows — the window
    * analogue of TakeOrdered) feeding ONE equi-join on the correlation
    * key. No cartesian product, no per-row re-scan, hash-partitionable
    * at any scale; plan pinned in RelationalSpec. The window-function
    * twin of this query is trivially writable — the point of the entry
    * is that the SQL front end's lateral path compiles to the same
    * plan.
    */
  def lateralTopN(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_lat")
    Tables.orders(s, d).createOrReplaceTempView("orders_lat")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.price_cents
        |FROM customer_lat c JOIN LATERAL (
        |  SELECT o_orderkey,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |           AS price_cents
        |  FROM orders_lat o WHERE o.o_custkey = c.c_custkey
        |  ORDER BY price_cents DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c.c_custkey, t.price_cents DESC, t.o_orderkey""".stripMargin)
  }

  val lateralTopNSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.price_cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |  FROM orders o WHERE o.o_custkey = c.c_custkey
      |  ORDER BY price_cents DESC, o_orderkey LIMIT 2
      |) t
      |ORDER BY c_custkey, price_cents DESC, o_orderkey""".stripMargin

  /** Robust (median/MAD) outlier detection per group — the
    * heavy-tail-tolerant complement of [[anomalyExact]]'s 3σ gate: one
    * extreme value inflates μ and σ enough to mask other outliers, while
    * the median and the median-absolute-deviation have a 50% breakdown
    * point. The flag is `|x − median| > 3·MAD` (the raw-MAD form; the
    * Gaussian-consistency constant 1.4826 is deliberately NOT applied —
    * it is an irrational scale factor that would drag FP into the
    * comparison, and for a fixed threshold it only rescales k).
    *
    * Exactness: cents are doubled once (`x2 = 2·cents`) so the even-n
    * linear-interpolated median of integers is itself an integer, and
    * deviations are doubled again (`dev4 = 2·|x2 − med2|`) so the MAD is
    * too — every compared quantity is an integer-valued double produced
    * by the same sort-based `percentile` definition in both engines
    * (proven portable by q_percentiles), so the report is hash-exact.
    * Shape: two tiny per-group stats aggregates (5 rows each) broadcast
    * back over the fact scan — no wide shuffle at any scale.
    */
  def anomalyRobust(s: SparkSession, d: String): DataFrame = {
    // r16 optimization note: a support-based restructure (groupBy
    // (priority, value) + frequency-weighted percentile, orders scanned
    // once) was built, hash-verified, and A/B-measured SLOWER (1.67 s
    // vs 1.21 s isolated min-of-N at sf0.1): it trades the three
    // broadcast-pattern scans for a row-sized EXCHANGE, and this shape
    // has no shuffle at all today — guide §2's "remove shuffles
    // outright" outranks scan count, and the percentile aggregate
    // already collapses duplicates in its own frequency map, so the
    // support added nothing the aggregate wasn't doing. Kept the
    // exchange-free 3-pass broadcast form deliberately.
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        (cents(col("o_totalprice")) * 2L).as("x2"))
    val med = base.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(x2, 0.5)").cast("long").as("med2"),
        count(lit(1)).as("n"))
    val dev = base.join(broadcast(med), Seq("o_orderpriority"))
      .withColumn("dev4", abs(col("x2") - col("med2")) * 2L)
    val mad = dev.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(dev4, 0.5)").cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(first(col("n")).as("n"), first(col("med2")).as("med2_cents"),
        first(col("mad4")).as("mad4_cents"),
        sum((col("dev4") > col("mad4") * 3L).cast("long")).as("n_out"))
      .orderBy(col("o_orderpriority"))
  }

  val anomalyRobustSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |         2 * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x2
      |  FROM orders),
      |med AS (
      |  SELECT o_orderpriority,
      |         CAST(quantile_cont(x2, 0.5) AS BIGINT) AS med2,
      |         COUNT(*) AS n
      |  FROM c GROUP BY o_orderpriority),
      |dev AS (
      |  SELECT c.o_orderpriority, med.n, med.med2,
      |         2 * abs(c.x2 - med.med2) AS dev4
      |  FROM c JOIN med USING (o_orderpriority)),
      |mad AS (
      |  SELECT o_orderpriority,
      |         CAST(quantile_cont(dev4, 0.5) AS BIGINT) AS mad4
      |  FROM dev GROUP BY o_orderpriority)
      |SELECT dev.o_orderpriority, CAST(MIN(dev.n) AS BIGINT) AS n,
      |       MIN(dev.med2) AS med2_cents, MIN(mad.mad4) AS mad4_cents,
      |       CAST(SUM(CASE WHEN dev.dev4 > 3 * mad.mad4 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_out
      |FROM dev JOIN mad USING (o_orderpriority)
      |GROUP BY dev.o_orderpriority
      |ORDER BY dev.o_orderpriority""".stripMargin

  val statsExactSql: String =
    """SELECT o_orderstatus, n,
      |       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
      |       sqrt((s2 -
      |             CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |            / CAST(n AS DOUBLE)) / 100.0 AS stddev_pop
      |FROM (SELECT o_orderstatus,
      |             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
      |             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) *
      |                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s2,
      |             COUNT(*) AS n
      |      FROM orders GROUP BY o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  /** A4 — explicit GROUPING SETS (the general form rollup/cube sugar over):
    * per-status, per-priority, and grand-total rows in one pass.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("c"))
      .createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(1) AS n, sum(c) AS total_cents
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(1) AS n,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** Set operations: (F ∩ O customers) ∪ P customers, minus big spenders.
    * Spark intersect/except are distinct-set semantics — same as SQL.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def keys(status: String) =
      o.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    val big = o.filter(col("o_totalprice") > 400000.0).select(col("o_custkey"))
    keys("F").intersect(keys("O")).union(keys("P")).except(big)
      .orderBy(col("o_custkey"))
  }

  val setOpsSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  UNION
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
      |) ORDER BY o_custkey""".stripMargin

  /** Top-k: TakeOrderedAndProject — per-partition top-k then a k-row merge on
    * the driver; no global sort even at 100 TB. FP tie risk handled by the
    * o_orderkey tie-break.
    */
  def topK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(25)

  val topKSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
      |FROM orders ORDER BY total_cents DESC, o_orderkey ASC LIMIT 25""".stripMargin

  /** 2h, grouped — top-3 orders per priority class through the bounded-heap
    * [[graft.functions.TopKPairs]] aggregate instead of a window rank. The
    * window form shuffles every order row and sorts whole partitions; the
    * aggregate's map-side partials cut each input partition to ≤ k pairs
    * per group before the exchange, so the shuffle carries k·partitions
    * rows per group no matter the table size — the grouped analogue of
    * what TakeOrderedAndProject ([[topK]]) does globally. The oracle states
    * the same result in the window formulation.
    */
  def topKGroup(s: SparkSession, d: String): DataFrame =
    graft.functions.TopKPairs.explodeRanked(
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("total_cents"))
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKPairs.topKPairs(
          col("total_cents"), col("o_orderkey"), 3).as("top")),
      Seq("o_orderpriority"), "o_orderkey", "total_cents")
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("total_cents"))
      .orderBy(col("o_orderpriority"), col("rnk"))

  val topKGroupSql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, o_orderkey,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
      |  FROM orders),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_orderpriority
      |    ORDER BY total_cents DESC, o_orderkey) AS rk
      |  FROM t)
      |SELECT o_orderpriority, CAST(rk AS BIGINT) AS rnk, o_orderkey,
      |       total_cents
      |FROM r WHERE rk <= 3
      |ORDER BY o_orderpriority, rnk""".stripMargin

  /** K3/J3 — upsert as last-writer-wins: one window dedup replaces the
    * reference's per-row ON CONFLICT loop (lambda_function.py:226-235).
    * Deterministic tie-break on the key so re-runs are idempotent.
    */
  def upsertLww(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
      .orderBy(col("o_custkey"))
  }

  val upsertLwwSql: String =
    """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_ms
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
      |ORDER BY o_custkey""".stripMargin

  /** K3 companion — CDC-style snapshot diff: classify every key across two
    * table snapshots as insert / update / delete (unchanged rows are
    * dropped — the CDC feed a downstream MERGE consumes). The two
    * snapshots are derived deterministically from `orders`: snapshot A
    * lacks keys ≡0 (mod 10) (they arrive later → inserts), snapshot B
    * lacks keys ≡0 (mod 13) (deletes) and reclassifies the priority of
    * keys ≡0 (mod 7) (updates). Change detection is a generic null-safe
    * comparison over every non-key column — no per-table column list to
    * maintain. Shape at scale: ONE full-outer sort-merge join, each side
    * shuffled once on the key; with both snapshots bucketed by key (the
    * layout [[bucketedJoin]] demonstrates) the diff is exchange-free —
    * the incremental-maintenance shape a 100 TB nightly snapshot needs.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderkey") % 10 =!= 0)
    val b = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit("9-RECLASS"))
          .otherwise(col("o_orderpriority")))
    val changed = o.columns.filterNot(_ == "o_orderkey")
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduce(_ || _)
    a.as("a")
      .join(b.as("b"), col("a.o_orderkey") === col("b.o_orderkey"),
        "full_outer")
      .select(
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, lit("insert"))
          .when(col("b.o_orderkey").isNull, lit("delete"))
          .when(changed, lit("update"))
          .otherwise(lit("unchanged")).as("change_type"),
        col("a.o_orderpriority").as("old_priority"),
        col("b.o_orderpriority").as("new_priority"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy(col("o_orderkey"))
  }

  /** K3 companion — CDC APPLY with delete semantics: fold an ordered
    * insert/update/delete ops log into final table state, the other half
    * of the CDC story ([[snapshotDiff]] GENERATES the feed; this
    * consumes one). The log is derived deterministically from orders so
    * the oracle replays it bit-for-bit: every key op 1 INSERT (price
    * cents), keys ≡0 (mod 3) op 2 UPDATE (+1000 cents), keys ≡0 (mod 7)
    * op 3 DELETE. Apply = last-op-wins per key (rank on op_seq DESC —
    * [[upsertLww]] generalized to carry an op type), and keys whose last
    * op is DELETE vanish from the state; `n_ops` rides along as the
    * audit column. ONE hash exchange on the key serves both window
    * functions and the filter — at 100 TB this is the per-batch MERGE a
    * table format runs, and with the state bucketed on the key (the
    * [[bucketedJoin]] layout) even that exchange amortizes across
    * batches.
    */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      cents(col("o_totalprice")).as("price_cents"))
    // r16 optimization: each key's 1-3 log ops are generated IN-ROW
    // (conditional struct array → explode) instead of the predecessor's
    // three-armed union of filtered scans — same op tuples, but orders
    // is scanned ONCE instead of three times (the arms shared no
    // exchange, so each union branch was a full re-scan; guide §1.2).
    val ops = base.select(col("k"), explode(expr(
        """filter(array(
          |  named_struct('op_seq', 1L, 'op', 'I',
          |               'price_cents', price_cents),
          |  IF(k % 3 = 0,
          |     named_struct('op_seq', 2L, 'op', 'U',
          |                  'price_cents', price_cents + 1000L),
          |     NULL),
          |  IF(k % 7 = 0,
          |     named_struct('op_seq', 3L, 'op', 'D',
          |                  'price_cents', CAST(NULL AS BIGINT)),
          |     NULL)
          |), x -> x IS NOT NULL)""".stripMargin)).as("o"))
      .select(col("k"), col("o.op_seq").as("op_seq"), col("o.op").as("op"),
        col("o.price_cents").as("price_cents"))
    val w = Window.partitionBy(col("k")).orderBy(col("op_seq").desc)
    ops.withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k").as("o_orderkey"), col("price_cents"), col("n_ops"))
      .orderBy(col("o_orderkey"))
  }

  val cdcApplySql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |  FROM orders
      |), ops AS (
      |  SELECT k, 1 AS op_seq, 'I' AS op, price_cents FROM base
      |  UNION ALL
      |  SELECT k, 2, 'U', price_cents + 1000 FROM base WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT k, 3, 'D', NULL FROM base WHERE k % 7 = 0
      |), r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY k ORDER BY op_seq DESC) AS rn,
      |         COUNT(*) OVER (PARTITION BY k) AS n_ops
      |  FROM ops
      |)
      |SELECT k AS o_orderkey, price_cents, CAST(n_ops AS BIGINT) AS n_ops
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  val snapshotDiffSql: String =
    """WITH a AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
      |     b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |                  o_orderdate,
      |                  CASE WHEN o_orderkey % 7 = 0 THEN '9-RECLASS'
      |                       ELSE o_orderpriority END AS o_orderpriority
      |           FROM orders WHERE o_orderkey % 13 <> 0),
      |     d AS (
      |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |         CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |              WHEN b.o_orderkey IS NULL THEN 'delete'
      |              WHEN (a.o_custkey       IS DISTINCT FROM b.o_custkey)
      |                OR (a.o_orderstatus   IS DISTINCT FROM b.o_orderstatus)
      |                OR (a.o_totalprice    IS DISTINCT FROM b.o_totalprice)
      |                OR (a.o_orderdate     IS DISTINCT FROM b.o_orderdate)
      |                OR (a.o_orderpriority IS DISTINCT FROM b.o_orderpriority)
      |              THEN 'update' ELSE 'unchanged' END AS change_type,
      |         a.o_orderpriority AS old_priority,
      |         b.o_orderpriority AS new_priority
      |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT * FROM d WHERE change_type <> 'unchanged'
      |ORDER BY o_orderkey""".stripMargin

  /** 2g — analytic window functions (lag + running sum) over the events
    * stream table, per-user ordered by event time.
    */
  def windowAnalytic(s: SparkSession, d: String): DataFrame = {
    val e = EventOps.withTsMs(Tables.events(s, d))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    e.select(
        col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lead(col("event_id"), 1).over(w).as("next_event_id"),
        sum(cents(col("value")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents"))
      .orderBy(col("user_id"), col("rn"))
  }

  val windowAnalyticSql: String =
    """SELECT user_id, event_id,
      |       row_number() OVER w AS rn,
      |       lag(event_id, 1) OVER w AS prev_event_id,
      |       lead(event_id, 1) OVER w AS next_event_id,
      |       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
      |              OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS running_cents
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |ORDER BY user_id, rn""".stripMargin

  private val TrailingMs = 3600000L

  /** 2g — RANGE-framed window + rank family: per-user trailing-hour sum
    * over EVENT TIME (`rangeBetween` on epoch-ms — value-based frame
    * bounds, tie-insensitive by construction, unlike the ROWS frames
    * above), plus ntile/percent_rank over a totally-ordered ROWS window
    * (tie-broken on event_id so both are deterministic).
    */
  def windowRange(s: SparkSession, d: String): DataFrame = {
    val e  = EventOps.withTsMs(Tables.events(s, d))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-TrailingMs, 0L)
    val wn = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    e.select(
        col("user_id"), col("event_id"), col("ts_ms"),
        sum(cents(col("value"))).over(wr).as("trailing_hour_cents"),
        ntile(4).over(wn).cast("long").as("quartile"),
        percent_rank().over(wn).as("pct_rank"))
      .orderBy(col("event_id"))
  }

  val windowRangeSql: String =
    s"""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
       |       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
       |              OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
       |                    RANGE BETWEEN $TrailingMs PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS trailing_hour_cents,
       |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       |       percent_rank() OVER w AS pct_rank
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
       |ORDER BY event_id""".stripMargin

  // ---------- TPC-H Q15: top supplier(s) by windowed revenue ----------

  val Q15Start = "1996-01-01"
  val Q15End   = "1996-04-01"

  /** TPC-H Q15 shape — supplier(s) with MAXIMUM revenue over a 3-month
    * ship window, ties included: the view-plus-scalar-max pattern. The
    * windowed revenue aggregate is supplier-keyed (|suppliers| rows —
    * dim-sized at any SF), so it is `localCheckpoint`ed once (the
    * [[graft.operators.Timeseries.paa]] precedent) and feeds BOTH the
    * 1-row max aggregate and the tie-filter join — the lineitem fact is
    * scanned exactly once, where the naive two-branch form re-scans it
    * for the scalar subquery (the thing that matters at 100 TB). The
    * max row broadcasts; the surviving row(s) join supplier on its key.
    * Exact cents end to end, so "maximum" is unambiguous cross-engine.
    */
  def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(Q15Start) &&
        col("l_shipdate") < lit(Q15End))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("total_rev_cents"))
      .localCheckpoint()
    val mx = rev.agg(max(col("total_rev_cents")).as("mx"))
    rev.join(broadcast(mx), col("total_rev_cents") === col("mx"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
      .orderBy(col("s_suppkey"))
  }

  val tpchQ15Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |         CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_rev_cents
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$Q15Start'
       |    AND l_shipdate < TIMESTAMP '$Q15End'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_rev_cents
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_rev_cents = (SELECT MAX(total_rev_cents) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ---------- TPC-H Q22: dormant high-balance customers ----------

  /** Country-code slice: the driver customer table has no phone column,
    * so the Q22 "country code" is nationkey mod 5, codes 0-2 selected.
    */
  val Q22CodeMod   = 5
  val Q22Codes     = Seq(0, 1, 2)

  /** TPC-H Q22 shape — "global sales opportunity": customers in selected
    * country codes whose balance exceeds the average POSITIVE balance of
    * that slice, and who have no urgent-priority order. Exercises the
    * scalar-average subquery (decorrelated to a 1-row broadcast) plus a
    * LEFT ANTI join against the fact. FP discipline: the
    * above-average test is cross-multiplied (`bal·n > Σbal`) in exact
    * cents, so no float division decides membership. The anti join
    * shuffles on custkey (both sides fact-scaled at 100 TB —
    * hash-partitionable); the average is one broadcast row.
    */
  def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .withColumn("code", (col("c_nationkey") % Q22CodeMod).cast("int"))
      .filter(col("code").isin(Q22Codes: _*))
      .withColumn("bal_cents", cents(col("c_acctbal")))
    val avgPos = c.filter(col("bal_cents") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_cents")).as("sum_pos"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgPos))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("code"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("bal_cents")).as("total_bal_cents"))
      .orderBy(col("code"))
  }

  val tpchQ22Sql: String = {
    val codes = Q22Codes.mkString(", ")
    s"""WITH c AS (
       |  SELECT c_custkey, CAST(c_nationkey %% $Q22CodeMod AS INT) AS code,
       |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
       |  FROM customer
       |  WHERE c_nationkey %% $Q22CodeMod IN ($codes)),
       |a AS (
       |  SELECT COUNT(*) AS n_pos, SUM(bal_cents) AS sum_pos
       |  FROM c WHERE bal_cents > 0)
       |SELECT code, COUNT(*) AS n_cust,
       |       CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
       |FROM c, a
       |WHERE bal_cents * n_pos > sum_pos
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       |GROUP BY code ORDER BY code""".stripMargin
      .replace("%%", "%")
  }

  // ---------- TPC-H Q8 shape: market share by year ----------

  val MarketShareRegion = "ASIA"

  /** Conditional-aggregate market share over a 4-table star: per order
    * year, the ppm share of lineitem revenue supplied from one region.
    * The supplier→nation→region attribution collapses to a suppkey →
    * in-region flag dimension (nation/region broadcast into supplier,
    * then the supplier map broadcast into the fact at demo scale; at
    * 100 TB supplier grows with SF so that last join falls back to a
    * suppkey shuffle — Catalyst's size estimate makes the call, which
    * is why the code does NOT force `broadcast()` there). Revenue stays
    * exact cents; the share leaves as integer ppm (`·10⁶ div total`),
    * so the conditional-sum/total division never touches FP.
    */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val supRegion = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"),
        (col("r_name") === MarketShareRegion).cast("long").as("in_region"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(supRegion, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(col("rev_cents")).as("total_cents"),
        sum(col("rev_cents") * col("in_region")).as("region_cents"))
      .select(col("o_year").cast("long").as("o_year"), col("total_cents"),
        col("region_cents"),
        // ppm in decimal(38,0): region_cents·10⁶ wraps BIGINT silently
        // once yearly revenue passes ~9·10¹² cents — the trend/gini
        // widening discipline
        expr("CAST(CAST(region_cents AS DECIMAL(38,0)) * 1000000" +
          " div total_cents AS BIGINT)").as("share_ppm"))
      .orderBy(col("o_year"))
  }

  val marketShareSql: String =
    s"""WITH sr AS (
       |  SELECT s_suppkey,
       |         CASE WHEN r_name = '$MarketShareRegion' THEN 1 ELSE 0 END
       |           AS in_region
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey)
       |SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |       CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
       |       CAST(SUM(rev_cents * in_region) AS BIGINT) AS region_cents,
       |       CAST(CAST(SUM(rev_cents * in_region) AS HUGEINT) * 1000000
       |            // SUM(rev_cents) AS BIGINT) AS share_ppm
       |FROM (SELECT l_orderkey, l_suppkey,
       |             CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents
       |      FROM lineitem) l
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN sr ON l_suppkey = s_suppkey
       |GROUP BY year(o_orderdate)
       |ORDER BY o_year""".stripMargin

  // ---------- skyline (Pareto frontier) ----------

  /** Price-bucket width (cents) for the skyline's two-phase prefix max. */
  val SkylineBucketCents = 64L

  /** Pareto frontier over parts — minimize price, maximize size: a part
    * survives iff no other part is at most as expensive AND at least as
    * large with one strict. The classic formulation sorts the whole
    * table and streams a running max — a single-partition window that
    * dies at scale — so this is the two-phase prefix pattern the engine
    * already ships for driftKs/gini: rows hash-partition by price
    * BUCKET (`price_cents div ${SkylineBucketCents}`) and take a
    * per-bucket running max over strictly-cheaper rows (a RANGE frame
    * to -1, so equal prices are excluded), while the cross-bucket
    * prefix runs over the ≤(price-domain/width) bucket-maxima rows —
    * bounded by the price domain, not the row count — and broadcasts
    * back. Equal-price domination is a separate per-price-partition
    * max. All dominance tests are integer-cents comparisons.
    */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("price_cents"),
        col("p_size"))
      .withColumn("bucket", expr(s"price_cents div $SkylineBucketCents"))
    val bucketMax = p.groupBy(col("bucket"))
      .agg(max(col("p_size")).as("bmax"))
      .withColumn("prefix_max",
        max(col("bmax")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bucket"), col("prefix_max"))
    val wCheaper = Window.partitionBy(col("bucket"))
      .orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1L)
    val wSamePrice = Window.partitionBy(col("price_cents"))
    p.join(broadcast(bucketMax), Seq("bucket"))
      .withColumn("in_bucket_max", max(col("p_size")).over(wCheaper))
      .withColumn("same_price_max", max(col("p_size")).over(wSamePrice))
      .filter(coalesce(col("in_bucket_max") >= col("p_size"), lit(false)) === false &&
        coalesce(col("prefix_max") >= col("p_size"), lit(false)) === false &&
        col("same_price_max") <= col("p_size"))
      .select(col("p_partkey"), col("price_cents"), col("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  val skylineSql: String =
    """WITH p AS (
      |  SELECT p_partkey,
      |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |         p_size
      |  FROM part)
      |SELECT p_partkey, price_cents, p_size
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
      |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
      |ORDER BY price_cents, p_partkey""".stripMargin

  // ---------- referential-integrity audit ----------

  /** Warehouse FK audit: for every declared child→parent relationship,
    * the child row count, orphan row count (child rows whose key has no
    * parent — NULL keys count as orphans, matching NOT EXISTS), and
    * distinct orphan key count. Each relationship is ONE pass over the
    * child: a LEFT join against the parent's distinct keys (dims
    * broadcast via Catalyst's size estimate) feeding one conditional
    * 1-row aggregate — `n_child` is the joined row count (exact because
    * the join side is deduplicated first, so the join can never fan
    * out), an orphan is a null parent key, and the distinct-orphan-key
    * count rides the same aggregate. The r16-optimization predecessor
    * computed `n_child` with a SEPARATE full scan of the child plus a
    * cross join per relationship — 12 child scans for 6 relationships,
    * with lineitem read six times; this shape halves every child scan
    * and drops the per-relationship cross join outright (guide §1.2:
    * don't compute things twice; §2.4: remove exchanges). The whole
    * audit output is 6 rows at any scale; key projections prune to
    * single columns at the scan.
    */
  def fkAudit(s: SparkSession, d: String): DataFrame = {
    def rel(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val ch = child.select(col(fk).as("fk"))
      // distinct-ing the parent keys keeps the left join exactly
      // row-preserving even if a parent ever carried duplicate keys —
      // the NOT-EXISTS semantics the oracle states. The dedup aggregate
      // is over the (small) parent side, partial-agg-compressed before
      // its exchange.
      val pks = parent.select(col(pk).as("pk")).distinct()
      ch.join(pks, col("fk") === col("pk"), "left")
        // count-of-condition, not sum-of-when: over an EMPTY child the
        // ungrouped sum would yield NULL where the predecessor's
        // count(*) yielded 0
        .agg(count(lit(1)).as("n_child"),
          count(when(col("pk").isNull, lit(1))).as("n_orphan"),
          countDistinct(when(col("pk").isNull, col("fk")))
            .as("n_orphan_keys"))
        .select(lit(name).as("rel"), col("n_child"), col("n_orphan"),
          col("n_orphan_keys"))
    }
    val l = Tables.lineitem(s, d)
    rel("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey")
      .unionAll(rel("lineitem.l_orderkey->orders", l, "l_orderkey",
        Tables.orders(s, d), "o_orderkey"))
      .unionAll(rel("lineitem.l_partkey->part", l, "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .unionAll(rel("lineitem.l_suppkey->supplier", l, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))
      .unionAll(rel("nation.n_regionkey->region", Tables.nation(s, d),
        "n_regionkey", Tables.region(s, d), "r_regionkey"))
      .unionAll(rel("orders.o_custkey->customer", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"))
      .orderBy(col("rel"))
  }

  val fkAuditSql: String = {
    def rel(name: String, child: String, fk: String, parent: String,
        pk: String): String =
      s"""SELECT '$name' AS rel,
         |       (SELECT COUNT(*) FROM $child) AS n_child,
         |       COUNT(*) AS n_orphan,
         |       COUNT(DISTINCT $fk) AS n_orphan_keys
         |FROM $child c
         |WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)""".stripMargin
    Seq(
      rel("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      rel("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      rel("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"),
      rel("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  // ---------- window distribution + navigation value functions ----------

  /** The distribution/navigation window family [[windowRange]] doesn't
    * cover: dense_rank and cume_dist over the per-segment balance
    * ordering, plus nth_value/first-style navigation over an explicit
    * running ROWS frame (the 3rd-smallest balance seen so far). The
    * ordering is tie-broken on the key so every function is
    * deterministic; cume_dist is a single IEEE division of two exact
    * integers (identical bits cross-engine — the q_window_range
    * percent_rank precedent). One |customers| window partitioned on the
    * 5-value segment — fine here because customers-per-segment is
    * balanced; a skewed partition-by would get the salted treatment.
    */
  def windowDist(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_cents"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("bal_cents"), col("c_custkey"))
    base.select(col("c_custkey"), col("c_mktsegment"), col("bal_cents"),
        dense_rank().over(w).cast("long").as("drank"),
        cume_dist().over(w).as("cdist"),
        nth_value(col("bal_cents"), 3)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("third_smallest_cents"))
      .orderBy(col("c_custkey"))
  }

  val windowDistSql: String =
    """SELECT c_custkey, c_mktsegment,
      |       CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
      |       CAST(dense_rank() OVER w AS BIGINT) AS drank,
      |       cume_dist() OVER w AS cdist,
      |       CAST(nth_value(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT), 3)
      |              OVER (PARTITION BY c_mktsegment
      |                    ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
      |                             c_custkey
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS third_smallest_cents
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
      |                      c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------- grouped mode (most frequent value) ----------

  /** Exact grouped MODE with a deterministic tie-break: the most common
    * order priority per market segment (ties resolved to the
    * lexicographically smallest value). Two hash aggregates — the
    * (segment, priority) count, then an argmax over the ≤|segments|·5
    * counted rows via `max(struct(cnt, priority))` — the same
    * partial-aggregating struct-max trick as [[argmaxOrder]] (the
    * priority rides NEGATED lexicographically via a rank map so that
    * MAX prefers the SMALLEST string on count ties; with 5 known
    * priorities the rank is a simple substring-to-int). No window, no
    * sort, fully map-side combinable.
    */
  def groupedMode(s: SparkSession, d: String): DataFrame = {
    val counted = Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    // '1-URGENT' .. '5-LOW': leading digit is a total order; negate so
    // struct-max ties break toward the smallest priority string
    counted
      .withColumn("prio_rank",
        -substring(col("o_orderpriority"), 1, 1).cast("int"))
      .groupBy(col("c_mktsegment"))
      .agg(max(struct(col("cnt"), col("prio_rank"),
        col("o_orderpriority"))).as("m"))
      .select(col("c_mktsegment"), col("m.o_orderpriority").as("mode_priority"),
        col("m.cnt").as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val groupedModeSql: String =
    """WITH counted AS (
      |  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT c_mktsegment, o_orderpriority, cnt,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY cnt DESC, o_orderpriority ASC)
      |           AS rn
      |  FROM counted)
      |SELECT c_mktsegment, o_orderpriority AS mode_priority,
      |       cnt AS n_orders
      |FROM ranked WHERE rn = 1
      |ORDER BY c_mktsegment""".stripMargin

  // ---------- TPC-H Q2 shape: per-part min-cost supplier ----------

  /** TPC-H-Q2-shaped min-cost sourcing: for each part in a size slice,
    * the EUROPE supplier(s) whose total billed cents for that part equal
    * the per-part MINIMUM over Europe suppliers (this schema has no
    * partsupp, so per-(part, supplier) lineitem revenue stands in for
    * ps_supplycost). Q2 proper writes this as a MIN correlated on the
    * grouped cost table — and Catalyst decorrelates that fine, but
    * InlineCTE expands the twice-referenced cost CTE into TWO complete
    * fact builds (two lineitem scans; measured, and the branch-specific
    * pushed filters land below the exchanges so ReuseExchange cannot
    * stitch them back). The shipped plan is the equivalent window form:
    * build cost ONCE (s_name/n_name ride along — functionally dependent
    * on l_suppkey, so the grouping key is unchanged), take
    * `MIN(cost_cents) OVER (PARTITION BY l_partkey)`, and keep the rows
    * equal to their partition min. One fact scan, one (partkey, suppkey)
    * aggregate exchange, one l_partkey window exchange; the dim snowflake
    * broadcasts. Ties (two suppliers at the same min cost) surface as
    * separate rows exactly like Q2 proper — the DuckDB oracle keeps the
    * textbook correlated form, pinning the window≡correlated-min
    * equivalence every round; top-100 compiles to TakeOrderedAndProject.
    */
  def tpchQ2(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q2")
    Tables.part(s, d).createOrReplaceTempView("part_q2")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q2")
    Tables.nation(s, d).createOrReplaceTempView("nation_q2")
    Tables.region(s, d).createOrReplaceTempView("region_q2")
    s.sql(
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier_q2
        |  JOIN nation_q2 ON n_nationkey = s_nationkey
        |  JOIN region_q2 ON r_regionkey = n_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, s_name, n_name,
        |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
        |           AS BIGINT)) AS BIGINT) AS cost_cents
        |  FROM lineitem_q2
        |  JOIN eu ON s_suppkey = l_suppkey
        |  GROUP BY l_partkey, l_suppkey, s_name, n_name),
        |win AS (
        |  SELECT l_partkey, s_name, n_name, cost_cents,
        |         MIN(cost_cents) OVER (PARTITION BY l_partkey) AS min_cost
        |  FROM cost)
        |SELECT p_partkey, p_brand, s_name, n_name, cost_cents
        |FROM part_q2
        |JOIN win ON l_partkey = p_partkey
        |WHERE p_size <= 10 AND cost_cents = min_cost
        |ORDER BY cost_cents DESC, p_partkey, s_name
        |LIMIT 100""".stripMargin)
  }

  val tpchQ2Sql: String =
    """WITH eu AS (
      |  SELECT s_suppkey, s_name, n_name
      |  FROM supplier
      |  JOIN nation ON n_nationkey = s_nationkey
      |  JOIN region ON r_regionkey = n_regionkey
      |  WHERE r_name = 'EUROPE'),
      |cost AS (
      |  SELECT l_partkey, l_suppkey,
      |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS cost_cents
      |  FROM lineitem
      |  JOIN eu ON s_suppkey = l_suppkey
      |  GROUP BY l_partkey, l_suppkey)
      |SELECT p_partkey, p_brand, s_name, n_name, cost_cents
      |FROM part
      |JOIN cost ON l_partkey = p_partkey
      |JOIN eu ON eu.s_suppkey = cost.l_suppkey
      |WHERE p_size <= 10
      |  AND cost_cents = (SELECT MIN(c2.cost_cents) FROM cost c2
      |                    WHERE c2.l_partkey = p_partkey)
      |ORDER BY cost_cents DESC, p_partkey, s_name
      |LIMIT 100""".stripMargin

  // ---------- TPC-H Q11 shape: fraction-of-total value filter ----------

  /** Nation slice for [[tpchQ11]] — the ASIA-coded nations (regionkey 2
    * under the synthetic `i % 5` mapping), populated at every SF.
    */
  val Q11Nations: Seq[String] = Seq("NATION_2", "NATION_12", "NATION_22")

  /** TPC-H-Q11-shaped important-value scan: per-part billed value from a
    * nation slice's suppliers, keeping parts whose value exceeds
    * 1/10 000 of the slice TOTAL. The defining shape is the
    * fraction-of-total HAVING: the same grouped table feeds both the
    * per-part rows and the global scalar. The scalar side plans as ONE
    * uncorrelated Subquery stage evaluated once and broadcast into the
    * filter — never per-row re-aggregation (the naive reading computes
    * the total once per part). That does mean the value build runs twice
    * (subquery + main), each a partial-agg-compressed broadcast-join
    * scan; the one-scan alternatives measured WORSE here: a global
    * `SUM() OVER ()` is a single-partition window over every part, and a
    * ROLLUP self-join can't reuse the exchange because the grouping-id
    * filters push below it into branch-specific partial aggregates
    * (verified on the physical plan). Two pipelined scans is the honest
    * distributed answer. The threshold test is
    * cross-multiplied in decimal(38,0) (`value·10⁴ > total`) — BIGINT
    * would wrap silently once slice revenue passes ~9·10¹⁴ cents, the
    * trend/gini widening discipline.
    */
  def tpchQ11(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q11")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q11")
    Tables.nation(s, d).createOrReplaceTempView("nation_q11")
    val nations = Q11Nations.map(n => s"'$n'").mkString(", ")
    s.sql(
      s"""WITH val AS (
         |  SELECT l_partkey,
         |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
         |           AS BIGINT)) AS BIGINT) AS value_cents
         |  FROM lineitem_q11
         |  JOIN supplier_q11 ON s_suppkey = l_suppkey
         |  JOIN nation_q11 ON n_nationkey = s_nationkey
         |  WHERE n_name IN ($nations)
         |  GROUP BY l_partkey)
         |SELECT l_partkey AS p_key, value_cents
         |FROM val
         |WHERE CAST(value_cents AS DECIMAL(38,0)) * 10000 >
         |      (SELECT SUM(value_cents) FROM val)
         |ORDER BY value_cents DESC, p_key""".stripMargin)
  }

  val tpchQ11Sql: String = {
    val nations = Q11Nations.map(n => s"'$n'").mkString(", ")
    s"""WITH val AS (
       |  SELECT l_partkey,
       |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
       |           AS BIGINT)) AS BIGINT) AS value_cents
       |  FROM lineitem
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN nation ON n_nationkey = s_nationkey
       |  WHERE n_name IN ($nations)
       |  GROUP BY l_partkey)
       |SELECT l_partkey AS p_key, value_cents
       |FROM val
       |WHERE CAST(value_cents AS HUGEINT) * 10000 >
       |      (SELECT SUM(value_cents) FROM val)
       |ORDER BY value_cents DESC, p_key""".stripMargin
  }

  // ---------- TPC-H Q16 shape: NOT IN null-aware anti join ----------

  /** TPC-H-Q16-shaped supplier diversity count: distinct suppliers per
    * (brand, size) over a part slice, EXCLUDING a supplier blacklist via
    * `NOT IN (subquery)` — the one anti-join flavor the engine's plain
    * `left_anti` queries ([[joinAnti]], [[fkAudit]]) never exercise:
    * NOT IN is null-AWARE (a NULL in the blacklist empties the result),
    * so Catalyst plans a null-aware broadcast anti join instead of a
    * shuffled LeftAnti. That broadcast is the honest plan at every
    * scale: the blacklist is a name-pattern slice of the supplier DIM
    * (KBs at 100 TB), while the probe side stays hash-partitioned —
    * a shuffled null-aware join does not exist and is not needed.
    * COUNT(DISTINCT) goes through Spark's two-phase distinct expansion,
    * partial on (brand, size, suppkey).
    */
  def tpchQ16(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q16")
    Tables.part(s, d).createOrReplaceTempView("part_q16")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q16")
    s.sql(
      """SELECT p_brand, p_size,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem_q16
        |JOIN part_q16 ON p_partkey = l_partkey
        |WHERE p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier_q16
        |                        WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)
  }

  val tpchQ16Sql: String =
    """SELECT p_brand, p_size,
      |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_name LIKE '%7')
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  // ---------- TPC-H Q19 shape: disjunctive pushdown ----------

  /** TPC-H-Q19-shaped disjunctive revenue: three OR'd conjunctions each
    * tying a part predicate (brand + size band) to a fact predicate
    * (quantity band). The point is what the optimizer does with the OR:
    * no single conjunct can move below the join, but Catalyst's
    * CNF-based extraction (`extractPredicatesWithinOutputSet`) derives
    * the IMPLIED per-side disjunctions — `(brand=12 ∧ size≤5) ∨ …` onto
    * the part scan and `(qty≤11) ∨ (10≤qty≤20) ∨ (20≤qty≤30)` onto the
    * lineitem scan — so both parquet scans prune before the join while
    * the full predicate re-applies above it. The quantity predicate
    * compares the raw DOUBLE column (quantities are integral, so the
    * band edges are exact): wrapping it in a bigint cast would keep the
    * derived disjunction out of `PushedFilters` and forfeit row-group
    * skipping on the fact scan. RelationalSpec pins BOTH pushed
    * disjunctions. Revenue is discounted exact cents.
    */
  def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity").as("qty"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("qty").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("qty").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("qty").between(20.0, 30.0)))
      .agg(sum(col("rev_cents")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  val tpchQ19Sql: String =
    """SELECT CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents,
      |       COUNT(*) AS n_lines
      |FROM (SELECT l_partkey, l_quantity AS qty,
      |             CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |               + 0.5) AS BIGINT) AS rev_cents
      |      FROM lineitem) l
      |JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND qty BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND qty BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND qty BETWEEN 20 AND 30)""".stripMargin

  // ---------- pairwise correlation matrix from exact moments ----------

  /** The integer-rescaled lineitem measures the correlation matrix runs
    * over: quantity as-is, price in cents, discount/tax in basis points.
    */
  private val CorrCols = Seq("qty", "price", "disc", "tax")

  /** Pairwise Pearson correlation matrix over the four lineitem
    * measures, computed from EXACT integer moments in ONE pass: a single
    * map-side-combined aggregate produces n, the four sums, and the ten
    * pairwise products (all products decimal(38,0) — price² is ~10¹⁴ per
    * row, so BIGINT accumulation wraps within a few thousand rows; the
    * trend/gini widening discipline), and a 1-row explode fans the ten
    * moments into the six correlation rows — NOT a 6-way union of
    * selects over the aggregate, which would re-run the scan per pair.
    * Like [[graft.operators.EventOps.trend]], the output stays an exact
    * rational: corr² = corr_num² / (var_x_num·var_y_num), so no sqrt or
    * float division ever runs engine-side and the oracle hash is
    * byte-stable. The rationals leave as digit STRINGS (DecimalType is
    * accumulation-only — wide-decimal result columns hash differently
    * across canonicalizers, the r10 hash-red; SchemaLintSpec enforces).
    * Scale: the only row-scaled work is the one partial aggregate;
    * everything after is a constant 6 rows.
    */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = Tables.lineitem(s, d).select(
      col("l_quantity").cast("long").as("qty"),
      cents(col("l_extendedprice")).as("price"),
      floor(col("l_discount") * 10000d + 0.5d).cast("long").as("disc"),
      floor(col("l_tax") * 10000d + 0.5d).cast("long").as("tax"))
    val aggExprs =
      Seq(count(lit(1)).as("n")) ++
        CorrCols.map(c => sum(col(c)).as(s"s_$c")) ++
        (for {
          i <- CorrCols.indices; j <- i until CorrCols.length
        } yield sum((col(CorrCols(i)) * col(CorrCols(j))).cast(dec))
          .as(s"p_${CorrCols(i)}_${CorrCols(j)}"))
    val m = base.agg(aggExprs.head, aggExprs.tail: _*)
    val pairRows = for {
      i <- CorrCols.indices; j <- (i + 1) until CorrCols.length
      x = CorrCols(i); y = CorrCols(j)
    } yield struct(
      lit(x).as("x_col"), lit(y).as("y_col"), col("n"),
      (col("n") * col(s"p_${x}_$y") - col(s"s_$x").cast(dec) *
        col(s"s_$y")).cast(dec).cast("string").as("corr_num"),
      (col("n") * col(s"p_${x}_$x") - col(s"s_$x").cast(dec) *
        col(s"s_$x")).cast(dec).cast("string").as("var_x_num"),
      (col("n") * col(s"p_${y}_$y") - col(s"s_$y").cast(dec) *
        col(s"s_$y")).cast(dec).cast("string").as("var_y_num"))
    m.select(explode(array(pairRows: _*)).as("r"))
      .select(col("r.x_col").as("x_col"), col("r.y_col").as("y_col"),
        col("r.n").as("n"), col("r.corr_num").as("corr_num"),
        col("r.var_x_num").as("var_x_num"),
        col("r.var_y_num").as("var_y_num"))
      .orderBy(col("x_col"), col("y_col"))
  }

  val corrMatrixSql: String = {
    val pairs = for {
      i <- CorrCols.indices; j <- (i + 1) until CorrCols.length
    } yield (CorrCols(i), CorrCols(j))
    val branches = pairs.map { case (x, y) =>
      s"""SELECT '$x' AS x_col, '$y' AS y_col, n,
         |  CAST(n * p_${x}_$y - CAST(s_$x AS HUGEINT) * s_$y
         |    AS VARCHAR) AS corr_num,
         |  CAST(n * p_${x}_$x - CAST(s_$x AS HUGEINT) * s_$x
         |    AS VARCHAR) AS var_x_num,
         |  CAST(n * p_${y}_$y - CAST(s_$y AS HUGEINT) * s_$y
         |    AS VARCHAR) AS var_y_num
         |FROM m""".stripMargin
    }
    val sums = CorrCols.map(c => s"CAST(SUM($c) AS BIGINT) AS s_$c")
    val prods = for {
      i <- CorrCols.indices; j <- i until CorrCols.length
      x = CorrCols(i); y = CorrCols(j)
    } yield s"CAST(SUM(CAST($x AS HUGEINT) * $y) AS HUGEINT) AS p_${x}_$y"
    s"""WITH b AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS qty,
       |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
       |           AS price,
       |         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc,
       |         CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS tax
       |  FROM lineitem),
       |m AS (SELECT COUNT(*) AS n,
       |  ${(sums ++ prods).mkString(",\n  ")}
       |  FROM b)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY x_col, y_col""".stripMargin
  }

  // ---------- TPC-H Q20 shape: nested semi over correlated agg ----------

  /** TPC-H-Q20-shaped dominant-supplier scan: suppliers who, for some
    * part in a type slice, shipped MORE THAN HALF of that part's total
    * quantity (no partsupp in this schema, so the per-(part, supplier)
    * shipped sum stands in for ps_availqty and the per-part total for
    * the correlated demand sum — the nesting is identical). Two
    * decorrelations stack: the correlated scalar over the raw fact
    * becomes a pre-aggregated l_partkey join against the grouped
    * (part, supplier) table, and the enclosing `IN` becomes a LeftSemi
    * into the supplier dim — aggregate-below-semi-below-join, the only
    * query where both rewrites compose. All exchanges key on l_partkey
    * or s_suppkey; the half test is cross-multiplied BIGINT
    * (`2·q_ps > q_p`), never a float division.
    */
  def tpchQ20(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q20")
    Tables.part(s, d).createOrReplaceTempView("part_q20")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q20")
    Tables.nation(s, d).createOrReplaceTempView("nation_q20")
    s.sql(
      """SELECT s_name, n_name
        |FROM supplier_q20
        |JOIN nation_q20 ON n_nationkey = s_nationkey
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey
        |  FROM (SELECT l_partkey, l_suppkey,
        |               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |                 AS q_ps
        |        FROM lineitem_q20
        |        JOIN part_q20 ON p_partkey = l_partkey
        |        WHERE p_type = 'SMALL'
        |        GROUP BY l_partkey, l_suppkey) ps
        |  WHERE ps.q_ps * 2 >
        |        (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |         FROM lineitem_q20 l2
        |         WHERE l2.l_partkey = ps.l_partkey))
        |ORDER BY s_name""".stripMargin)
  }

  val tpchQ20Sql: String =
    """SELECT s_name, n_name
      |FROM supplier
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE s_suppkey IN (
      |  SELECT ps.l_suppkey
      |  FROM (SELECT l_partkey, l_suppkey,
      |               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |                 AS q_ps
      |        FROM lineitem
      |        JOIN part ON p_partkey = l_partkey
      |        WHERE p_type = 'SMALL'
      |        GROUP BY l_partkey, l_suppkey) ps
      |  WHERE ps.q_ps * 2 >
      |        (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |         FROM lineitem l2
      |         WHERE l2.l_partkey = ps.l_partkey))
      |ORDER BY s_name""".stripMargin

  // ---------- TPC-H Q4 shape: EXISTS under a grouped count ----------

  /** TPC-H-Q4-shaped priority count: orders placed in a quarter that
    * have at least one RETURNED line (this schema has no
    * commitdate/receiptdate, so `l_returnflag = 'R'` stands in for the
    * late-delivery EXISTS — the shape is identical), counted per
    * priority. What this adds over [[joinSemi]]: the EXISTS sits UNDER a
    * grouped aggregate, so the decorrelated LeftSemi must run fact-first
    * and the count sees each order once no matter how many lines matched
    * — a plain inner join would double-count multi-line orders. The date
    * window pushes to the orders scan; the semi probe side carries only
    * (l_orderkey) after pruning.
    */
  def tpchQ4(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_q4")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q4")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders_q4
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem_q4
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val tpchQ4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------- TPC-H Q5 shape: cyclic join (local supplier volume) ----------

  /** TPC-H-Q5-shaped local-supplier volume: revenue per nation for ASIA
    * customers served by a supplier in the SAME nation. The defining
    * feature is the CYCLE in the join graph: `c_nationkey = s_nationkey`
    * is not a star edge — it closes customer→orders→lineitem→supplier
    * back to customer, and Catalyst folds it into the supplier join as a
    * second equality key (suppkey AND nationkey), so no post-join filter
    * and no extra exchange. nation⋈region broadcast; the date window
    * pushes to the orders scan; revenue aggregates map-side per nation
    * (25 groups).
    */
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1997-01-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    c.join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("n_nationkey") === col("s_nationkey"))
      .join(r, col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  val tpchQ5Sql: String =
    """SELECT n_name,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |         + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM customer
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |             AND c_nationkey = s_nationkey
      |JOIN nation   ON n_nationkey = s_nationkey
      |JOIN region   ON r_regionkey = n_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_cents DESC, n_name""".stripMargin

  // ---------- TPC-H Q6 shape: scan-only banded revenue ----------

  /** TPC-H-Q6-shaped forecast revenue: a pure scan-aggregate with THREE
    * banded predicates (ship year, discount band, quantity cap) and no
    * join — the query whose entire cost is how much of the fact the scan
    * can SKIP. All three predicates compare raw parquet columns, so all
    * three reach `PushedFilters` and prune row groups; the aggregate is
    * a 1-group map-side combine (the shuffle carries one row per
    * partition). The discount band uses the literal grid values the
    * generator emits (0.05-0.07 inclusive), matching Q6's ±0.01 window.
    */
  def tpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01" &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(sum(cents(col("l_extendedprice") * col("l_discount")))
        .as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  val tpchQ6Sql: String =
    """SELECT CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
      |         AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------- TPC-H Q7 shape: disjunctive nation-pair volume ----------

  /** TPC-H-Q7-shaped bilateral shipping volume: revenue between two
    * REGIONS in BOTH directions (Q7 proper uses a nation pair; at the
    * smallest SF only 10 suppliers exist, so a fixed nation pair is
    * empty — the region pair keeps the exact same shape populated at
    * every SF), grouped by (supplier nation, customer nation, ship
    * year). The nation dim joins TWICE under different roles (n1 =
    * supplier side, n2 = customer side) and the pair condition is an OR
    * across both aliases — not pushable as a single conjunct, but each
    * alias still gets its derived `n_regionkey IN (2, 3)` pushed into
    * its broadcast build (the q19 disjunction-extraction mechanism on a
    * self-joined dim). Year comes off l_shipdate; ≤ 2·|nations|²·years
    * groups, map-side combined.
    */
  def tpchQ7(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q7")
    Tables.orders(s, d).createOrReplaceTempView("orders_q7")
    Tables.customer(s, d).createOrReplaceTempView("customer_q7")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_q7")
    Tables.nation(s, d).createOrReplaceTempView("nation_q7")
    s.sql(
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |           + 0.5) AS BIGINT) AS rev_cents
        |  FROM supplier_q7
        |  JOIN lineitem_q7 ON s_suppkey = l_suppkey
        |  JOIN orders_q7   ON o_orderkey = l_orderkey
        |  JOIN customer_q7 ON c_custkey = o_custkey
        |  JOIN nation_q7 n1 ON n1.n_nationkey = s_nationkey
        |  JOIN nation_q7 n2 ON n2.n_nationkey = c_nationkey
        |  WHERE (n1.n_regionkey = 2 AND n2.n_regionkey = 3)
        |     OR (n1.n_regionkey = 3 AND n2.n_regionkey = 2))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         year(l_shipdate) AS l_year,
      |         CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |           + 0.5) AS BIGINT) AS rev_cents
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders   ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |  WHERE (n1.n_regionkey = 2 AND n2.n_regionkey = 3)
      |     OR (n1.n_regionkey = 3 AND n2.n_regionkey = 2)) t
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---------- TPC-H Q10 shape: returned-revenue top customers ----------

  /** TPC-H-Q10-shaped returned-item report: the 20 customers with the
    * most revenue on RETURNED lines for orders placed in one quarter.
    * The group key is the customer (plus its functionally-dependent
    * name/nation attributes), so the aggregate exchange is custkey-wide
    * — far wider than Q3's order groups — and the top-20 still compiles
    * to TakeOrderedAndProject above it (no global sort). Date window to
    * the orders scan, returnflag to the fact scan, nation broadcast.
    */
  def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1996-04-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    c.join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.nation(s, d),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  val tpchQ10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |         + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM customer
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON n_nationkey = c_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_cents DESC, c_custkey
      |LIMIT 20""".stripMargin

  // ---------- TPC-H Q9 shape: profit by nation and year ----------

  /** TPC-H-Q9-shaped product profit: per (supplier nation, order year),
    * Σ revenue − cost over a part-name LIKE slice (`%bolt%` against the
    * adjective-noun part names; this schema has no partsupp, so unit
    * cost stands in as the part's retail price — the join graph and the
    * two-sided money expression are Q9's). The defining stress is the
    * five-table join with a NON-pushable infix LIKE: the pattern still
    * prunes the part dim before its broadcast (evaluated at the scan,
    * just not as a parquet predicate), and the profit expression mixes
    * columns from three tables, so it can only evaluate above the last
    * join — Catalyst must keep it out of every partial aggregate.
    * Profit is exact cents; 25·|years| groups map-side combine.
    */
  def tpchQ9(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    val p = Tables.part(s, d).filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("unit_cents"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long")
        .as("o_year"))
    l.join(p, col("p_partkey") === col("l_partkey"))
      .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.nation(s, d), col("n_nationkey") === col("s_nationkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("rev_cents") - col("qty") * col("unit_cents"))
        .as("profit_cents"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  val tpchQ9Sql: String =
    """SELECT n_name, year(o_orderdate) AS o_year,
      |       CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |              + 0.5) AS BIGINT)
      |            - CAST(l_quantity AS BIGINT)
      |              * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS profit_cents
      |FROM lineitem
      |JOIN part     ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation   ON n_nationkey = s_nationkey
      |JOIN orders   ON o_orderkey = l_orderkey
      |WHERE p_name LIKE '%bolt%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY n_name, o_year DESC""".stripMargin

  // ---------- TPC-H Q12 shape: priority classes per return flag ----------

  /** TPC-H-Q12-shaped shipping-class audit: per return flag (the
    * schema's stand-in for shipmode), how many of one ship-year's lines
    * belong to critical-priority orders (1-URGENT / 2-HIGH) vs not —
    * Q12's two CASE-counts after a fact⋈fact join. Both counts come from
    * ONE orderkey-partitioned join pass (lineitem filtered by ship year
    * joins orders), never two filtered passes; the priority test is a
    * projection above the join, and the 3-group aggregate map-side
    * combines.
    */
  def tpchQ12(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .select(col("l_orderkey"), col("l_returnflag"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    l.join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val tpchQ12Sql: String =
    """SELECT l_returnflag,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT)
      |         AS high_line_count,
      |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT',
      |                     '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
      |         AS low_line_count
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------- TPC-H Q14 shape: conditional share in one pass ----------

  /** TPC-H-Q14-shaped promo share: the fraction of one month's revenue
    * from PROMO-type parts, as exact ppm. Both the conditional (promo)
    * and unconditional sums come out of ONE aggregate over one
    * fact-scan-plus-part-join — never two passes joined back — and the
    * share is integer ppm (`promo·10⁶ div total`), so no float division
    * runs engine-side. The month window prunes the fact scan; part
    * broadcasts.
    */
  def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-03-01" &&
        col("l_shipdate") < "1996-04-01")
      .select(col("l_partkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev_cents"))
    l.join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
        col("p_partkey") === col("l_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_cents"))
          .otherwise(0L)).as("promo_cents"),
        sum(col("rev_cents")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        expr("promo_cents * 1000000 div total_cents").as("promo_ppm"))
  }

  val tpchQ14Sql: String =
    """SELECT promo_cents, total_cents,
      |       promo_cents * 1000000 // total_cents AS promo_ppm
      |FROM (
      |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_cents
      |                       ELSE 0 END) AS BIGINT) AS promo_cents,
      |         CAST(SUM(rev_cents) AS BIGINT) AS total_cents
      |  FROM (SELECT l_partkey,
      |               CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
      |                 + 0.5) AS BIGINT) AS rev_cents
      |        FROM lineitem
      |        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |          AND l_shipdate <  TIMESTAMP '1996-04-01') l
      |  JOIN part ON p_partkey = l_partkey) t""".stripMargin
}
