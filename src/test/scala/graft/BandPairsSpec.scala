package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.BandPairs

/** The banded-candidate kernel against a brute-force `distinct()` over
  * every band collision, on keys that collide in one band, in several
  * and in all, with NULL keys; its broadcast and shuffle paths; its
  * report; and the Spark jobs of the four oracle queries built on it.
  */
class BandPairsSpec extends SparkSpecBase {
  import spark.implicits._

  private val Bands = 4

  /** Hand-placed collisions (0–6) plus 40 rows of random keys from a
    * three-value domain with NULLs, so most pairs meet in several bands.
    */
  private def fixture(ids: Range, seed: Long): DataFrame = {
    val placed = Seq[(Long, Seq[java.lang.Long])](
      (0L, Seq(1L, 2L, 3L, 4L)),
      (1L, Seq(1L, 9L, 9L, 9L)),       // meets 0 and 3 in band 0 only
      (2L, Seq(5L, 2L, 3L, 7L)),       // meets 0 and 3 in bands 1 and 2
      (3L, Seq(1L, 2L, 3L, 4L)),       // meets 0 in every band
      (4L, Seq(null, 2L, null, 8L)),   // NULL keys never meet
      (5L, Seq(null, null, null, null)),
      (6L, Seq(6L, 6L, 6L, 4L)))       // meets 0 and 3 in the last band
    val rnd = new scala.util.Random(seed)
    val random = ids.map { i =>
      (i.toLong, Seq.fill(Bands)(
        if (rnd.nextInt(6) == 0) null
        else java.lang.Long.valueOf(100L + rnd.nextInt(3))))
    }
    (placed ++ random).map { case (id, ks) => (id, ks.map(k =>
      Option(k).map(_.longValue))) }
      .toDF("id", "keys")
  }

  /** Every (x.id, y.id) meeting in some band under `pred`, deduplicated. */
  private def bruteForce(x: DataFrame, y: DataFrame, pred: Column)
      : Set[(Long, Long)] = {
    def exploded(df: DataFrame) =
      df.select(col("id"), posexplode(col("keys")).as(Seq("band", "bkey")))
    exploded(x).as("x").join(exploded(y).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          pred)
      .select(col("x.id"), col("y.id")).distinct()
      .as[(Long, Long)].collect().toSet
  }

  private def kernelPairs(pairs: DataFrame): Seq[(Long, Long)] =
    pairs.select(col("x.id"), col("y.id")).as[(Long, Long)].collect().toSeq

  private def assertSameAsBruteForce(x: DataFrame, y: DataFrame,
      pred: Column): Unit = {
    val got = kernelPairs(BandPairs(x, y, "keys", Bands, "spec", pred))
    assert(got.size === got.toSet.size, "a pair was emitted twice")
    assert(got.toSet === bruteForce(x, y, pred))
  }

  test("self-join a < b: each colliding pair once, whatever its band count") {
    val df = fixture(100 until 140, 7L)
    assertSameAsBruteForce(df, df, col("x.id") < col("y.id"))
    val got = kernelPairs(
      BandPairs(df, df, "keys", Bands, "spec", col("x.id") < col("y.id")))
      .filter(p => p._1 < 10 && p._2 < 10).toSet
    assert(got === Set((0L, 1L), (0L, 2L), (0L, 3L), (0L, 6L), (1L, 3L),
      (2L, 3L), (2L, 4L), (0L, 4L), (3L, 4L), (3L, 6L)))
  }

  test("the asymmetric query predicate matches the brute force") {
    val df = fixture(100 until 140, 11L)
    assertSameAsBruteForce(df, df,
      col("x.id") < lit(110L) && col("x.id") =!= col("y.id"))
  }

  test("two distinct frames with no predicate match the brute force") {
    val batch = fixture(100 until 120, 13L)
    val corpus = fixture(200 until 240, 17L).filter(col("id") =!= 5L)
    assertSameAsBruteForce(batch, corpus, lit(true))
  }

  test("the broadcast and shuffle paths return identical pairs") {
    val df = fixture(100 until 140, 19L)
    val pred = col("x.id") < col("y.id")
    def run(maxBroadcastRows: Long): (Set[(Long, Long)], String) = {
      val pairs = BandPairs(df, df, "keys", Bands, "spec", pred,
        Some(df.count()), maxBroadcastRows)
      (kernelPairs(pairs).toSet, PlanDump.executedPlan(pairs))
    }
    val (viaBroadcast, broadcastPlan) = run(BandPairs.MaxBroadcastRows)
    assert(broadcastPlan.contains("BroadcastHashJoin"))
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    keys.foreach(spark.conf.set(_, "-1"))
    val (viaShuffle, shufflePlan) =
      try run(0L) finally keys.foreach(spark.conf.unset)
    assert(shufflePlan.contains("SortMergeJoin"))
    assert(!shufflePlan.contains("BroadcastHashJoin"))
    assert(viaShuffle === viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("the report counts banded rows and candidate pairs") {
    val df = fixture(100 until 140, 23L)
    val pairs = BandPairs(df, df, "keys", Bands, "spec",
      col("x.id") < col("y.id"))
    val n = pairs.collect().length
    val m = BandPairs.observed(pairs, "spec")
    assert(m("banded_rows") === 47L * Bands)
    assert(m("candidate_pairs") === n.toLong)
  }

  test("hamming sums the popcount of xor over the words") {
    val h = Seq((Seq(0L, 7L, -1L), Seq(1L, 0L, -1L)))
      .toDF("a", "b")
      .select(BandPairs.hamming(col("a"), col("b"), 3)).as[Long].head()
    assert(h === 4L)
  }

  // jobs per oracle query at the kernel's introduction, from the same
  // listener on the same session: no query may run more
  private val jobsBefore = Map(
    "q_dedup_minhash" -> ("minhash_lsh", 10),
    "q_dedup_simhash" -> ("simhash", 9),
    "q_ann_lsh" -> ("ann_lsh", 13),
    "q_embed_lsh_pairs" -> ("embed_lsh_pairs", 11))

  jobsBefore.foreach { case (q, (name, limit)) =>
    test(s"$q runs at most $limit jobs and reports its candidates") {
      val (df, n) = jobs {
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.collect()
        df
      }
      assert(n <= limit, s"$n jobs")
      val m = BandPairs.observed(df, name)
      assert(m("banded_rows") > 0L)
      assert(m("candidate_pairs") > 0L)
    }
  }
}
