package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Band keys → candidate pairs: the one band-bucket join of the LSH
  * family. Rows sharing a key in the same band meet; the caller's exact
  * check then keeps the real pairs. Each side carries an id, its band
  * keys as an array column (index = band) and any payload; the sides
  * join as `x` and `y`, which the predicate and the caller's projections
  * qualify. A self-join passes the same frame twice. A filter on one side
  * belongs in that side's frame, not in `pred`: Spark does not push a
  * filter below the report's observation, so in `pred` it would run after
  * that side is banded in full.
  *
  * First band wins: a pair colliding in several bands is emitted only at
  * the first band where the two key arrays agree, so it exists once and
  * no `distinct()` over candidate ids follows. The check reads only the
  * two key arrays, so the pair set equals the `distinct()` of all
  * collisions for any predicate blind to the band; a NULL key never
  * meets. That `distinct()` is one shuffle of the FULL candidate volume:
  * on a band-collapsed corpus (the degenerate fixed-vocabulary regime at
  * 100×, Σ C(m,2) ≈ 8.4B SimHash candidates) it moved ~130 GB and
  * dominated a run that never finished. First-band-wins costs one key
  * array per banded row instead — linear in rows, not in candidates.
  *
  * Broadcast gate: `y` is broadcast when the caller knows its row count
  * and it is at most `maxBroadcastRows` (1M rows of four bands build a
  * ≲1 GiB relation). A broadcast hash join spreads a dense bucket's
  * C(m,2) pair generation across all stream-side scan partitions, where
  * the sort-merge join colocates each bucket in one task — and a dense
  * bucket is what AQE's byte-based skew split cannot see (54,777 banded
  * rows are ~1.3 MB of input but 1.5B output pairs). Otherwise the
  * planner chooses.
  *
  * Report: `x`'s banded rows (all of them, for a self-join) and the
  * candidate pairs before the exact check, counted on rows the join
  * already produces; [[observed]] reads them once the plan has run.
  */
private[graft] object BandPairs {

  val MaxBroadcastRows = 1000000L

  def apply(x: DataFrame, y: DataFrame, keys: String, bands: Int,
      name: String, pred: Column = lit(true), yRows: Option[Long] = None,
      maxBroadcastRows: Long = MaxBroadcastRows): DataFrame = {
    def banded(side: DataFrame): DataFrame =
      side.select(col("*"),
        posexplode_outer(col(keys)).as(Seq("band", "bkey")))
    val bx = banded(x)
      .observe(s"${name}_banded", count(lit(1)).as("banded_rows"))
    val by = if (y eq x) bx else banded(y)
    val yb = if (yRows.exists(_ <= maxBroadcastRows)) broadcast(by) else by
    val firstBand = (0 until bands).foldRight(lit(-1): Column) { (j, acc) =>
      when(element_at(col(s"x.$keys"), j + 1) ===
        element_at(col(s"y.$keys"), j + 1), lit(j)).otherwise(acc)
    }
    bx.as("x").join(yb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          pred && col("x.band") === firstBand)
      .observe(name, count(lit(1)).as("candidate_pairs"))
  }

  /** `banded_rows` and `candidate_pairs` of the kernel run as `name`
    * inside `df`, once `df` has run.
    */
  def observed(df: DataFrame, name: String): Map[String, Long] = {
    val m = df.queryExecution.observedMetrics
    Map("banded_rows" -> m(s"${name}_banded").getLong(0),
      "candidate_pairs" -> m(name).getLong(0))
  }

  /** Hamming distance of two arrays of `words` packed bit words:
    * `bit_count(xor)` summed over the words.
    */
  def hamming(a: Column, b: Column, words: Int): Column =
    (1 to words).map(i =>
      bit_count(element_at(a, i).bitwiseXOR(element_at(b, i))))
      .reduce(_ + _).cast("long")
}
