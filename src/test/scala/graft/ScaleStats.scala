package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale-study companion: candidate-VOLUME measurement for the two
  * banded/bucketed pair generators, at any corpus size, in linear time.
  * The pair joins themselves are Θ(Σ df²) / Θ(Σ m²); on the degenerate
  * fixed-vocabulary corpus at 100× those volumes exceed what one host can
  * materialize, so the study quantifies them from the linear aggregates
  * (shingle df table, band-bucket histogram) instead of timing a join the
  * operators are designed to avoid in exactly that regime. Uses the same
  * shingle constructor ([[Dedup.shinglesOfTokens]], per-doc distinct) and
  * the same signature stage ([[Dedup.simhashPacked]]) as the operators,
  * so the printed volumes are the joins' true input cardinalities.
  * Prints one JSON line.
  *
  * Usage: ScaleStats <dir> [cap ...]
  */
object ScaleStats {
  def main(args: Array[String]): Unit = {
    System.setProperty("spark.log.level", "ERROR")
    val dir  = args(0)
    val caps = args.drop(1).map(_.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-scalestats")
    spark.sparkContext.setLogLevel("ERROR")

    val df = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode_outer(Dedup.shinglesOfTokens(col("toks"))).as("s"))
      .filter(col("s").isNotNull)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .cache()

    // Σ m(m-1) summed exactly in integers, halved after (always even)
    def volume(hist: DataFrame, m: String): (Long, Long, Long) = {
      // coalesce: sum/max over ZERO rows are null — a cap sweep value below
      // every df (exactly the saturated-corpus case this tool sizes caps
      // for) must print pairs:0, not NPE the whole stats run
      val r = hist.agg(
        coalesce(sum(col(m) * (col(m) - 1)), lit(0L)).cast("long"),
        coalesce(max(col(m)), lit(0L)).cast("long"),
        count(lit(1))).head
      (r.getLong(0) / 2, r.getLong(1), r.getLong(2))
    }

    val (ngramVol, maxDf, nShingles) = volume(df, "df")
    val cappedStats = caps.map { c =>
      val (v, _, kept) = volume(df.filter(col("df") <= c), "df")
      s""""cap$c":{"pairs":$v,"shingles_kept":$kept}"""
    }

    // (band, bkey) membership of the SimHash pair join's banded rows
    val buckets = Dedup.simhashPacked(
        Tables.spread(Tables.documents(spark, dir), col("doc_id")))
      .select(posexplode_outer(array((0 until Dedup.SimBands)
        .map(b => col(s"b$b")): _*)).as(Seq("band", "bkey")))
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("m"))
    val (simVol, maxBucket, nBuckets) = volume(buckets, "m")

    println(s"""{"dir":"${Bench.jsonEscape(dir)}",""" +
      s""""ngram":{"pairs":$ngramVol,"max_df":$maxDf,"shingles":$nShingles},""" +
      cappedStats.map(_ + ",").mkString +
      s""""simhash":{"pairs":$simVol,"max_bucket":$maxBucket,"buckets":$nBuckets}}""")
    spark.stop()
  }
}
