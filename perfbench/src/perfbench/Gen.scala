package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column), built on `graft.ScaleData.mix`, so a seed gives
  * the same inputs at any parallelism and two seeds give independent ones.
  * Shapes follow the repository's test tables (FIXTURES.md section B), the
  * `ScaleData` corpus and the reference's landed-CSV generator.
  */
final class Seeded(seed: Long) extends Serializable {
  private val salt = graft.ScaleData.mix(seed * 0x9E3779B97F4A7C15L + 0x5EEDL)
  /** Uniform in [0, m). */
  def u(id: Long, k: Long, m: Long): Long =
    Math.floorMod(graft.ScaleData.mix((id * 0x100000001B3L + k * 0x9E3779B9L) ^ salt), m)
  def pick[T](xs: Array[T], id: Long, k: Long): T = xs(u(id, k, xs.length.toLong).toInt)
}

object Gen {
  private val DayMs = 86400000L

  /** The TPC-H-shaped tables the warehouse queries read (lineitem,
    * orders, customer, supplier, nation, region), in the ratios of the
    * repository's test tables (TESTDATA.md): 4 lines per order on
    * average, customers = orders / 10, suppliers = orders / 150, part keys
    * drawn from orders * 2 / 15.
    */
  def warehouse(spark: SparkSession, dir: String, seed: Long, nOrders: Long): Unit = {
    import spark.implicits._
    val h = new Seeded(seed)
    val nCust = math.max(nOrders / 10, 1L)
    val nSupp = math.max(nOrders / 150, 1L)
    val nParts = math.max(nOrders * 2 / 15, 1L)
    val shipBase = 788918400000L + DayMs // 1995-01-02
    val ordBase = 788918400000L          // 1995-01-01
    val flags = Array("A", "N", "R")
    val status = Array("F", "O")
    val ostatus = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val seg = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    spark.range(nOrders).flatMap { ok =>
      (0 until 1 + h.u(ok, 1, 7).toInt).map { k =>
        val l = ok * 8 + k
        (ok, h.u(l, 2, nParts), h.u(l, 3, nSupp), k + 1,
          (1 + h.u(l, 4, 50)).toDouble, (90000 + h.u(l, 5, 10410000)) / 100.0,
          h.u(l, 6, 11) / 100.0, h.u(l, 7, 9) / 100.0,
          h.pick(flags, l, 8), h.pick(status, l, 9),
          new java.sql.Timestamp(shipBase + h.u(l, 10, 2498) * DayMs))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate").write.parquet(s"$dir/lineitem.parquet")
    spark.range(nOrders).map { ok =>
      (ok, h.u(ok, 11, nCust), h.pick(ostatus, ok, 12),
        (100000 + h.u(ok, 13, 49900000)) / 100.0,
        new java.sql.Timestamp(ordBase + h.u(ok, 14, 2404) * DayMs),
        h.pick(prio, ok, 15))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(s"$dir/orders.parquet")
    spark.range(nCust).map { ck =>
      (ck, f"Customer#$ck%09d", h.u(ck, 16, 25).toInt,
        (-99999 + h.u(ck, 17, 1099999)) / 100.0, h.pick(seg, ck, 18))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    spark.range(nSupp).map { sk =>
      (sk, f"Supplier#$sk%09d", h.u(sk, 19, 25).toInt,
        (-99999 + h.u(sk, 20, 1099999)) / 100.0)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    spark.range(25).map(nk => (nk.toInt, s"NATION_$nk", (nk % 5).toInt))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name").coalesce(1).write.parquet(s"$dir/region.parquet")
  }

  /** The `ScaleData` corpus (documents with planted near-duplicates,
    * unit-norm 64-dim embeddings) at `nDocs` / `nVecs`, shifted to a
    * seed-dependent id range so each seed draws a different corpus.
    */
  def corpus(spark: SparkSession, dir: String, seed: Long, nDocs: Long,
      nVecs: Long, vocabMul: Int): Unit = {
    import spark.implicits._
    val h = new Seeded(seed)
    val off = 40L * h.u(0, 40, 1L << 24)
    val langs = Array("en", "fr", "es", "zh", "de")
    spark.range(nDocs).map { id =>
      val text = graft.ScaleData.docText(id + off, nDocs, vocabMul)
      (id, text, h.pick(langs, id, 41), s"src${h.u(id, 42, 20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.range(nVecs).map(id =>
      (id, graft.ScaleData.embedding(id + off), h.u(id, 43, 10).toInt))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
  }

  val CsvHeader = "transaction_id,date,timestamp,amount,category,description," +
    "transaction_type,account,location"

  /** One landed CSV in the reference generator's shape (` s3_uploader.py`
    * :27-95): 70/30 expense/income, income 500-5000, expense -10..-500,
    * 06:00-22:59 timestamps. About 3% of rows carry an empty amount
    * (dropped by the chain's `dropna`) and about 3% a bad date (coerced to
    * null). `reuse` lists earlier transaction ids this file re-lands.
    * Returns the transaction ids of the rows the chain keeps.
    */
  def landedCsv(path: Path, h: Seeded, fileNo: Long, day: Int,
      rows: Int, reuse: IndexedSeq[String]): Seq[String] = {
    val income = Array("salary", "freelance", "investment", "bonus")
    val expense = Array("food", "transport", "utilities", "entertainment",
      "shopping", "healthcare")
    val accounts = Array("checking", "savings", "credit_card")
    val locs = Array("Online", "New York", "Los Angeles", "Chicago", "Houston")
    val sb = new StringBuilder(CsvHeader).append('\n')
    val kept = Seq.newBuilder[String]
    for (i <- 0 until rows) {
      val r = fileNo * 1000 + i
      val id = if (i < reuse.size) reuse(i) else f"TXN_202407${day}%02d_$fileNo%05d_$i%03d"
      val isIncome = h.u(r, 50, 100) < 30
      val cat = if (isIncome) h.pick(income, r, 51) else h.pick(expense, r, 51)
      val cents = if (isIncome) 50000 + h.u(r, 52, 450001) else -(1000 + h.u(r, 52, 49001))
      val missing = h.u(r, 53, 100) < 3
      val badDate = h.u(r, 54, 100) < 3
      val date = if (badDate) "2024-13-45" else f"2024-07-$day%02d"
      val ts = f"2024-07-$day%02d ${6 + h.u(r, 55, 17)}%02d:${h.u(r, 56, 60)}%02d:${h.u(r, 57, 60)}%02d"
      val amount = if (missing) "" else f"${cents / 100.0}%.2f"
      if (!missing) kept += id
      sb.append(s"$id,$date,$ts,$amount,$cat,${cat.capitalize} payment," +
        s"${if (isIncome) "income" else "expense"},${h.pick(accounts, r, 58)}," +
        s"${h.pick(locs, r, 59)}\n")
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
    kept.result()
  }

  /** Lakehouse base table: `nRows` transactions over `days` date
    * partitions, key k on day k mod days.
    */
  val LogSchema: StructType = StructType(Seq(
    StructField("txn_id", LongType), StructField("date", StringType),
    StructField("account", StringType), StructField("category", StringType),
    StructField("amount_cents", LongType), StructField("batch", IntegerType)))

  def day(d: Long): String = java.time.LocalDate.of(2024, 6, 1).plusDays(d).toString

  def logRow(h: Seeded, key: Long, date: String, batch: Int): Row = {
    val r = key * 64 + batch
    Row(key, date, h.pick(Array("checking", "savings", "credit_card"), r, 60),
      h.pick(Array("food", "transport", "utilities", "salary", "shopping"), r, 61),
      h.u(r, 62, 1000000) - 500000, batch)
  }

  /** Merge batch `b` (1-based): `size` unique keys, 90% updates of
    * existing keys with the day drawn toward the most recent partitions
    * (day = last - floor(days * x^3)), 10% inserts of new keys on a new day.
    */
  def logBatch(h: Seeded, b: Int, size: Int, nRows: Long, days: Int): Seq[Row] = {
    val nUpd = size * 9 / 10
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    var i = 0L
    while (seen.size < nUpd) {
      val x = h.u(b * 100000L + i, 63, 1000000) / 1e6
      val d = days - 1 - math.min((days * x * x * x).toLong, days - 1L)
      seen += d + days * h.u(b * 100000L + i, 64, nRows / days)
      i += 1
    }
    val upd = seen.toSeq.map(k => logRow(h, k, day(k % days), b))
    val ins = (0 until size - nUpd).map(j =>
      logRow(h, nRows + b * 100000L + j, day(days - 1 + b), b))
    upd ++ ins
  }
}
