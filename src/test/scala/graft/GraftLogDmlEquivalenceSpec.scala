package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.sources.{GraftLog, GraftLogOps}

/** The three write shapes of row-level DML on the log agree with each
  * other and with a plain-DataFrame model: seeded random sequences of
  * DELETE, UPDATE and MERGE run against three copies of one
  * date-partitioned table — the copy-on-write utilities, the
  * merge-on-read utilities, and SQL through [[graft.sources.GraftCatalog]]
  * — and every committed version of every copy must read back (order
  * insensitively) as the model's state after the same prefix of the
  * sequence. The model applies each operation to an in-memory frame:
  * DELETE keeps rows whose condition is false or NULL, UPDATE rewrites
  * matched rows in one projection, MERGE is last-writer-wins over the
  * union of table and source rows.
  */
class GraftLogDmlEquivalenceSpec extends SparkSpecBase {

  private type Snap = Seq[(Long, String, Option[Long])]

  private sealed trait Op
  private final case class Del(cond: String) extends Op
  private final case class Upd(cond: String, amount: String) extends Op
  private final case class Mrg(rows: Seq[(Long, Int, Option[Long])])
      extends Op

  private val Schema = StructType(Seq(
    StructField("id", LongType), StructField("day", DateType),
    StructField("amount", LongType)))
  private val Day0 = Date.valueOf("2024-01-01").toLocalDate
  private def day(d: Int): Date = Date.valueOf(Day0.plusDays(d.toLong))
  private def dayLit(d: Int): String = s"DATE'${day(d)}'"

  /** 60 rows over three daily partitions, every eleventh amount NULL so
    * conditions on `amount` exercise SQL's NULL-keeps-the-row rule.
    */
  private val baseRows: Seq[(Long, Int, Option[Long])] =
    (0L until 60L).map(i =>
      (i, (i % 3).toInt, if (i % 11 == 0) None else Some(i * 37 % 101)))

  private def frame(rows: Seq[(Long, Int, Option[Long])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, d, a) =>
        Row(i, day(d), a.map(Long.box).orNull) }: _*), Schema)

  private def fromSnap(s: Snap): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(s.map { case (i, d, a) =>
        Row(i, Date.valueOf(d), a.map(Long.box).orNull) }: _*), Schema)

  private val genCond: Gen[String] = Gen.oneOf(
    for { m <- Gen.choose(3, 9); r <- Gen.choose(0, 2) }
      yield s"id % $m = $r",
    Gen.choose(0, 3).map(d => s"day = ${dayLit(d)}"),
    Gen.choose(20, 90).map(x => s"amount > $x"),
    for { x <- Gen.choose(5, 70); d <- Gen.choose(0, 2) }
      yield s"id < $x AND day >= ${dayLit(d)}",
    Gen.listOfN(3, Gen.choose(0L, 79L)).map(ks => s"id IN (${ks.mkString(", ")})"))

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> genCond.map(Del(_)),
    3 -> (for {
      c <- genCond
      a <- Gen.oneOf("amount + 7", "amount * -1", "id")
    } yield Upd(c, a)),
    4 -> (for {
      n <- Gen.choose(1, 12)
      ids <- Gen.pick(n, 0L until 80L)
      rows <- Gen.sequence[Seq[(Long, Int, Option[Long])],
          (Long, Int, Option[Long])](ids.sorted.map(i =>
        for {
          d <- Gen.choose(0, 3)
          a <- Gen.option(Gen.choose(-50L, 150L))
        } yield (i, d, a)))
    } yield Mrg(rows)))

  private val genOps: Gen[Seq[Op]] = Gen.listOfN(6, genOp)

  /** The plain-DataFrame model of one operation. */
  private def model(state: DataFrame, op: Op): DataFrame = op match {
    case Del(c) => state.filter(!coalesce(expr(c), lit(false)))
    case Upd(c, a) => state.select(col("id"), col("day"),
      when(coalesce(expr(c), lit(false)), expr(a).cast(LongType))
        .otherwise(col("amount")).as("amount"))
    case Mrg(rows) =>
      val w = Window.partitionBy(col("id")).orderBy(col("_w").desc)
      state.withColumn("_w", lit(0))
        .unionByName(frame(rows).withColumn("_w", lit(1)))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_w", "_rn")
  }

  private def snap(df: DataFrame): Snap =
    df.select(col("id"), col("day").cast("string"), col("amount"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sortBy(_._1)

  private def readAt(root: String, v: Int): Snap =
    snap(spark.read.format(GraftLog.Format).option("path", root)
      .option("version", v).load())

  private def conf = spark.sessionState.newHadoopConf()

  /** One write path: applies an operation to the table under `root`. */
  private final case class Path(name: String, root: String,
      apply: Op => Unit)

  private def utility(root: String, mode: String): Op => Unit = {
    case Del(c) => GraftLogOps.deleteFromLog(spark, root, expr(c), mode)
    case Upd(c, a) => GraftLogOps.updateLog(spark, root, expr(c),
      Map("amount" -> expr(a)), mode)
    case Mrg(rows) =>
      GraftLogOps.mergeIntoLog(spark, root, frame(rows), Seq("id"), mode)
  }

  private def sql(name: String): Op => Unit = {
    case Del(c) => spark.sql(s"DELETE FROM graft.`$name` WHERE $c")
    case Upd(c, a) =>
      spark.sql(s"UPDATE graft.`$name` SET amount = $a WHERE $c")
    case Mrg(rows) =>
      frame(rows).createOrReplaceTempView("dml_equiv_src")
      spark.sql(
        s"""MERGE INTO graft.`$name` t USING dml_equiv_src s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  private def runSequence(ops: Seq[Op]): Unit = {
    val wh = Files.createTempDirectory("graft_dml_equiv").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val paths = Seq(
      Path("copy-on-write", s"$wh/cow",
        utility(s"$wh/cow", GraftLogOps.DeleteModeCow)),
      Path("merge-on-read", s"$wh/mor",
        utility(s"$wh/mor", GraftLogOps.DeleteModeMor)),
      Path("sql", s"$wh/sql", sql("sql")))
    paths.foreach { p =>
      frame(baseRows).write.format(GraftLog.Format).option("path", p.root)
        .option("schema", Schema.toDDL).option("partitionBy", "day")
        .mode("append").save()
    }
    // model states: index i = after the first i operations
    val states = ops.scanLeft(snap(frame(baseRows))) { (s, op) =>
      snap(model(fromSnap(s), op))
    }
    paths.foreach { p =>
      ops.zipWithIndex.foreach { case (op, i) =>
        p.apply(op)
        val v = GraftLog.latestVersion(conf, p.root)
        assert(readAt(p.root, v) === states(i + 1),
          s"${p.name}: snapshot after op ${i + 1} ($op)")
      }
      // every committed version reads back as one model state, in order
      // (a no-op may or may not commit, so adjacent repeats collapse)
      val history = (1 to GraftLog.latestVersion(conf, p.root))
        .map(readAt(p.root, _))
      def collapse(xs: Seq[Snap]): Seq[Snap] =
        xs.foldLeft(Vector.empty[Snap]) { (acc, x) =>
          if (acc.lastOption.contains(x)) acc else acc :+ x }
      assert(collapse(history) === collapse(states),
        s"${p.name}: version history for ${ops.mkString("; ")}")
    }
  }

  test("property: copy-on-write, merge-on-read and SQL DML produce " +
      "identical snapshots at every version, equal to the DataFrame " +
      "model") {
    val prop = Prop.forAllNoShrink(genOps) { ops => runSequence(ops); true }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(4).withWorkers(1)
      .withInitialSeed(Seed(301L)), prop)
    res.status match {
      case Test.PropException(args, e, _) =>
        fail(s"sequence ${args.map(_.arg).mkString} failed: " +
          e.getMessage, e)
      case _ => assert(res.passed, res.status.toString)
    }
  }
}
