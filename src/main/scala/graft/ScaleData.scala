package graft

/** Deterministic scale-up generator for the `documents` / `embeddings`
  * tables (the two tables behind the heavy dedup/ANN family), mimicking the
  * driver testdata's shape at an arbitrary multiple: same 30-word vocabulary,
  * 10-100 word documents, ~2.5% planted near-duplicate copies (one word
  * swapped for the rare `dup` marker, J ≈ 0.95 at the median length), and
  * unit-norm 64-dim embeddings. Everything is a pure function of the row id
  * via splitmix64 — no RNG state, identical output at any parallelism —
  * the same design as [[graft.sources.TxnGenerator]].
  *
  * Usage: ScaleData <outDir> <nDocs> <nVecs> [vocabMul] [nEvents] [nOrders]
  *
  * `nOrders` > 0 additionally writes a `lineitem` table in the driver's
  * co-purchase shape (per-order width 1..7, part domain = orders/7) so
  * the graph family has a scale ladder beyond the driver testdata.
  * `nEvents` > 0 additionally writes an `events` table in the driver
  * shape (5 event types over a 60-day window, users ∝ events/67 — the
  * driver ratio), extending the scale study to the events-driven
  * analytics family (funnel, retention, event-time windows).
  * The driver testdata is sf0.1 = 5000 docs / 2000 vecs, so a 10× "sf1"
  * run is `ScaleData /tmp/graft_sf1 50000 20000`.
  *
  * `vocabMul` (default 1) scales the vocabulary: 1 reproduces the driver
  * corpus's fixed 30-word vocabulary exactly (the DEGENERATE regime —
  * shingle document-frequency grows with the corpus, the adversarial case
  * for candidate-join operators); M > 1 draws each word from a 30·M-word
  * vocabulary (the first 30 are the driver words, the rest synthetic), so
  * setting M ∝ corpus multiple holds per-shingle df roughly FLAT — the
  * realistic regime, where real corpora grow vocabulary with size. The
  * scale study measures both, because PLANS.md's superlinear rows are
  * claims about exactly this distinction.
  */
object ScaleData {

  /** The driver testdata's document vocabulary minus the `dup` marker. */
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def word(k: Int): String =
    if (k < Vocab.length) Vocab(k) else s"w$k"

  private def baseWords(id: Long, vocabMul: Int): Array[String] = {
    val vocabSize = Vocab.length.toLong * vocabMul
    val len = 10 + (Math.floorMod(mix(id * 31L + 7L), 91L)).toInt
    Array.tabulate(len)(i =>
      word(Math.floorMod(mix(id * 1000003L + i), vocabSize).toInt))
  }

  /** Every 40th id is a near-copy of an earlier document with one interior
    * word replaced by the `dup` marker — the planted-pair density (~2.5%
    * of docs are copies, so ~5% of docs sit in a near-dup pair) and
    * J ≈ 0.9+ match the driver corpus.
    */
  def docText(id: Long, nDocs: Long): String = docText(id, nDocs, 1)

  def docText(id: Long, nDocs: Long, vocabMul: Int): String = {
    if (id % 40L == 39L && id > 0) {
      val span  = math.min(id, math.max(nDocs / 10L, 1L))
      val orig0 = id - 1L - Math.floorMod(mix(id * 7919L), span)
      // the source must be a BASE doc: a copy-of-a-copy would differ from
      // the stored source text in two words, silently diluting the planted
      // pair's Jaccard below threshold on short documents
      val orig = if (orig0 % 40L == 39L) orig0 - 1L else orig0
      val w = baseWords(orig, vocabMul)
      w(1 + Math.floorMod(mix(id * 104729L), (w.length - 1).toLong).toInt) = "dup"
      w.mkString(" ")
    } else baseWords(id, vocabMul).mkString(" ")
  }

  def embedding(id: Long): Array[Float] = {
    val raw = Array.tabulate(64) { j =>
      // uniform in [-1, 1) from the high 53 bits
      (mix(id * 524287L + j) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val norm = math.sqrt(raw.map(v => v * v).sum)
    raw.map(v => (v / norm).toFloat)
  }

  def main(args: Array[String]): Unit = {
    System.setProperty("spark.log.level", "ERROR")
    val outDir = args(0)
    val nDocs  = args(1).toLong
    val nVecs  = args(2).toLong
    val vocabMul = if (args.length > 3) args(3).toInt else 1
    val spark  = Sessions.build("local[8]", "32", "graft-scaledata")
    import spark.implicits._
    spark.range(nDocs).map { id =>
      val text = docText(id, nDocs, vocabMul)
      (id, text, "en", s"src${Math.floorMod(mix(id + 13L), 20L)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.range(nVecs).map(id => (id, embedding(id), id % 10L))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val nEvents = if (args.length > 4) args(4).toLong else 0L
    if (nEvents > 0) {
      val types = Array("signup", "view", "click", "purchase", "error")
      val nUsers = math.max(nEvents / 67L, 1L) // driver ratio ~10k/150
      val baseUs = 1704067200000000L           // 2024-01-01T00:00:00Z, µs
      val spanUs = 60L * 24 * 3600 * 1000000L  // 60-day window
      spark.range(nEvents).map { id =>
        val ts = baseUs + Math.floorMod(mix(id * 31L + 3L), spanUs)
        (id, new java.sql.Timestamp(ts / 1000L),
          Math.floorMod(mix(id * 131L + 7L), nUsers),
          types(Math.floorMod(mix(id * 997L + 11L), types.length.toLong).toInt),
          Math.floorMod(mix(id * 8191L + 13L), 100000L) / 100.0d,
          s"""{"k":${Math.floorMod(mix(id * 127L + 17L), 1000L)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    val nOrders = if (args.length > 5) args(5).toLong else 0L
    if (nOrders > 0) {
      // lineitem in the driver's co-purchase shape: per-order width 1..7
      // (avg ~4, matching sf0.1's 4.07 parts/order) over a part domain of
      // nOrders/7 (sf0.1's 147k orders / 20k parts ratio), so the graph
      // family's degree distribution — and with it the wedge-volume law —
      // carries over to any scale multiple
      val nParts = math.max(nOrders / 7L, 1L)
      // measure columns in the driver shape (quantity 1..50, A/N/R flags,
      // timestamps over 1995-1996) so the profile/agg family has the same
      // ladder as the graph family — all pure functions of (order, line)
      val baseMs = 788918400000L            // 1995-01-01T00:00:00Z
      val spanMs = 2L * 365 * 24 * 3600 * 1000L
      val flags  = Array("A", "N", "R")
      val lineSupp = math.max(nOrders / 150L, 1L)
      spark.range(nOrders).flatMap { ok =>
        val width = 1 + Math.floorMod(mix(ok * 53L + 5L), 7L).toInt
        (0 until width).map { k =>
          (ok, Math.floorMod(mix(ok * 7919L + k * 104729L + 19L), nParts),
            Math.floorMod(mix(ok * 523L + k * 211L + 83L), lineSupp),
            (k + 1).toLong,
            (1 + Math.floorMod(mix(ok * 271L + k * 31L + 23L), 50L)).toDouble,
            flags(Math.floorMod(mix(ok * 613L + k * 97L + 29L), 3L).toInt),
            new java.sql.Timestamp(baseMs +
              Math.floorMod(mix(ok * 389L + k * 101L + 37L), spanMs)),
            (100L + Math.floorMod(mix(ok * 839L + k * 43L + 89L),
              9999900L)) / 100.0d,
            // discount in the driver's 0.00-0.10 / 11-step shape, so the
            // revenue expressions (Q15's windowed max, the market-share
            // ppm) ladder with the same arithmetic as the driver data
            Math.floorMod(mix(ok * 947L + k * 59L + 101L), 11L) / 100.0d,
            // tax in the driver's 0.00-0.08 / 9-step shape (the fourth
            // corr-matrix measure)
            Math.floorMod(mix(ok * 1217L + k * 73L + 103L), 9L) / 100.0d)
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_returnflag", "l_shipdate", "l_extendedprice",
          "l_discount", "l_tax")
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      // part dim in the driver shape (25 brands, sizes 1..50,
      // adjective-noun names so the Q9 infix-LIKE slice ladders) so the
      // Q17-shaped fact-side decorrelation ladders with lineitem
      val adjs  = Array("blue", "old", "hot", "large", "red", "new",
        "small", "cold")
      val nouns = Array("widget", "gizmo", "ring", "gear", "anvil",
        "bolt", "plate", "rod")
      // p_type in the driver's six-value domain so the PROMO/SMALL
      // slices (Q14's conditional share, Q20's dominant-supplier scan)
      // are populated at every scale multiple
      val types = Array("ECONOMY", "MEDIUM", "PROMO", "LARGE",
        "STANDARD", "SMALL")
      spark.range(nParts).map { pk =>
        (pk, adjs(Math.floorMod(mix(pk * 1733L + 95L), 8L).toInt) + " " +
          nouns(Math.floorMod(mix(pk * 1787L + 101L), 8L).toInt),
          s"Brand#${1 + Math.floorMod(mix(pk * 1117L + 91L), 25L)}",
          types(Math.floorMod(mix(pk * 1321L + 93L), 6L).toInt),
          (1 + Math.floorMod(mix(pk * 1481L + 97L), 50L)).toInt,
          (100L + Math.floorMod(mix(pk * 1667L + 99L), 199900L)) / 100.0d)
      }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice")
        .write.mode("overwrite").parquet(s"$outDir/part.parquet")
      // the relational dimension spine in the driver's sf0.1 ratios
      // (orders:customers 10:1, orders:suppliers 150:1, 25 nations) so
      // the TPC-H-shaped join family — Q13's outer-join distribution,
      // Q21's semi/anti self-joins, the interval-overlap self-join —
      // ladders at the same multiples as the fact-table families; all
      // columns pure functions of the key, bit-identical across runs
      val nCust = math.max(nOrders / 10L, 1L)
      val nSupp = math.max(nOrders / 150L, 1L)
      val statuses   = Array("P", "O", "F")
      val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val segments   = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      val ordBaseMs = 788918400000L          // 1995-01-01T00:00:00Z
      val ordSpanMs = 2405L * 24 * 3600 * 1000L // ≈ 6.6-year window
      spark.range(nOrders).map { ok =>
        (ok, Math.floorMod(mix(ok * 6151L + 41L), nCust),
          statuses(Math.floorMod(mix(ok * 769L + 43L), 3L).toInt),
          (100000L + Math.floorMod(mix(ok * 1543L + 47L), 49900000L)) / 100.0d,
          new java.sql.Timestamp(ordBaseMs +
            Math.floorMod(mix(ok * 293L + 53L), ordSpanMs)),
          priorities(Math.floorMod(mix(ok * 457L + 59L), 5L).toInt))
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      spark.range(nCust).map { ck =>
        (ck, s"CUSTOMER_$ck",
          Math.floorMod(mix(ck * 1031L + 61L), 25L).toInt,
          (-100000L + Math.floorMod(mix(ck * 2099L + 67L), 1100000L)) / 100.0d,
          segments(Math.floorMod(mix(ck * 463L + 71L), 5L).toInt))
      }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
      spark.range(nSupp).map { sk =>
        (sk, s"SUPPLIER_$sk",
          Math.floorMod(mix(sk * 1291L + 73L), 25L).toInt,
          (-100000L + Math.floorMod(mix(sk * 3371L + 79L), 1100000L)) / 100.0d)
      }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
      spark.range(25L).map(nk =>
        (nk.toInt, s"NATION_$nk", (nk % 5L).toInt))
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$outDir/nation.parquet")
      val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")
      spark.range(5L).map(rk => (rk.toInt, regions(rk.toInt)))
        .toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$outDir/region.parquet")
    }
    println(s"""{"docs":$nDocs,"vecs":$nVecs,"vocabMul":$vocabMul,"events":$nEvents,"orders":$nOrders,"dir":"$outDir"}""")
    spark.stop()
  }
}
