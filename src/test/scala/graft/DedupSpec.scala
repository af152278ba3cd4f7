package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup semantics pinned on synthetic documents with known duplicate
  * structure, plus cross-validation of the LSH path against the exact
  * inverted-index path on the driver testdata (which plants near-dup pairs
  * at Jaccard ≈ 0.99).
  */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "spark reads shuffles joins aggregates sorts filters projects windows streams"
  private def docs = Seq(
    (0L, base),
    (1L, base),                      // exact copy of 0
    (2L, base + " extra"),           // near-dup of 0 (J = 8/10... high)
    (3L, "completely different words about cooking pasta tonight with sauce and basil"),
    (4L, "another unrelated short document entirely about gardening roses")
  ).toDF("doc_id", "text")
    .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    .withColumn("n_chars", length(col("text")).cast("long"))

  private def withDocs[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try f(dir)
    finally ()
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    withDocs { dir =>
      val out = Dedup.exact(spark, dir).collect()
      val dupGroup = out.filter(_.getAs[Long]("n_copies") == 2L)
      assert(dupGroup.length === 1)
      assert(dupGroup.head.getAs[Long]("keeper_id") === 0L)
      assert(out.map(_.getAs[Long]("n_copies")).sum === 5L)
    }
  }

  test("ngram Jaccard finds exact and near duplicates, not unrelated docs") {
    withDocs { dir =>
      val pairs = Dedup.ngramJaccard(spark, dir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 1L))) // identical => J = 1
      assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    }
  }

  test("minhash LSH returns the same verified pairs as the exact path") {
    withDocs { dir =>
      val exact = Dedup.ngramJaccard(spark, dir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val lsh = Dedup.minhashLsh(spark, dir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(lsh === exact)
    }
  }

  test("minhash LSH equals exact ngram Jaccard on the driver testdata (planted dups)") {
    val exact = Dedup.ngramJaccard(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dup pairs")
    assert(lsh === exact)
  }

  test("simhash pairs catch exact+near dups with small hamming distance") {
    withDocs { dir =>
      val out = Dedup.simhashPairs(spark, dir).collect()
      val pairs = out.map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
      assert(pairs.contains((0L, 1L)))
      val rows01 = out.filter(r =>
        r.getAs[Long]("d1") == 0L && r.getAs[Long]("d2") == 1L)
      assert(rows01.head.getAs[Long]("hamming") === 0L) // identical signature
      // identical docs collide in ALL four bands — first-band-wins must
      // still emit the pair exactly once
      assert(rows01.length === 1)
    }
  }

  test("simhash SMJ fallback (past the broadcast gate) emits identical pairs") {
    withDocs { dir =>
      val broadcastPath = Dedup.simhashPairs(spark, dir).collect().toSet
      val shufflePath = Dedup.simhashPairsOf(spark, dir, 0L).collect().toSet
      assert(shufflePath === broadcastPath)
      assert(broadcastPath.nonEmpty)
    }
  }

  test("the posting-list cap reports no hot shingles on the testdata") {
    val df = Dedup.minhashLsh(spark, sfDir)
    df.collect()
    assert(df.queryExecution.observedMetrics("hot_shingles").getLong(0) === 0L)
  }

  test("the posting-list cap reports the hot shingles it drops") {
    // "alpha beta gamma" is in three documents, one past a cap of 2;
    // documents 0 and 1 stay a near-dup pair on their other shingles
    val tail = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (0L, s"alpha beta gamma $tail"),
      (1L, s"alpha beta gamma $tail eleven"),
      (2L, "alpha beta gamma twelve thirteen fourteen fifteen"),
      (3L, "unrelated words in a fourth document here"))
      .toDF("doc_id", "text")
    val df = Dedup.minhashLshOf(corpus, cap = 2)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 1L)))
    assert(df.queryExecution.observedMetrics("hot_shingles").getLong(0) === 1L)
  }

  test("sub-3-token docs never pair up (no NaN jaccard from empty shingle sets)") {
    val shorties = Seq(
      (10L, "one two"), (11L, "three"), (12L, "four five"),
      (13L, base), (14L, base))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_short").toString
    shorties.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val lsh = Dedup.minhashLsh(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh === Set((13L, 14L))) // only the real dup pair
    assert(exact === lsh)
  }

  test("posting-list cap bounds stop-shingle buckets without losing real near-dups") {
    // pathological corpus: every doc opens with the same stop-shingle
    // preamble (a posting list of 30 docs), docs 100/101 are a planted
    // near-dup pair through rare content shingles
    val preamble = "in the of at in the of at"
    val filler = (0 until 30).map { i =>
      (i.toLong, s"$preamble unique$i words$i about$i topic$i number$i item$i")
    }
    val rare = (0 until 30).map(k => s"rareword$k").mkString(" ")
    val planted = Seq((100L, s"$preamble $rare"), (101L, s"$preamble $rare changed"))
    val corpus = (filler ++ planted).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val cap = 5
    // the cap actually engages: every surviving posting list is ≤ cap while
    // the uncapped index has the 32-doc stop-shingle bucket
    val bucketSizes = Dedup.cappedShingleIndex(corpus, cap)
      .groupBy("h").count().agg(max("count")).as[Long].head()
    val uncappedMax = Dedup.cappedShingleIndex(corpus, Int.MaxValue)
      .groupBy("h").count().agg(max("count")).as[Long].head()
    assert(uncappedMax > cap)
    assert(bucketSizes <= cap)
    // the planted pair still surfaces (through its rare shingles), with the
    // exact full-set jaccard, and the stop-shingle flood creates no pairs
    val capped = Dedup.ngramPairsOf(corpus, cap)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.ngramPairsOf(corpus, Int.MaxValue)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
    assert(capped === uncapped)
  }

  test("minhash family shares the capped universe when the cap engages") {
    // same pathological stop-shingle corpus as above: with cap=5 the
    // minhash signatures, LSH candidates, and exact verification must all
    // see the capped shingle sets, so LSH output equals the capped
    // inverted-index pair set (NOT the uncapped one, which would disagree
    // with the oracle's capped Jaccard on a real corpus)
    val preamble = "in the of at in the of at"
    val filler = (0 until 30).map { i =>
      (i.toLong, s"$preamble unique$i words$i about$i topic$i number$i item$i")
    }
    val rare = (0 until 30).map(k => s"rareword$k").mkString(" ")
    val planted = Seq((100L, s"$preamble $rare"), (101L, s"$preamble $rare changed"))
    val corpus = (filler ++ planted).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val cap = 5
    val viaLsh = Dedup.minhashLshOf(corpus, cap)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val viaIndex = Dedup.ngramPairsOf(corpus, cap)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(viaLsh === viaIndex) // jaccard VALUES agree, not just the pairs
    assert(viaLsh.map(p => (p._1, p._2)) === Set((100L, 101L)))
  }

  test("default posting-list cap never engages on the driver testdata") {
    val docs = Tables.documents(spark, sfDir)
    val capped = Dedup.ngramPairsOf(docs, Dedup.MaxPostingList).collect()
    val uncapped = Dedup.ngramPairsOf(docs, Int.MaxValue).collect()
    assert(capped.map(_.toString).sorted.toSeq ===
      uncapped.map(_.toString).sorted.toSeq)
  }

  test("alternating-star connected components handle diameter far beyond " +
      "the min-label cap") {
    // a path graph of diameter 60: min-label would need 60 rounds (over
    // its 20-round cap); the star algorithm contracts it in O(log n)
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = Dedup.connectedComponents(path)
      .as[(Long, Long)].collect().toMap
    assert(labels.keySet === (0L to 60L).toSet)
    assert(labels.values.toSet === Set(0L))
    // two components + reversed/duplicated edges normalize away
    val twoComp = Seq((5L, 3L), (3L, 9L), (9L, 5L), (20L, 21L), (21L, 20L))
      .toDF("u", "v")
    val got = Dedup.connectedComponents(twoComp)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("min-label components hand a long path with ids against its " +
      "direction to the star fallback, and report it") {
    // a 60-node path with ids 7·i mod 60 along it: min-label with its
    // pointer hop needs 35 rounds here (a local replay of the update rule;
    // sorted ids need 6), past the MaxClusterRounds cap, so the
    // labels must come from the alternating-star fallback
    val ids = (0 until 60).map(i => 7L * i % 60)
    val df = Dedup.labelComponents(ids.zip(ids.tail).toDF("d1", "d2"))
    val labels = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === ids.map(_ -> 0L).toMap)
    val m = df.queryExecution.observedMetrics("labelComponents")
    assert(m.getAs[Int]("fallback") === 1)
    assert(m.getAs[Int]("rounds") === Dedup.MaxClusterRounds)
    assert(!m.getAs[Boolean]("converged"))
    // the near-dup cliques of the testdata never take the fallback
    val clusters = Dedup.dedupClusters(spark, sfDir)
    assert(clusters.collect().nonEmpty)
    val dm = clusters.queryExecution.observedMetrics("labelComponents")
    assert(dm.getAs[Int]("fallback") === 0)
    assert(dm.getAs[Boolean]("converged"))
  }

  test("alternating-star components agree with min-label clusters on the " +
      "driver testdata") {
    val viaLabels = Dedup.dedupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val edges = Dedup.ngramJaccard(spark, sfDir)
      .select(col("d1").as("u"), col("d2").as("v"))
    val viaStars = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(viaStars.nonEmpty)
    assert(viaStars === viaLabels)
  }

  test("digest-keyed chunk dedup equals text-keyed chunk dedup row-for-row " +
      "on the driver testdata") {
    // The production path partitions the keep-first window by
    // md5(chunk_text) so the shuffle key is a constant-width digest; the
    // oracle (and the reference semantics) key by raw text. Same distinct
    // groups => same keep decisions => identical output — pin it on real
    // data, where cross-document duplicate segments actually occur.
    val hashed = Dedup.chunkDedupKeyed(spark, sfDir, hashKey = true)
      .collect().map(_.toSeq).toSeq
    val texted = Dedup.chunkDedupKeyed(spark, sfDir, hashKey = false)
      .collect().map(_.toSeq).toSeq
    assert(hashed.nonEmpty)
    assert(hashed === texted)
  }

  test("adversarial shared-prefix/suffix family: measured band-stage miss " +
      "rate vs the (1-J^4)^16 uniform-hash bound") {
    // The scaladoc caveat on minhashLsh says the base-31 polynomial hash
    // (chosen for DuckDB portability, not avalanche) can correlate lanes on
    // families of very similar shingles, inflating the theoretical miss
    // bound. This is the empirical pin: 200 planted pairs built to be
    // maximally correlated — each pair shares a long common run (prefix for
    // half the family, suffix for the other half) and differs in exactly 5
    // tokens, putting every pair at J = 46/56 ≈ 0.821, just above the 0.8
    // threshold where the band stage is weakest. Vocabulary is disjoint
    // across pairs, so any cross-pair band collision is a pure hash FP.
    val nPairs = 100 // per family (prefix-sharing + suffix-sharing)
    val L = 53       // tokens per doc -> 51 distinct 3-shingles
    val k = 5        // replaced tokens -> shared C = 46, J = 46/56
    val docs = (0 until 2 * nPairs).flatMap { i =>
      val a = (0 until L).map(j => s"p${i}w$j")
      val b =
        if (i < nPairs) a.dropRight(k) ++ (0 until k).map(j => s"p${i}x$j")
        else (0 until k).map(j => s"p${i}x$j") ++ a.drop(k)
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_adv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // band stage, measured directly on the signatures' band keys
    val bands = Dedup.minhashSignatures(spark, dir)
      .select("doc_id", "band_keys").as[(Long, String)].collect()
      .map { case (id, keys) => id -> keys.split('|') }.toMap
    def collides(x: Long, y: Long): Boolean =
      bands(x).zip(bands(y)).exists { case (a, b) => a == b }
    val misses = (0 until 2 * nPairs)
      .count(i => !collides(2L * i, 2L * i + 1))
    val trueJ = 46.0 / 56.0
    val uniformBound = math.pow(1 - math.pow(trueJ, 4), 16) // ≈ 6e-5
    val measuredRate = misses.toDouble / (2 * nPairs)
    // hashes are deterministic, so the measured rate is a constant of the
    // implementation: assert it does not exceed the uniform-hash analysis
    // by more than one adversarial pair — i.e. the correlation caveat is
    // documented but must not be MATERIAL on exactly the family it warns
    // about (200 * 6e-5 ≈ 0.01 expected misses; one miss = 80x the bound
    // and fails here)
    assert(misses === 0,
      f"band stage missed $misses/${2 * nPairs} adversarial pairs " +
        f"(rate $measuredRate%.4f vs uniform-hash bound $uniformBound%.2g)")

    // cross-pair band FPs: disjoint vocabularies => J = 0; any collision
    // is a raw band-key hash collision (P(16 bands agree by chance) ~ b/P)
    val ids = bands.keys.toSeq.sorted
    val fps = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1) until ids.length
      x = ids(ai); y = ids(bi)
      if x / 2 != y / 2 && collides(x, y)
    } yield 1).size
    assert(fps === 0, s"$fps cross-pair band collisions among disjoint-vocab docs")

    // end-to-end: the verified LSH output equals the exact inverted-index
    // pairs on this family (no FN survives banding, no FP survives verify)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val lsh = Dedup.minhashLshOf(corpus, Dedup.MaxPostingList)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramPairsOf(corpus, Dedup.MaxPostingList)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact === (0 until 2 * nPairs).map(i => (2L * i, 2L * i + 1)).toSet)
    assert(lsh === exact)
  }

  test("minhash signatures are deterministic across evaluations") {
    val a = Dedup.minhashSignatures(spark, sfDir)
      .select("doc_id", "sig_str").as[(Long, String)].collect().toMap
    val b = Dedup.minhashSignatures(spark, sfDir)
      .select("doc_id", "sig_str").as[(Long, String)].collect().toMap
    assert(a === b)
  }

  test("bloom decontamination flags a superset of the exact pair-join " +
    "report (no false negatives) with a tiny false-positive overhead") {
    // exact report: train docs in a J >= 0.8 pair with an eval doc
    val exactTrain = Dedup.decontaminate(spark, sfDir)
      .select("train_id").as[Long].collect().toSet
    val bloom = Dedup.bloomDecontaminate(spark, sfDir)
      .select("train_id", "n_sh", "n_hit", "flagged")
      .as[(Long, Long, Long, Boolean)].collect()
    val flagged = bloom.filter(_._4).map(_._1).toSet
    // a pair at J >= θ has containment >= θ, and the bitset unions every
    // eval doc's shingles — bloom membership has no false negatives, so
    // every exactly-contaminated train doc must cross the flag threshold
    assert(exactTrain.subsetOf(flagged),
      s"bloom missed ${(exactTrain -- flagged).size} exact-contaminated docs")
    // the aggregate hit fraction counts TRUE positives too (planted dups
    // share ~every shingle with their eval twin — measured ≈0.12 here),
    // so this is only a sanity ceiling; the pure-FP bound lives in the
    // next test, which subtracts exact membership per doc
    val hitTotal = bloom.map(_._3).sum.toDouble
    val shTotal = bloom.map(_._2).sum.toDouble
    assert(hitTotal / shTotal < 0.5,
      f"bloom hit fraction ${hitTotal / shTotal}%.4f implausibly high " +
        "(FP rate blowup)")
  }

  test("bloom hit counts are >= exact eval-membership counts per doc, " +
    "and the FP excess stays under 1% of probed shingles") {
    // exact membership: train shingle ∈ union of eval shingle sets,
    // computed in the plain string domain (no hashing) as ground truth
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("s"))
    val evalSh = sh.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .select(col("s")).distinct()
    val exact = sh.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .join(evalSh.withColumn("present", lit(1L)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("present"), lit(0L))).as("n_exact"))
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.bloomDecontaminate(spark, sfDir)
      .select("train_id", "n_sh", "n_hit")
      .as[(Long, Long, Long)].collect()
    var fpExcess = 0L; var probed = 0L
    bloom.foreach { case (id, nSh, nHit) =>
      val nExact = exact.getOrElse(id, 0L)
      assert(nHit >= nExact,
        s"doc $id: bloom reported $nHit hits < $nExact exact members " +
          "(bloom false negative — impossible by construction)")
      fpExcess += nHit - nExact; probed += nSh
    }
    assert(fpExcess.toDouble / probed < 0.01,
      s"$fpExcess false-positive shingle hits over $probed probed")
  }

  test("minhash estimate is exactly 1 on identical docs and within its " +
    "6-sigma flag on every verified pair") {
    withDocs { dir =>
      val est = Dedup.minhashEstimate(spark, dir)
        .select("d1", "d2", "jaccard", "est_jaccard", "est_ok")
        .as[(Long, Long, Double, Double, Boolean)].collect()
      assert(est.nonEmpty)
      // identical shingle sets hash to identical signatures: the (0,1)
      // exact-copy pair must estimate exactly 1.0, not approximately
      val copy = est.find(e => e._1 == 0L && e._2 == 1L).get
      assert(copy._3 === 1.0 && copy._4 === 1.0)
      assert(est.forall(_._5), s"estimator outside 6-sigma flag: " +
        est.filterNot(_._5).mkString(", "))
    }
    // and on the driver corpus: every verified pair carries a sane estimate
    val driver = Dedup.minhashEstimate(spark, sfDir)
      .select("est_ok").as[Boolean].collect()
    assert(driver.nonEmpty && driver.forall(identity))
  }

  test("incremental dedup equals the full pair join restricted to pairs " +
    "with an incoming side") {
    val inc = Dedup.dedupIncremental(spark, sfDir)
      .select("new_id", "matched_id").as[(Long, Long)].collect().toSet
    def isNew(id: Long) = id % Dedup.IncomingMod == Dedup.IncomingMod - 1
    val full = Dedup.ngramJaccard(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect()
      .filter { case (d1, d2) => isNew(d1) || isNew(d2) }
      .map { case (d1, d2) =>
        if (isNew(d1)) (d1, d2) else (d2, d1) } // incoming side first
      .map { case (a, b) =>
        if (isNew(a) && isNew(b) && a > b) (b, a) else (a, b) }
      .toSet
    assert(inc === full)
    // and no standing-corpus-only pair leaks in
    assert(inc.forall { case (a, _) => isNew(a) })
  }

  test("cdc chunking re-synchronizes after an insertion; fixed grid does not") {
    // a long deterministic pseudo-text (enough tokens for ~25 chunks)
    val words = Array("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike")
    val text = (0 until 200)
      .map(i => words((((i * 2654435761L) >>> 7) % words.length).toInt))
      .mkString(" ")
    val shifted = "inserted " + text
    val df = Seq((0L, text), (1L, shifted)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunksOf(df)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text")).collect()
    val c0 = chunks.filter(_.getLong(0) == 0L).sortBy(_.getLong(1))
      .map(_.getString(2))
    val c1 = chunks.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
      .map(_.getString(2))
    // chunking is a partition: concatenation reconstructs the text
    assert(c0.mkString(" ") == text)
    assert(c1.mkString(" ") == shifted)
    // content-defined boundaries re-synchronize: most of the original
    // doc's distinct chunks survive the single-token insertion verbatim
    val d0 = c0.toSet
    val shared = d0.intersect(c1.toSet).size
    assert(d0.size >= 10, s"want a multi-chunk doc, got ${d0.size} distinct")
    assert(shared * 10 >= d0.size * 6,
      s"only $shared of ${d0.size} distinct chunks survived the insertion")
    // contrast: a fixed 32-token grid re-phases EVERY chunk after the
    // insertion (the weakness cdc exists to fix)
    val toks = text.split(" ")
    val grid0 = toks.grouped(32).map(_.mkString(" ")).toSet
    val grid1 = ("inserted" +: toks).grouped(32).map(_.mkString(" ")).toSet
    assert(grid0.intersect(grid1).size <= 1)
  }

  test("cdc chunk report counts duplicated chunks across docs exactly") {
    val df = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
    val rep = Dedup.cdcChunksOf(df)
      .withColumn("fp", md5(col("chunk_text")))
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .collect()
    // identical docs: every chunk fingerprint appears in both
    assert(rep.nonEmpty)
    rep.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
    }
  }

  test("banded edit-distance pairs equal the brute-force result: blocking " +
      "is lossless inside the length gate") {
    def lev(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3).take(Dedup.EditPrefix)))
    val want = (for {
      i <- docs.indices
      j <- (i + 1) until docs.length
      a = docs(i); b = docs(j)
      if a._2 == b._2 && math.abs(a._3 - b._3) <= Dedup.EditMaxDist
      dd = lev(a._4, b._4) if dd <= Dedup.EditMaxDist
    } yield (math.min(a._1, b._1), math.max(a._1, b._1)) -> dd).toMap
    val got = Dedup.editDistancePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // a length gap over the threshold already implies distance over the
    // threshold, so the band-join must find EXACTLY the brute-force pairs
    assert(got == want)
  }

  test("13-gram collision: a planted verbatim window flags the train " +
      "doc, a 12-token overlap stays clean, short docs drop from the " +
      "report, eval docs are never reported") {
    val w = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      10L -> w.mkString(" "),                                  // eval slice
      11L -> ("x " + w.take(13).mkString(" ") + " y z"),        // verbatim w1..w13
      12L -> (w.take(12).mkString(" ") + " DIFF " +
        (1 to 6).map(i => s"z$i").mkString(" ")),               // 12 < 13 run
      13L -> "a b c"                                            // no window
    ).toDF("doc_id", "text")
    val got = Dedup.ngramCollisionOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    assert(got.keySet === Set(11L, 12L))
    assert(got(11L)._3 && got(11L)._2 >= 1L, s"planted hit missed: $got")
    assert(!got(12L)._3 && got(12L)._2 === 0L,
      "12-token overlap must NOT collide at the 13-gram window")
    // n_grams is tokens - 12 (all windows distinct here)
    assert(got(11L)._1 === 4L)
  }
}
