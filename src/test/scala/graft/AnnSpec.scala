package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Ann

/** ANN semantics: exact cosine math, and recall of the LSH-bucketed path
  * against the brute-force ground truth on the driver testdata.
  */
class AnnSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine: self-similarity 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f), Array(-1f, -2f), -1.0))
      .toDF("a", "b", "expected")
    val bad = df
      .withColumn("got", VectorFunctions.cosine(col("a"), col("b")))
      .filter(abs(col("got") - col("expected")) > 1e-12)
    assert(bad.count() === 0)
  }

  test("brute-force top-k is k rows per query, ranked by descending sim") {
    val out = Ann.bruteForceTopK(spark, sfDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === Ann.NumQueries)
    byQ.foreach { case (_, rows) =>
      assert(rows.length === Ann.TopK)
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k achieves usable recall against brute force, and the " +
      "driver entry's in-row flag measures the same thing") {
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (truth & approx).size.toDouble / truth.size
    // 16-bit sign-projection on 64-dim random vectors: weak but real signal;
    // the bound documents observed behavior and guards regressions.
    assert(recall >= 0.2, s"recall@${Ann.TopK} = $recall")
    // the self-validating driver entry: hits flagged in-row agree with the
    // set computation above
    val flagged = Ann.lshTopKValidated(spark, sfDir).collect()
    val hits = flagged.count(_.getAs[Boolean]("in_exact_topk"))
    assert(hits === (truth & approx).size)
  }

  test("banded pair-LSH: perfect precision, recall floor holds, and the " +
      "driver entry's in-row flag measures the same thing") {
    val truth = Ann.embeddingNearDup(spark, sfDir)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val found = Ann.embedLshPairs(spark, sfDir)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    // precision 1.0 by construction: the re-rank recomputes exact cosine,
    // so every emitted pair is a true near-dup
    assert(found.subsetOf(truth))
    // recall: this corpus's near-dups sit at cosine 0.40-0.51 (θ≈60-66°),
    // where sign-projection agreement is ~0.65/bit — ~0.56 measured with
    // b=6,B=12; the floor documents observed behavior and guards
    // regressions (at production thresholds sim≥0.9 the same bands
    // exceed 0.99)
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.4, s"pair recall = $recall")
    // self-validating driver entry: rows are exactly the truth set and
    // the in-row flags agree with the set computation above
    val flagged = Ann.embedLshPairsValidated(spark, sfDir).collect()
    assert(flagged.map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2")))
      .toSet === truth)
    assert(flagged.count(_.getAs[Boolean]("lsh_found")) ===
      (truth & found).size)
  }

  test("embed clusters: every near-dup pair shares a cluster and each " +
      "label is its component's minimum member") {
    val pairs = Ann.embeddingNearDup(spark, sfDir)
      .select("v1", "v2").as[(Long, Long)].collect()
    val labels = Ann.embedClusters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    // label = min member of its cluster
    labels.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min)
    }
    // exactly the vectors with at least one edge are labeled
    assert(labels.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("embed decontamination: one row per train vector, best_sim is the " +
      "true max over the eval suite, flag consistent") {
    val out = Ann.embedDecontaminate(spark, sfDir).collect()
    val evalIds = out.map(_.getAs[Long]("best_eval_id")).toSet
    assert(evalIds.forall(_ % graft.operators.Dedup.EvalMod == 0))
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id") % graft.operators.Dedup.EvalMod != 0)
      assert(r.getAs[Boolean]("contaminated") ===
        (r.getAs[Double]("best_sim") >= Ann.NearDupThreshold))
    }
    // spot-check the argmax against a local recompute for one vector
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    val probe = out.head
    val vid = probe.getAs[Long]("vec_id")
    val best = e.keys.filter(_ % graft.operators.Dedup.EvalMod == 0)
      .map(eid => (cos(e(vid), e(eid)), eid)).maxBy(t => (t._1, -t._2))
    assert(math.abs(best._1 - probe.getAs[Double]("best_sim")) < 1e-9)
  }

  test("IVF with exhaustive probing equals brute force exactly") {
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(spark, sfDir, Ann.IvfLists)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    assert(ivf === truth) // probing every list degenerates to exact search
  }

  test("IVF at default nprobe achieves usable recall against brute force") {
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Ann.ivfTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (truth & approx).size.toDouble / truth.size
    // nprobe/lists = 4/16 on random unit vectors: expected recall well
    // above the 25% list mass because near neighbors concentrate in the
    // query's nearest cells; bound documents observed behavior.
    assert(recall >= 0.3, s"recall@${Ann.TopK} = $recall")
  }

  test("validated IVF probe entry: in_exact_topk flag is faithful to " +
      "brute force and the recall floor holds") {
    val rows = Ann.ivfTopKValidated(spark, sfDir)
      .select("q_id", "n_id", "in_exact_topk")
      .as[(Long, Long, Boolean)].collect()
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // the flag IS ground truth, row for row
    rows.foreach { case (q, n, hit) =>
      assert(hit === truth.contains((q, n)), s"flag wrong for ($q,$n)")
    }
    // and the ranking is the approximate nprobe path, not brute force in
    // disguise: same floor as the raw nprobe=4 test above
    val recall = rows.count(_._3).toDouble / truth.size
    assert(recall >= 0.3, s"recall@${Ann.TopK} = $recall")
    assert(recall < 1.0,
      "nprobe=4 of 16 recalled everything — entry is not approximate")
  }

  test("IVF with one Lloyd refinement round: exhaustive probing still " +
      "equals brute force, and the centroids actually moved") {
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    // exactness under nprobe = K is independent of centroid quality: every
    // vector lives in SOME list, so probing all lists is exact search
    val ivf = Ann.ivfTopK(spark, sfDir, Ann.IvfLists, refineRounds = 1)
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    assert(ivf === truth)
    // the refinement is not a no-op: cell means differ from the seed
    // vectors they replace
    val refined = Ann.lloydRefine(spark, sfDir, 1)
      .select("cid", "c_emb").as[(Long, Array[Float])].collect().toMap
    val seeds = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= Ann.NumQueries &&
        col("vec_id") < Ann.NumQueries + Ann.IvfLists)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    assert(refined.nonEmpty)
    assert(refined.exists { case (cid, c) =>
      !java.util.Arrays.equals(c, seeds(cid))
    })
  }

  test("multi-round Lloyd keeps exactly K lists (dead cells reseeded) " +
      "and refined recall is not below seed recall") {
    // every round must hand back K centroids with K distinct cids — a dead
    // cell is reseeded from the farthest-assigned vector, never dropped
    (1 to 3).foreach { r =>
      val cids = Ann.lloydRefine(spark, sfDir, r)
        .select("cid").as[Long].collect()
      assert(cids.length === Ann.IvfLists, s"rounds=$r")
      assert(cids.toSet.size === Ann.IvfLists, s"rounds=$r")
    }
    val truth = Ann.bruteForceTopK(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recallAt(rounds: Int): Double = {
      val got = Ann.ivfTopK(spark, sfDir, Ann.IvfProbe, refineRounds = rounds)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val seed = recallAt(0)
    val refined = recallAt(3)
    // Lloyd does not guarantee monotone recall at fixed nprobe, and the
    // cell-mean avg() is not byte-stable across shuffle merge orders (the
    // reason refinement is gated off for driver queries), so near-tie
    // assignments can flip between runs: allow a one-neighbor slip rather
    // than flake, while still catching any real regression
    assert(refined >= seed - 1.0 / truth.size,
      s"recall degraded: seed=$seed refined(3 rounds)=$refined")
  }

  test("near-dup retrieval is symmetric-free (v1 < v2) and above threshold") {
    val out = Ann.embeddingNearDup(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("v1") < r.getAs[Long]("v2"))
      assert(r.getAs[Double]("sim") >= Ann.NearDupThreshold)
    }
  }

  test("int8 quantization: codes bounded, max component hits ±127, " +
      "reconstruction error within the scale/254 bound") {
    val out = Ann.embedQuantize(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val qvec  = r.getAs[String]("qvec_str").split('|').map(_.toInt)
      assert(scale > 0.0)
      assert(qvec.forall(q => q >= -127 && q <= 127))
      // the max-|x| component quantizes to exactly ±127 by construction
      assert(qvec.exists(q => math.abs(q) == 127))
      // |x - q·scale/127| ≤ (scale/127)·0.5 — floor(+0.5) rounds to the
      // nearest code, so the worst case is half a quantization step
      assert(r.getAs[Double]("max_err") <= scale / 254.0 * (1 + 1e-9))
    }
  }

  test("int8 quantization: an all-zero vector yields NULL codes and NULL " +
      "error, not NaN or an ANSI cast failure") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qz").toString
    Seq(
      (0L, Array(0.0f, 0.0f, 0.0f), 0),   // zero-padding row
      (1L, Array(1.0f, -2.0f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Ann.embedQuantize(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(rows(0L).getAs[Double]("scale") === 0.0)
    assert(rows(0L).isNullAt(rows(0L).fieldIndex("qvec_str")))
    assert(rows(0L).isNullAt(rows(0L).fieldIndex("max_err")))
    assert(rows(1L).getAs[String]("qvec_str") === "64|-127|32")
  }

  test("semantic dedup: kept/pruned partition the store, no kept " +
      "same-cluster pair is above threshold, every pruned vector is " +
      "justified by a lower-id member") {
    val assign = Ann.ivfAssign(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap.map { case (id, v) => id -> v.map(_.toDouble) }
    def sim(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val kept = Ann.semanticDedup(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    // cluster ids in the output are the assignment's
    kept.foreach { case (id, cid) => assert(assign(id) === cid) }
    val keptIds   = kept.keySet
    val prunedIds = vecs.keySet -- keptIds
    // keep-first semantics, checked against an exhaustive local reference:
    // pruned  ⇔  some lower-id same-cluster member is >= threshold
    for (id <- vecs.keys) {
      val justified = vecs.keys.exists(o => o < id &&
        assign(o) === assign(id) &&
        sim(vecs(o), vecs(id)) >= Ann.SemDedupThreshold)
      assert(justified === prunedIds.contains(id),
        s"vec $id: justified=$justified pruned=${prunedIds.contains(id)}")
    }
    // the testdata's planted near-dups make the pruning path non-vacuous
    assert(prunedIds.nonEmpty)
  }

  test("kmeans: integer-lattice Lloyd matches an exhaustive local replay, " +
      "and the final round is ONE scan with expression-level argmin " +
      "(no window, no cross join)") {
    val df = graft.operators.Ann.kmeans(spark, sfDir)
    val ex = df.queryExecution.executedPlan.toString
    assert("embeddings\\.parquet".r.findAllIn(ex).size == 1, "one scan")
    assert(!ex.contains("Window") && !ex.contains("NestedLoop"), ex.take(400))
    val got = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // local replay: same quantization, same init, same truncating-mean
    // update, same (dist, cid) tie-break
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 10000 + 0.5).toLong))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var cents: Seq[(Long, Array[Long])] =
      vecs.take(Ann.KmeansK).zipWithIndex.map { case ((_, v), i) =>
        (i.toLong, v) }
    var asg: Array[(Long, Long, Long)] = null // (vec, cid, dist)
    for (t <- 1 to Ann.KmeansIters) {
      asg = vecs.map { case (id, v) =>
        val best = cents.map { case (cid, c) => (d2(v, c), cid) }.min
        (id, best._2, best._1)
      }
      if (t < Ann.KmeansIters)
        cents = asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, rows) =>
          val members = rows.map(r => vecs(r._1.toInt)._2)
          (cid, Array.tabulate(Ann.Dim)(i =>
            members.map(_(i)).sum / members.length))
        }
    }
    val want = asg.groupBy(_._2).view.mapValues(rows =>
      (rows.length.toLong, rows.map(_._3).sum)).toMap
    assert(got == want)
  }
}
