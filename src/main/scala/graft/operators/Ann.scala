package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, dim 64): exact brute-force cosine top-k as the
  * oracle-checked baseline, random-hyperplane LSH bucketing as the scale
  * path, plus threshold "near-duplicate" retrieval.
  *
  * Performance notes (measured on sf0.1 bench):
  *  - dot products are statically unrolled ([[dotN]]) — the generic
  *    zip_with/aggregate fold allocates an intermediate array per pair and
  *    was ~100× slower across the N² near-dup join.
  *  - norms are computed ONCE per vector before any join and carried as a
  *    column; only the single cross-pair dot runs inside the join.
  *  - results stay bit-identical to the naive formulation (same add order),
  *    so the DuckDB oracles are unaffected.
  *
  * Scale design: brute force is O(Q·N) dot products — fine when Q is small
  * (its real use: re-ranking inside a candidate bucket). The LSH variant
  * hashes every vector to a signed-projection code; only same-band vectors
  * are compared, dropping join volume from N² to Σ bucket². Hyperplanes are
  * derived by integer hash mixing, not RNG — reproducible at any
  * parallelism.
  */
object Ann {

  val Dim        = 64
  val TopK       = 5
  val NumQueries = 16 // vec_id < 16 are the query vectors

  /** Exact top-k by cosine: broadcast the (small) query set against the full
    * collection, window-rank per query. The ORDER BY ties on neighbor id so
    * ranking is deterministic even under FP-equal similarities.
    */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    q.join(n, col("q_id") =!= col("n_id"))
      .withColumn("sim", cosineSim(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val bruteForceTopKSql: String = {
    val sim = cosineSql("q.v", "n.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |     q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
       |     scored AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $sim AS sim,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $sim DESC, n.vec_id ASC) AS rank
       |  FROM q, e n WHERE q.vec_id <> n.vec_id)
       |SELECT q_id, rank, n_id, sim FROM scored
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
  }

  val NearDupThreshold = 0.4

  /** Exact all-pairs retrieval above a cosine threshold — the embedding
    * near-duplicate primitive. Kept exact (and oracle-checked); the LSH
    * query below is the subquadratic variant of the same primitive.
    */
  /** Blocks per side for the exact all-pairs kernel. Each vector is
    * replicated to `EmbedBlocks` block-pair groups, so shuffle volume is
    * B·N rows and peak task memory is 2·N/B vectors — at 100 TB pick
    * B ≈ N·rowBytes / targetBlockBytes (e.g. 1 B vectors × 256 B at 512 MB
    * blocks → B ≈ 500) and both bounds hold with no driver involvement.
    */
  val EmbedBlocks = 8

  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The N² pair loop is the one place a declarative formulation loses
    // badly: the 64-term dot as a Catalyst expression tree (~400 nodes with
    // ANSI checks) exceeds JIT method limits and runs effectively
    // interpreted — measured 170s (filter pushed into the BNLJ condition)
    // and still 60s with the expression in a post-join projection, vs ~1s
    // for this fused kernel at sf0.1. So: block-matrix all-pairs — each
    // vector lands in the B block-pair groups its block participates in,
    // and a tight per-group loop computes the pairs (the documented
    // mapPartitions-family "last resort", used exactly once in this
    // engine). Fully distributed: no driver collect, no broadcast; one
    // shuffle of B·N rows. Arithmetic is ascending-index, left-associated —
    // bit-identical to the DuckDB oracle's list_dot_product (dot and norm
    // products commute, so block orientation cannot change the value).
    val B   = EmbedBlocks
    val thr = NearDupThreshold
    val rows = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // group key (i, j), i <= j, encoded i*B+j: a row in block b joins every
    // group where b is the lower or the upper block.
    val tagged = rows.flatMap { case (id, emb) =>
      val b = (id % B).toInt
      (b until B).map(j => (b * B + j, id, emb)) ++
        (0 until b).map(i => (i * B + b, id, emb))
    }
    tagged.groupByKey(_._1).flatMapGroups { (key, iter) =>
      val bi  = key / B
      val bj  = key % B
      val all = iter.toArray
      def prep(block: Int) = {
        val rowsB = all.filter(t => (t._2 % B).toInt == block)
        val ids   = rowsB.map(_._2)
        val vecs  = rowsB.map(_._3.map(_.toDouble))
        val norms = vecs.map { v =>
          var acc = 0.0; var j = 0
          while (j < v.length) { acc += v(j) * v(j); j += 1 }
          math.sqrt(acc)
        }
        (ids, vecs, norms)
      }
      val diag = bi == bj
      val (lIds, lVecs, lNorms) = prep(bi)
      val (rIds, rVecs, rNorms) =
        if (diag) (lIds, lVecs, lNorms) else prep(bj)
      // diagonal groups: id order de-dupes the symmetric (p,q)/(q,p) visits;
      // cross-block groups visit each pair once, in either id order, so
      // orient the output pair instead of filtering.
      for {
        p <- Iterator.range(0, lIds.length)
        q <- Iterator.range(0, rIds.length)
        if !diag || lIds(p) < rIds(q)
      } yield {
        val v = lVecs(p); val w = rVecs(q)
        val n = math.min(v.length, w.length)
        var dotAcc = 0.0; var i = 0
        while (i < n) { dotAcc += v(i) * w(i); i += 1 }
        val sim = dotAcc / (lNorms(p) * rNorms(q))
        if (lIds(p) < rIds(q)) (lIds(p), rIds(q), sim)
        else (rIds(q), lIds(p), sim)
      }
    }.filter(_._3 >= thr)
      .toDF("v1", "v2", "sim")
      .orderBy(col("v1"), col("v2"))
  }

  val embeddingNearDupSql: String = {
    val sim = cosineSql("a.v", "b.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings)
       |SELECT a.vec_id AS v1, b.vec_id AS v2, $sim AS sim
       |FROM e a, e b
       |WHERE a.vec_id < b.vec_id AND $sim >= $NearDupThreshold
       |ORDER BY v1, v2""".stripMargin
  }

  val LshBits  = 16
  val LshBands = 4 // 4 bands × 4 bits

  /** Deterministic pseudo-random hyperplane component (plane i, dim j):
    * a sign in {-1,+1} derived by integer hash mixing — reproducible across
    * runs/partitions with no RNG state. Sign-projection LSH with ±1
    * components is the standard SimHash-for-vectors construction.
    */
  private[operators] def planeSign(i: Int, j: Int): Long = {
    var x = i * 2654435761L + j * 40503L + 2166136261L
    x ^= (x >>> 16); x *= 73244475L; x ^= (x >>> 13)
    if ((x & 1L) == 0L) -1L else 1L
  }

  /** `LshBits`-bit signed-projection code of an embedding column.
    * Implemented as a Scala UDF with a tight loop: the same math as a
    * column expression is a 1024-term tree (16 planes × 64 dims) that
    * chokes the JIT; the UDF runs once per VECTOR (not per pair), on the
    * narrow signature stage, where breaking codegen costs nothing
    * measurable and the loop itself JITs cleanly.
    */
  val lshBits: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (emb: Array[Float]) =>
      Array.tabulate(LshBits) { i =>
        var proj = 0.0
        var j = 0
        while (j < Dim && j < emb.length) {
          proj += emb(j).toDouble * planeSign(i, j).toDouble
          j += 1
        }
        if (proj >= 0) 1L else 0L
      }
    }

  /** LSH-bucketed ANN: vectors meet only inside 4-bit band buckets (any of
    * 4 bands matching makes a candidate), then exact cosine re-ranks.
    * Approximate relative to the exact top-k (recall bounded by AnnSpec) —
    * but fully DETERMINISTIC: the hyperplanes are integer-hash signs, so
    * the bucketing itself is replicable in SQL and the driver entry is
    * hash-checked against [[lshTopKValidatedSql]].
    */
  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val banded = Tables.embeddings(s, d)
      .select(col("vec_id"), lshBits(col("embedding")).as("bits"))
      .select(col("vec_id"),
        array((0 until LshBands).map { b =>
          (0 until 4).map { k =>
            element_at(col("bits"), b * 4 + k + 1) * lit(1L << k)
          }.reduce(_ + _)
        }: _*).as("keys"))
    // the queries are the x side, so their filter reaches the scan;
    // candidates travel as ids and embeddings are joined back after
    val cand = BandPairs(banded.filter(col("vec_id") < lit(NumQueries)),
        banded, "keys", LshBands, "ann_lsh",
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("q_id"), col("y.vec_id").as("n_id"))
    exactRerank(s, d, cand)
  }

  /** The driver-visible LSH entry: the LSH ranking with its own ground
    * truth riding in-row (`in_exact_topk` = whether the neighbor is in
    * the exact brute-force top-k; AnnSpec asserts the recall bound over
    * the flag). Recall < 1 does NOT put this outside the hash gate: the
    * approximation is deterministic, so [[lshTopKValidatedSql]] replicates
    * the bucketing itself and the oracle hashes the same approximate
    * result. The brute-force arm exists only for the in-row flag: a
    * production index build runs [[lshTopK]] alone (the demo corpus has
    * Q=16 query vectors, so the validation arm is O(Q·N), not O(N²)).
    */
  def lshTopKValidated(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge.stripPresentationSort
    // Both arms are standalone driver entries ending in their own
    // presentation sort; under this join those inner sorts are pure
    // overhead AND would survive Bench's root-only strip — drop them
    // here so the one trailing orderBy below is the plan's only Sort.
    val truth = stripPresentationSort(bruteForceTopK(s, d))
      .select(col("q_id"), col("n_id"), lit(true).as("hit"))
    stripPresentationSort(lshTopK(s, d))
      .join(truth, Seq("q_id", "n_id"), "left")
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"),
        coalesce(col("hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of [[lshTopKValidated]]. The oracle replicates the LSH
    * BUCKETING itself, not just the rerank: the `LshBits` plane-sign
    * vectors are inlined as literal DOUBLE[] rows generated from the same
    * [[planeSign]] function (a drifted constant cannot desynchronize the
    * two sides); signatures come from `list_dot_product`, which the
    * hash-green embedding oracles already prove bit-identical to an
    * ascending, left-associated double loop — precisely what [[lshBits]]
    * runs — so there is no summation reordering on either side and the
    * `>= 0` sign threshold sees the same double in both engines; band keys,
    * candidate join, exact rerank, and the brute-force `in_exact_topk`
    * flag then mirror the DataFrame pipeline stage for stage.
    */
  val lshTopKValidatedSql: String = {
    val planeRows = (0 until LshBits).map { i =>
      val arr = (0 until Dim).map(j => s"${planeSign(i, j)}.0").mkString(",")
      s"($i, CAST([$arr] AS DOUBLE[]))"
    }.mkString(",\n       ")
    val sim = cosineSql("q.v", "n.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |planes(i, pl) AS (VALUES
       |       $planeRows),
       |bits AS (
       |  SELECT vec_id, i,
       |         CASE WHEN list_dot_product(v, pl) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, i // 4 AS band,
       |         CAST(SUM(bit * (1 << (i % 4))) AS BIGINT) AS bkey
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS n_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.vec_id < $NumQueries AND x.vec_id <> y.vec_id),
       |scored AS (
       |  SELECT c.q_id, c.n_id, $sim AS sim,
       |         row_number() OVER (PARTITION BY c.q_id
       |                            ORDER BY $sim DESC, c.n_id ASC) AS rank
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.q_id
       |  JOIN e n ON n.vec_id = c.n_id),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY $sim DESC, n.vec_id ASC) AS rank
       |    FROM e q, e n
       |    WHERE q.vec_id < $NumQueries AND q.vec_id <> n.vec_id)
       |  WHERE rank <= $TopK)
       |SELECT s.q_id, s.rank, s.n_id, s.sim,
       |       (t.n_id IS NOT NULL) AS in_exact_topk
       |FROM scored s
       |LEFT JOIN truth t ON t.q_id = s.q_id AND t.n_id = s.n_id
       |WHERE s.rank <= $TopK
       |ORDER BY s.q_id, s.rank""".stripMargin
  }

  /** Shared tail of every candidate-generating ANN variant: join the
    * embeddings back onto the (q_id, n_id) candidate set (candidates travel
    * as IDs only until here), exact cosine, deterministic per-query top-k.
    */
  private def exactRerank(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val e = Tables.embeddings(s, d)
    val withVecs = cand
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        Seq("q_id"))
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        Seq("n_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    withVecs.withColumn("sim", cosineSim(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---------- banded-LSH all-pairs near-dup (pair GENERATION) ----------

  /** Bits per band / band count for the all-pairs variant. Tuned for this
    * corpus's near-dup population (cosine 0.40–0.51, i.e. θ ≈ 60–66° —
    * where a signed projection agrees with probability 1 − θ/π ≈ 0.65,
    * barely above the 0.5 random floor, so the amplification exponent
    * ρ = ln p₁ / ln p₂ ≈ 0.62 is intrinsically weak and recall ~0.6 is
    * the honest ceiling at bounded candidate volume; at the sim ≥ 0.9
    * thresholds a production image/text near-dup run uses, p₁ ≈ 0.86 and
    * the same B bands reach recall > 0.99). At scale, b grows with
    * log₂(N / targetBucket) so the expected bucket stays O(targetBucket)
    * and candidate volume is B · N · targetBucket — LINEAR in N, never
    * all-pairs; B is then chosen from the recall target alone.
    */
  val PairLshBandBits = 6
  val PairLshBands    = 12

  /** Band keys for the all-pairs LSH: `PairLshBands` integers, each the
    * `PairLshBandBits`-bit signed-projection code of one band. Same
    * integer-hash hyperplanes ([[planeSign]], plane index = band·bits+k)
    * and same left-associated ascending double loop as [[lshBits]], so
    * the bucketing is bit-reproducible in the DuckDB oracle.
    */
  val pairBandKeys: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (emb: Array[Float]) =>
      val codes = new Array[Long](PairLshBands)
      var i = 0
      while (i < PairLshBands * PairLshBandBits) {
        var proj = 0.0
        var j = 0
        while (j < Dim && j < emb.length) {
          proj += emb(j).toDouble * planeSign(i, j).toDouble
          j += 1
        }
        if (proj >= 0) codes(i / PairLshBandBits) |= 1L << (i % PairLshBandBits)
        i += 1
      }
      codes
    }

  /** Subquadratic all-pairs embedding near-dup — the pair-GENERATION
    * analogue of the minhash/LSH document dedup: vectors meet only inside
    * (band, key) buckets, candidate pairs travel as ids, and the exact
    * cosine re-rank keeps pairs ≥ [[NearDupThreshold]]. This is the shape
    * a 10⁹-vector corpus actually runs — the exact block kernel
    * ([[embeddingNearDup]]) is B·N² work however blocked, while this is
    * Σ bucket² ≈ B·N·targetBucket with log-N band bits.
    *
    * Every emitted pair is exact (the re-rank recomputes true cosine);
    * what is approximate is COVERAGE — see [[embedLshPairsValidated]],
    * which rides the per-pair ground truth in-row.
    */
  def embedLshPairs(s: SparkSession, d: String): DataFrame = {
    val banded = Tables.embeddings(s, d)
      .select(col("vec_id"), pairBandKeys(col("embedding")).as("keys"))
    val cand = BandPairs(banded, banded, "keys", PairLshBands,
        "embed_lsh_pairs", col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
    val e = Tables.embeddings(s, d)
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")),
        Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        Seq("v2"))
      .withColumn("sim", cosineSim(col("e1"), col("e2")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("v1"), col("v2"), col("sim"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Driver entry: the EXACT near-dup pair set (truth from the block
    * kernel) with `lsh_found` riding in-row — whether the banded path
    * surfaced that pair — mirroring [[lshTopKValidated]]'s contract: the
    * approximation is deterministic (integer-hash hyperplanes), so the
    * oracle replicates the banding itself and hashes the same rows;
    * recall is then readable from the flag column and its floor is pinned
    * in AnnSpec. The truth arm exists only for the flag — a production
    * run executes [[embedLshPairs]] alone.
    */
  def embedLshPairsValidated(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge.stripPresentationSort
    val found = stripPresentationSort(embedLshPairs(s, d))
      .select(col("v1"), col("v2"), lit(true).as("hit"))
    // found ⊆ truth (both keep exact cosine ≥ the threshold): the
    // smaller side builds, and neither side shuffles for the flag join
    stripPresentationSort(embeddingNearDup(s, d))
      .join(broadcast(found), Seq("v1", "v2"), "left")
      .select(col("v1"), col("v2"), col("sim"),
        coalesce(col("hit"), lit(false)).as("lsh_found"))
      .orderBy(col("v1"), col("v2"))
  }

  /** DuckDB twin of [[embedLshPairsValidated]]: the 72 plane-sign vectors
    * are inlined from the same [[planeSign]] function, signatures come
    * from `list_dot_product` (bit-identical to the UDF's ascending
    * left-associated loop — the already-hash-green LSH top-k oracle
    * proves the pattern), and the band keys, candidate join, threshold
    * re-rank, and truth arm mirror the DataFrame pipeline stage for
    * stage.
    */
  val embedLshPairsValidatedSql: String = {
    val planeRows = (0 until PairLshBands * PairLshBandBits).map { i =>
      val arr = (0 until Dim).map(j => s"${planeSign(i, j)}.0").mkString(",")
      s"($i, CAST([$arr] AS DOUBLE[]))"
    }.mkString(",\n       ")
    val sim = cosineSql("a.v", "b.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |planes(i, pl) AS (VALUES
       |       $planeRows),
       |bits AS (
       |  SELECT vec_id, i,
       |         CASE WHEN list_dot_product(v, pl) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes),
       |bands AS (
       |  SELECT vec_id, i // $PairLshBandBits AS band,
       |         CAST(SUM(bit * (1 << (i % $PairLshBandBits))) AS BIGINT)
       |           AS bkey
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.vec_id < y.vec_id),
       |truth AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2, $sim AS sim
       |  FROM e a, e b
       |  WHERE a.vec_id < b.vec_id AND $sim >= $NearDupThreshold)
       |SELECT t.v1, t.v2, t.sim, (c.v1 IS NOT NULL) AS lsh_found
       |FROM truth t
       |LEFT JOIN cand c ON c.v1 = t.v1 AND c.v2 = t.v2
       |ORDER BY t.v1, t.v2""".stripMargin
  }

  // ---------- embedding near-dup clustering + eval decontamination ----------

  /** Connected components over the exact embedding near-dup pairs — the
    * cluster view of the pair report (each semantic duplicate group gets
    * one id = its minimum member), through the document dedup's
    * [[Dedup.labelComponents]] (min-label rounds, alternating-star
    * fallback). Only vectors participating in at least
    * one near-dup pair appear (singletons need no cluster id) — matching
    * the oracle's transitive closure over the edge list.
    *
    * Scale: the pair source is interchangeable — a production corpus
    * feeds [[embedLshPairs]] (subquadratic) into the same contraction;
    * the driver entry uses the exact pairs so the whole result stays
    * hash-gated.
    */
  def embedClusters(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge.stripPresentationSort
    val pairs = stripPresentationSort(embeddingNearDup(s, d))
      .select(col("v1"), col("v2"))
    Dedup.labelComponents(pairs)
      .select(col("node").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  val embedClustersSql: String = {
    val sim = cosineSql("a.v", "b.v")
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |pairs AS (SELECT a.vec_id AS v1, b.vec_id AS v2 FROM e a, e b
       |          WHERE a.vec_id < b.vec_id AND $sim >= $NearDupThreshold),
       |edges AS (SELECT v1 AS u, v2 AS v FROM pairs
       |          UNION ALL SELECT v2, v1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
       |SELECT u AS vec_id, least(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin
  }

  /** Embedding-space eval decontamination — the semantic complement of
    * the shingle-overlap [[Dedup.decontaminate]]: for every TRAIN vector,
    * its nearest EVAL vector by cosine (the held-out suite = vec_id ≡ 0
    * mod [[Dedup.EvalMod]], the same split convention) and a flag at
    * ≥ [[NearDupThreshold]] — the audit a pretraining corpus runs so
    * benchmark paraphrases that share no n-grams still surface.
    *
    * Scale shape: eval suites are fixed-size (MBs), so the eval side
    * broadcasts and the scan stays one narrow N×E pass with a codegen'd
    * cosine — no shuffle of the train side at any corpus size; the
    * argmax is one partial-aggregated groupBy. Deterministic tie-break:
    * max(struct(sim, −eval_id)) picks the LOWEST eval id on exact FP
    * ties, mirrored by the oracle's (sim DESC, e_id ASC) rank.
    */
  def embedDecontaminate(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val eval = broadcast(e
      .filter(pmod(col("vec_id"), lit(Dedup.EvalMod)) === 0)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_emb")))
    e.filter(pmod(col("vec_id"), lit(Dedup.EvalMod)) =!= 0)
      .crossJoin(eval)
      .withColumn("sim", cosineSim(col("embedding"), col("e_emb")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim").as("s"), (-col("e_id")).as("ne"))).as("m"))
      .select(col("vec_id"),
        (-col("m.ne")).as("best_eval_id"),
        col("m.s").as("best_sim"),
        (col("m.s") >= NearDupThreshold).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  val embedDecontaminateSql: String = {
    val sim = cosineSql("tr.v", "ev.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |ev AS (SELECT vec_id AS e_id, v FROM e
       |       WHERE vec_id % ${Dedup.EvalMod} = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % ${Dedup.EvalMod} <> 0),
       |sc AS (SELECT tr.vec_id, ev.e_id, $sim AS sim,
       |         row_number() OVER (PARTITION BY tr.vec_id
       |                            ORDER BY $sim DESC, ev.e_id ASC) AS rk
       |       FROM tr, ev)
       |SELECT vec_id, e_id AS best_eval_id, sim AS best_sim,
       |       sim >= $NearDupThreshold AS contaminated
       |FROM sc WHERE rk = 1 ORDER BY vec_id""".stripMargin
  }

  // ---------- IVF (inverted-file) ANN ----------

  val IvfLists = 16

  /** Deterministic coarse quantizer: the `IvfLists` vectors with vec_id in
    * [NumQueries, NumQueries + IvfLists) ARE the centroids — no RNG, no
    * training pass, reproducible at any parallelism. (On this corpus of
    * random unit vectors a Lloyd round barely moves the cells; a real
    * deployment would train k-means offline and broadcast the artifact the
    * same way.)
    */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + IvfLists)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))

  /** Distributed Lloyd refinement over the seed centroids, `rounds` times:
    * assign every vector to its nearest centroid, then average each cell
    * with `Dim` flat avg-aggregates (codegen'd, one shuffle on cid — the
    * same flat-aggregation shape the minhash signatures use). A cell left
    * EMPTY by a round (a dead centroid) is reseeded from the globally
    * farthest-assigned vector (lowest nearest-centroid cosine, ties on
    * vec_id) — the standard k-means empty-cluster repair, so the index
    * never silently shrinks below K lists. The rounds run through
    * [[Fixpoint.iterate]] with no stopping test (a fixed round count), and
    * the result is observed as `lloydRefine` (`rounds`; `converged` is
    * always false).
    *
    * Gated behind `refineRounds > 0` in [[ivfTopK]] because a
    * cross-partition FP average is not byte-stable under
    * re-parallelization (sum order varies), which would break the engine's
    * determinism contract for driver-checked queries; recall properties
    * are pinned in AnnSpec instead.
    */
  private[graft] def lloydRefine(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val run = Fixpoint.iterate(ivfCentroids(s, d), rounds, Nil)(
      (centroids, _) => lloydStep(s, d, centroids))((_, _, _) => false)
    run.report(run.state, "lloydRefine")
  }

  /** One Lloyd round against an explicit centroid set: cell means + dead-
    * cell reseed. The K worst-fitting vectors come out of an
    * `orderBy.limit(K)` — TakeOrderedAndProject, distributed top-K over
    * (vec_id, cid, sim) triples, no global sort, no full-N window — and
    * only those ≤ K rows rejoin the embedding payload before the ≤ K-row
    * rank-join against the dead cids. When no cell is dead (the common
    * case) the reseed side evaluates to zero rows; everything stays
    * in-plan, no driver collect.
    */
  private def lloydStep(s: SparkSession, d: String,
      centroids: DataFrame): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val assigned = e.crossJoin(broadcast(centroids))
      .withColumn("sim", cosineSim(col("embedding"), col("c_emb")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim").as("s"), col("cid").as("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("cid"), col("m.s").as("sim"))
    val avgs = (0 until Dim).map(i =>
      avg(element_at(col("embedding"), i + 1)).as(s"a$i"))
    val means = e.join(assigned.select("vec_id", "cid"), Seq("vec_id"))
      .groupBy(col("cid"))
      .agg(avgs.head, avgs.tail: _*)
      .select(col("cid"),
        array((0 until Dim).map(i => col(s"a$i").cast("float")): _*)
          .as("c_emb"))
    val dead = centroids.select(col("cid"))
      .except(means.select(col("cid")))
      .withColumn("rk", row_number().over(Window.orderBy(col("cid"))))
    val farthest = assigned
      .orderBy(col("sim").asc, col("vec_id").asc).limit(IvfLists)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("sim").asc, col("vec_id").asc)))
      .join(e, Seq("vec_id"))
      .select(col("rk"), col("embedding"))
    val reseeded = dead.join(farthest, Seq("rk"))
      .select(col("cid"), col("embedding").as("c_emb"))
    means.unionByName(reseeded)
  }

  /** IVF list assignment: nearest centroid per vector. Broadcast the K
    * centroids, codegen'd cosine, argmax via max(struct) — deterministic
    * tie-break on centroid id. The build is the engine's only N×K stage
    * (one-time index construction); queries then open `nprobe` lists.
    */
  def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignTo(s, d, ivfCentroids(s, d))

  private def ivfAssignTo(s: SparkSession, d: String,
      centroids: DataFrame): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", cosineSim(col("embedding"), col("c_emb")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim").as("s"), col("cid").as("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("cid"))

  /** IVF-bucketed ANN top-k: queries rank the K centroids, open the
    * `nprobe` nearest lists, and exact cosine re-ranks the union of those
    * lists. `nprobe = IvfLists` probes every list — then the result equals
    * brute force exactly (AnnSpec pins this), which is the correctness
    * anchor for the approximate settings. `refineRounds` Lloyd rounds
    * (default 0 — see [[lloydRefine]] for why) train the centroids first.
    */
  def ivfTopK(s: SparkSession, d: String, nprobe: Int,
      refineRounds: Int = 0): DataFrame = {
    val centroids =
      if (refineRounds > 0) lloydRefine(s, d, refineRounds)
      else ivfCentroids(s, d)
    val assign = ivfAssignTo(s, d, centroids)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cid").asc)
    val probes = Tables.embeddings(s, d)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", cosineSim(col("q_emb"), col("c_emb")))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("cid"))
    val cand = probes.join(assign, Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    exactRerank(s, d, cand)
  }

  val IvfProbe = 4

  def ivfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, IvfProbe)

  /** The honest APPROXIMATE IVF driver entry: `nprobe = IvfProbe` of
    * [[IvfLists]] lists — a real recall/cost trade, unlike `q_ann_ivf`
    * whose exhaustive probe equals brute force by construction — with the
    * per-neighbor ground truth (`in_exact_topk`) riding in-row, the same
    * contract as [[lshTopKValidated]]. Recall < 1 does not put this
    * outside the hash gate: centroids are deterministic data rows and
    * every stage (centroid ranking, argmax assignment, candidate join,
    * exact rerank) is order-free, so [[ivfTopKValidatedSql]] replicates
    * the probe itself and hashes the same approximate result. AnnSpec
    * pins the recall floor over the flag.
    */
  def ivfTopKValidated(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge.stripPresentationSort
    val truth = stripPresentationSort(bruteForceTopK(s, d))
      .select(col("q_id"), col("n_id"), lit(true).as("hit"))
    stripPresentationSort(ivfTopK(s, d, IvfProbe))
      .join(truth, Seq("q_id", "n_id"), "left")
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"),
        coalesce(col("hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of [[ivfTopKValidated]], stage for stage: centroid rows
    * are the same data-derived vectors (no constants to drift); the
    * assignment argmax mirrors `max(struct(sim, cid))` — sim DESC then
    * cid DESC on ties — while the probe ranking uses the window's
    * sim DESC, cid ASC; the candidate join, exact rerank, and brute-force
    * truth flag then follow [[lshTopKValidatedSql]]'s shape.
    */
  val ivfTopKValidatedSql: String = {
    val aSim = cosineSql("e.v", "c.cv")
    val sim  = cosineSql("q.v", "n.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e
       |      WHERE vec_id >= $NumQueries
       |        AND vec_id < ${NumQueries + IvfLists}),
       |sc AS (SELECT e.vec_id, c.cid, $aSim AS sim FROM e, c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sim DESC, cid DESC) AS r
       |    FROM sc) WHERE r = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sim DESC, cid ASC) AS pr
       |    FROM sc WHERE vec_id < $NumQueries) WHERE pr <= $IvfProbe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |  FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE p.q_id <> a.vec_id),
       |scored AS (
       |  SELECT cd.q_id, cd.n_id, $sim AS sim,
       |         row_number() OVER (PARTITION BY cd.q_id
       |                            ORDER BY $sim DESC, cd.n_id ASC) AS rank
       |  FROM cand cd
       |  JOIN e q ON q.vec_id = cd.q_id
       |  JOIN e n ON n.vec_id = cd.n_id),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                              ORDER BY $sim DESC, n.vec_id ASC) AS rank
       |    FROM e q, e n
       |    WHERE q.vec_id < $NumQueries AND q.vec_id <> n.vec_id)
       |  WHERE rank <= $TopK)
       |SELECT s.q_id, s.rank, s.n_id, s.sim,
       |       (t.n_id IS NOT NULL) AS in_exact_topk
       |FROM scored s
       |LEFT JOIN truth t ON t.q_id = s.q_id AND t.n_id = s.n_id
       |WHERE s.rank <= $TopK
       |ORDER BY s.q_id, s.rank""".stripMargin
  }

  // ---------- semantic deduplication (cluster-then-prune) ----------

  /** Cosine threshold above which two same-cluster embeddings are semantic
    * duplicates. Shares [[NearDupThreshold]] so the planted near-dup pairs
    * in the testdata exercise the pruning path.
    */
  val SemDedupThreshold: Double = NearDupThreshold

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * assign every embedding to its nearest coarse-quantizer centroid, then
    * WITHIN each cluster drop any vector whose cosine similarity to a
    * lower-id cluster member is ≥ [[SemDedupThreshold]] (keep-first over
    * the full pairwise matrix — the paper's per-cluster construction with
    * id order standing in for its centroid-distance order, making the
    * result deterministic and oracle-expressible). Output: the kept
    * vectors with their cluster id.
    *
    * Scale shape: the assignment is the broadcast N×K argmax [[ivfAssign]]
    * already uses (narrow, codegen'd cosine); the pairwise stage is ONE
    * shuffle on `cid` followed by a same-key self-join, so total pair work
    * is Σ cellᵢ² — the SemDeDup cost model. The demo quantizer has
    * K = [[IvfLists]] cells; a production run sizes K ≈ N / targetCell
    * (the paper uses 50k clusters for LAION-440M) so each cell's quadratic
    * stays bounded, and the pruned-id set stays ids-only until the final
    * anti-join. No driver collect; no broadcast of anything N-sized.
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // materialize (vec_id, embedding, cid) ONCE: the frame feeds three
    // consumers (both sides of the pair self-join and the anti-join's
    // keep side), and without the checkpoint each consumer would re-run
    // the N×K assignment — the plan showed three copies of the argmax
    // subtree. At scale this is "write the assignment table once", the
    // same move the dedup cluster iteration makes.
    val members = e.join(ivfAssign(s, d), Seq("vec_id")).localCheckpoint()
    val pruned = members.as("a")
      .join(members.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id") &&
          cosineSim(col("a.embedding"), col("b.embedding"))
            >= SemDedupThreshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    members.join(pruned, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
      .orderBy(col("vec_id"))
  }

  /** Mirrors [[semanticDedup]] exactly: same centroid seeds, same
    * max(struct)-compatible tie-break (sim DESC, cid DESC), same keep-first
    * pruning rule, same cosine formula.
    */
  val semanticDedupSql: String = {
    val assignSim = cosineSql("e.v", "c.cv")
    val pairSim   = cosineSql("a.v", "b.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |     c AS (SELECT vec_id AS cid, v AS cv FROM e
       |           WHERE vec_id >= $NumQueries
       |             AND vec_id < ${NumQueries + IvfLists}),
       |     sc AS (SELECT e.vec_id, c.cid, $assignSim AS sim FROM e, c),
       |     rk AS (SELECT vec_id, cid,
       |              row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY sim DESC, cid DESC) AS r
       |            FROM sc),
       |     m AS (SELECT rk.vec_id, rk.cid, e.v
       |           FROM rk JOIN e ON rk.vec_id = e.vec_id WHERE rk.r = 1),
       |     pruned AS (SELECT DISTINCT b.vec_id
       |                FROM m a JOIN m b
       |                  ON a.cid = b.cid AND a.vec_id < b.vec_id
       |                WHERE $pairSim >= $SemDedupThreshold)
       |SELECT vec_id, cid FROM m
       |WHERE vec_id NOT IN (SELECT vec_id FROM pruned)
       |ORDER BY vec_id""".stripMargin
  }

  // ---------- int8 scalar quantization ----------

  /** Per-vector symmetric int8 quantization — the compression step an
    * embedding store applies before an ANN index is built (4× smaller than
    * f32, dequantized on the fly during re-rank). `scale` is the vector's
    * max |component|; each component maps to `floor(x·127/scale + 0.5)` ∈
    * [−127, 127] (floor(+0.5), not round(): IEEE multiply/divide/floor on
    * exact inputs are correctly rounded and bit-identical across engines,
    * while half-even vs half-up round() conventions differ). `max_err`
    * reports the per-vector worst reconstruction error, making the query
    * self-validating: the bound scale/254 is asserted in AnnSpec. Purely
    * narrow — one scan, per-row array math, no shuffle at any scale.
    *
    * All arithmetic runs in double (float→double widening is exact), and
    * every expression mirrors the oracle's operation order left-to-right,
    * so the hash comparison holds bit-for-bit. The cast array is
    * materialized once per projection step — higher-order array functions
    * get no common-subexpression elimination, so chaining them over a
    * shared input must be staged explicitly.
    *
    * An all-zero vector has scale 0 and NO representable codes (0/0);
    * both sides emit NULL codes + NULL error for it rather than NaN
    * (which ANSI would refuse to cast) — spec-pinned on a synthetic
    * zero-padded store. Codes leave the query '|'-joined to a scalar
    * string: the check harness hashes sorted rows via pandas, which
    * cannot sort raw array cells (same contract as `q_array_funcs` /
    * `q_minhash_signature`).
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("xd"))
      .select(col("vec_id"), col("xd"),
        array_max(transform(col("xd"), v => abs(v))).as("scale"))
      .select(col("vec_id"), col("scale"), col("xd"),
        when(col("scale") === 0.0, lit(null).cast("array<int>"))
          .otherwise(transform(col("xd"),
            v => floor(v * lit(127.0) / col("scale") + lit(0.5)).cast("int")))
          .as("qvec"))
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("qvec"), q => q.cast("string")), "|")
          .as("qvec_str"),
        array_max(zip_with(col("xd"), col("qvec"),
          (v, q) => abs(v - q.cast("double") * col("scale") / lit(127.0))))
          .as("max_err"))
      .orderBy(col("vec_id"))

  val embedQuantizeSql: String =
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      |           FROM embeddings),
      |s AS (SELECT vec_id, xd,
      |        list_max(list_transform(xd, v -> abs(v))) AS scale FROM e),
      |q AS (SELECT vec_id, scale, xd,
      |        CASE WHEN scale = 0 THEN NULL
      |             ELSE list_transform(xd,
      |               v -> CAST(floor(v * 127.0 / scale + 0.5) AS INTEGER))
      |        END AS qvec
      |      FROM s)
      |SELECT vec_id, scale,
      |       array_to_string(qvec, '|') AS qvec_str,
      |       list_max(list_transform(list_zip(xd, qvec),
      |         z -> abs(z[1] - CAST(z[2] AS DOUBLE) * scale / 127.0)))
      |         AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------- k-means (Lloyd) on the integer lattice ----------

  /** Cluster count for [[kmeans]]. */
  val KmeansK = 8

  /** Lloyd assignment rounds for [[kmeans]] (updates run between rounds,
    * so K assignments bracket K-1 centroid updates). */
  val KmeansIters = 3

  /** k-means via Lloyd iterations, made EXACT so the DuckDB oracle can
    * replay it to the bit: embeddings quantize to the integer lattice
    * (×10⁴, the [[Dedup]] fixed-point discipline), distances are integer
    * squared-Euclidean, the argmin tie-breaks on the lowest cluster id,
    * and the centroid update is the component-wise integer mean
    * (`sum div n` — truncating division, which DuckDB's `//` matches).
    * No float ever enters, so partition order can't move a result.
    *
    * Architecture is the [[graft.operators.GraphOps]] PageRank / BPE
    * discipline: centroids are DRIVER state (k·dim longs — 8×64 here),
    * re-collected from an 8-group aggregate between rounds, and each
    * round is ONE embeddings scan whose assignment expression unrolls
    * statically against the centroid literals (k·dim fused
    * multiply-adds per row inside WholeStageCodegen — the zip_with
    * fold allocates a fresh array per pair and measured ~100× slower
    * on this table, see the [[dotN]] note above). Init is the k lowest
    * vec_ids (a TakeOrdered, deterministic at any parallelism). Empty
    * clusters simply drop out of the collected update, and later
    * rounds assign over the survivors — the oracle reproduces that
    * rule for free because its regrouped centroid CTE loses the cid
    * the same way. Scale: per round, one scan + one map-side-combined
    * k-group aggregate; nothing driver-side grows with rows.
    */
  def kmeans(s: SparkSession, d: String): DataFrame = {
    val quant = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000" +
        " + 0.5) AS BIGINT))")
    val q = Tables.embeddings(s, d).select(col("vec_id"), quant.as("q"))

    // assignment runs through the native [[LatticeArgMin]] expression: one
    // fused k×dim loop in WholeStageCodegen, with the centroid matrix as a
    // complex-type literal (lands in codegen REFERENCES, so every round
    // reuses the same compiled method). The built-in alternatives measured
    // badly at k=8, dim=64: a statically unrolled k·dim-term tree is ~3000
    // nodes (past JIT limits, ~350µs/row interpreted) and scalar centroid
    // literals additionally forced a fresh janino compile per round.
    def assign(centroids: Seq[(Long, Array[Long])]): DataFrame = {
      import org.apache.spark.sql.graft.ColumnBridge
      val mat  = typedLit(centroids.map(_._2.toSeq))
      val cids = typedLit(centroids.map(_._1))
      val am = ColumnBridge.column(graft.functions.LatticeArgMin(
        ColumnBridge.expression(col("q")),
        ColumnBridge.expression(mat),
        ColumnBridge.expression(cids)))
      q.select(col("vec_id"), col("q"), am.as("a"))
        .select(col("vec_id"), col("q"),
          col("a.cid").as("cluster_id"), col("a.dist").as("dist"))
    }

    var centroids: Seq[(Long, Array[Long])] =
      q.orderBy(col("vec_id")).limit(KmeansK).collect().zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) }
    var assigned: DataFrame = null
    for (t <- 1 to KmeansIters) {
      assigned = assign(centroids)
      if (t < KmeansIters) {
        val aggs = count(lit(1)).as("n") +:
          (1 to Dim).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
        centroids = assigned.groupBy(col("cluster_id"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val n = r.getLong(1)
            (r.getLong(0), (1 to Dim).map(i => r.getLong(1 + i) / n).toArray)
          }.sortBy(_._1).toSeq
      }
    }
    assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("dist_sum"))
      .orderBy(col("cluster_id"))
  }

  val kmeansSql: String = {
    def distCte(aname: String, cname: String, dname: String): String =
      s"""$dname AS (
         |  SELECT vec_id, q, cid,
         |         list_sum(list_transform(list_zip(q, c),
         |           p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
         |  FROM q CROSS JOIN $cname),
         |$aname AS (
         |  SELECT vec_id, q, cid, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cid) AS rn FROM $dname)
         |  WHERE rn = 1)""".stripMargin
    def updateCte(aname: String, cname: String): String =
      s"""$cname AS (
         |  SELECT cid, list(comp ORDER BY i) AS c FROM (
         |    SELECT cid, i, CAST(SUM(q[i]) // COUNT(*) AS BIGINT) AS comp
         |    FROM $aname, range(1, ${Dim + 1}) t(i)
         |    GROUP BY cid, i)
         |  GROUP BY cid)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)
       |             AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |           AS cid, q AS c
       |  FROM q ORDER BY vec_id LIMIT $KmeansK),
       |${distCte("a1", "c0", "d1")},
       |${updateCte("a1", "c1")},
       |${distCte("a2", "c1", "d2")},
       |${updateCte("a2", "c2")},
       |${distCte("a3", "c2", "d3")}
       |SELECT cid AS cluster_id, COUNT(*) AS n_vecs,
       |       CAST(SUM(dist) AS BIGINT) AS dist_sum
       |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin
  }
}
