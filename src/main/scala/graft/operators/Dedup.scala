package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PolyCharHash.{polyHash, polyHashSql, PA}

/** Document deduplication for LLM training-data pipelines, over the
  * `documents` table: exact (hash groupBy), n-gram Jaccard (inverted-index
  * candidate join), MinHash+LSH (band bucketing), and SimHash (bit-sampled
  * hamming buckets). The testdata plants near-duplicate pairs (docs sharing
  * ~99% of shingles, tagged with a rare `dup` token), so these queries
  * return real clusters.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup: one shuffle on a 128-bit content hash — optimal.
  *  - n-gram Jaccard: inverted index (explode doc×shingle, self-join per
  *    shingle). Exact; the join runs on 64-bit shingle hashes (not strings)
  *    and a size-ratio prefilter (J ≥ θ ⇒ θ·|B| ≤ |A| ≤ |B|/θ) prunes
  *    candidates before the pair aggregation. Per-shingle buckets are small
  *    here (uniform vocabulary); at extreme skew you cap bucket size and
  *    fall back to MinHash — which is the next operator.
  *  - MinHash/LSH: signatures via ONE explode + 64 min-aggregates (flat
  *    codegen'd hash aggregation — measured ~3× faster than per-row array
  *    folds); only band keys shuffle afterward. Candidate volume is
  *    controlled by band shape (r=4, b=16 ⇒ P(collide)≈1-(1-J⁴)¹⁶), then
  *    candidates are verified exactly.
  *  - SimHash: 64-bit signature via explode + 64 conditional sums; hamming
  *    ≤ k retrieval via 16-bit band exact-match buckets (pigeonhole:
  *    hamming ≤ 3 ⇒ ≥ 1 of 4 bands equal).
  */
object Dedup {

  // ---------- shared shingling ----------

  /** Distinct word-3-shingles from an ALREADY-MATERIALIZED token array
    * column. Higher-order array functions are CodegenFallback (interpreted),
    * and the interpreted path has no common-subexpression elimination — if
    * `toks` were the split() expression itself, it would be re-evaluated on
    * every element_at reference (~270 splits per document, measured 4.4s of
    * pure re-splitting at sf0.1). Callers must bind `toks` as its own
    * projection first; CollapseProject keeps a non-cheap alias referenced
    * this often un-inlined.
    */
  def shinglesOfTokens(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  def shingles(text: Column): Column = shinglesOfTokens(split(text, " "))

  private def shingledOf(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id")) // tiny-file guard: no 1-core shingling
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), shinglesOfTokens(col("toks")).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))

  /** Capped STRING-shingle sets: [[shingledOf]] minus the corpus-wide hot
    * shingles (document frequency > cap). THE single cap definition —
    * [[cappedShingleIndex]] (ngram pair join) derives from it by
    * explode + hash, and the MinHash signatures + LSH exact verification
    * consume its whole arrays directly — so every dedup family and both
    * DuckDB oracles see the SAME capped universe: without this, a corpus
    * where the cap engages would make `q_dedup_minhash` disagree with
    * both `q_dedup_ngram` and its own registered oracle.
    */
  private def cappedShingledOf(docs: DataFrame, cap: Int): DataFrame = {
    val sh = shingledOf(docs)
    val hot = sh.select(explode_outer(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap && col("s").isNotNull)
      .agg(collect_list(col("s")).as("hot"))
    sh.crossJoin(broadcast(hot))
      .select(col("doc_id"), array_except(col("sh"), col("hot")).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
  }

  val JaccardThreshold = 0.8

  /** Posting lists (docs per shingle hash) above this size are removed from
    * the shingle universe before the pair join: a bucket of size m emits
    * m²/2 pair rows, so one corpus-wide stop-shingle ("in the of") would
    * otherwise go quadratic on a real corpus. Frequent shingles carry no
    * dedup signal — a genuinely near-duplicate pair shares plenty of rare
    * shingles — so dropping them (the standard stop-gram removal of
    * production dedup pipelines) redefines the Jaccard consistently over
    * the informative-shingle universe: BOTH the intersection count and the
    * per-doc set sizes exclude hot shingles, so the ratio stays unbiased
    * (capping only the numerator would systematically underestimate J).
    * 1024 bounds any bucket to ≤ ~0.5M pair rows while sitting 40× above
    * the densest shingle in the testdata (df 25 at sf0.1), so the cap
    * never engages there — asserted by DedupSpec.
    */
  val MaxPostingList = 1024

  /** The capped inverted index: [[cappedShingledOf]]'s capped string sets
    * exploded and 64-bit-hashed, so the pair self-join moves longs, not
    * 3-word strings. Deriving from the ONE cap definition (instead of a
    * parallel hash-domain copy, as an earlier version did) makes the
    * capped universe identical across the ngram and minhash families BY
    * CONSTRUCTION: a hash-domain df count could merge two distinct
    * shingles' posting lists on an xxhash64 collision and push the
    * combined df over the cap on one side only. Hashing happens AFTER
    * capping — fewer elements — and empty capped arrays surface as
    * null-h rows (explode_outer + null-preserving hash) which can never
    * satisfy the downstream equi-join.
    */
  private[graft] def cappedShingleIndex(docs: DataFrame, cap: Int): DataFrame =
    cappedShingledOf(docs, cap)
      .select(col("doc_id"), col("n_sh"), explode_outer(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"),
        when(col("s").isNotNull, xxhash64(col("s"))).as("h"))

  // ---------- exact dedup ----------

  /** Exact dedup: group by md5 content hash, keep min doc_id (deterministic
    * keeper), count members. One shuffle on the hash.
    */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  val exactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
      |       COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  // ---------- n-gram Jaccard (exact, inverted-index join) ----------

  /** Near-dup pairs by exact 3-gram Jaccard ≥ 0.8: candidates come from the
    * (capped) inverted index — docs pair only through a shared shingle,
    * with the size-ratio prefilter inside the join condition. This is the
    * pair set WITHOUT the presentation sort, shared by the oracle-facing
    * query (which sorts) and clustering (which doesn't care, and shouldn't
    * pay a global sort for input it immediately re-shuffles).
    */
  private[operators] def ngramPairs(s: SparkSession, d: String): DataFrame =
    ngramPairsOf(Tables.documents(s, d), MaxPostingList)

  /** The ONE pair-join tail shared by the full self-join (ngram pairs) and
    * the asymmetric incremental join: equi-join two shingle indexes on the
    * hash under `extraPred` plus the size-ratio prefilter (J ≥ θ requires
    * min(n1,n2) ≥ θ·max(n1,n2)), count common shingles per pair, compute
    * the Jaccard, filter at the threshold. Factored so the prefilter /
    * denominator / threshold can never silently diverge between the two
    * reports DedupSpec pins against each other. Empty-array docs surface
    * as null-h rows (explode_outer upstream), which can never satisfy the
    * equi-join — so every joined pair has common ≥ 1 and the jaccard
    * denominator ≥ max(n1, n2) ≥ 1: no ANSI 0/0.
    */
  private def pairJoinTail(left: DataFrame, right: DataFrame,
      extraPred: Column): DataFrame =
    jaccardTail(left.as("a").join(right.as("b"),
        col("a.h") === col("b.h") && extraPred &&
          col("a.n_sh") * lit(JaccardThreshold) <= col("b.n_sh") &&
          col("b.n_sh") * lit(JaccardThreshold) <= col("a.n_sh"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n_sh").as("n1"), col("b.n_sh").as("n2")))

  /** The ONE Jaccard tail over candidate rows `(d1, d2, n1, n2)` — count
    * common shingles per pair, compute the Jaccard, filter at the
    * threshold. Shared by the asymmetric incremental join and the
    * posting-list pair generation so denominator and threshold can never
    * silently diverge between the reports DedupSpec pins against each
    * other.
    */
  private def jaccardTail(candidates: DataFrame): DataFrame =
    candidates
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("d1"), col("d2"), col("jaccard"))

  private[graft] def ngramPairsOf(docs: DataFrame, cap: Int): DataFrame = {
    // r17 optimization (guide §1.2/§2.4): ONE exchange on the shingle
    // hash builds per-shingle POSTING LISTS and pairs are generated
    // in-row from each sorted list (two chained codegen'd generators),
    // replacing the index self-join on h — which shuffled and sorted
    // BOTH arms of the full index including the (majority) df = 1
    // shingles that can never produce a pair; those now die in the
    // size(ds) >= 2 filter without ever reaching a join. Pair volume,
    // the size-ratio prefilter, and the Jaccard tail are unchanged; the
    // d1 < d2 orientation comes from the doc_id-sorted list (the strict
    // != guard covers the pathological same-doc double entry an
    // xxhash64 collision inside one document would create, which the
    // old a.doc_id < b.doc_id condition also excluded).
    val index = cappedShingleIndex(docs, cap)
    val postings = index
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("ds"))
      .filter(col("h").isNotNull && size(col("ds")) >= 2)
    Relational.suffixPairs(postings, "ds", "a", "b")
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        col("a.n_sh") * lit(JaccardThreshold) <= col("b.n_sh") &&
        col("b.n_sh") * lit(JaccardThreshold) <= col("a.n_sh"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n_sh").as("n1"), col("b.n_sh").as("n2"))
      .transform(jaccardTail)
  }

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramPairs(s, d).orderBy(col("d1"), col("d2"))

  /** Quadratic reference formulation — fine at oracle scale (500 docs),
    * which is exactly why the Spark side above uses the inverted index
    * instead: the oracle states WHAT, the engine shows HOW at scale.
    * The unsorted form is shared by every SQL consumer that embeds the
    * pair set in a CTE (clusters, corpus build).
    */
  /** Shared DuckDB shingling CTE body (`s(doc_id, sh)`) — ONE definition
    * for every oracle that shingles (pair join + minhash signatures), so a
    * semantics fix cannot desynchronize them.
    */
  private[operators] val shingleCteSql: String =
    """SELECT doc_id,
      |         list_distinct(list_transform(
      |           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |           i -> string_split(text, ' ')[i] || ' ' ||
      |                string_split(text, ' ')[i+1] || ' ' ||
      |                string_split(text, ' ')[i+2])) AS sh
      |  FROM documents""".stripMargin

  /** CAPPED DuckDB shingle CTE chain ending in `s(doc_id, sh)`: shingles
    * appearing in more than [[MaxPostingList]] documents are removed from
    * every document's set (df computed over per-doc-distinct shingles,
    * exactly like `cappedShingleIndex` / [[cappedShingledOf]]). ONE
    * definition shared by the pair oracle AND the minhash-signature oracle,
    * mirroring the one [[cappedShingledOf]] feeding their Spark twins. Docs
    * whose every shingle is hot (or that have no shingles) produce no `s`
    * row — matching the engine, where an empty capped array yields no
    * exploded shingle rows.
    */
  private[operators] val cappedShingleCteSql: String =
    s"""s0 AS (
       |  $shingleCteSql),
       |gd AS (SELECT doc_id, unnest(sh) AS g FROM s0),
       |hot AS (SELECT g FROM gd GROUP BY g
       |        HAVING COUNT(*) > $MaxPostingList),
       |s AS (SELECT doc_id, list(g ORDER BY g) AS sh FROM gd
       |      WHERE g NOT IN (SELECT g FROM hot) GROUP BY doc_id)""".stripMargin

  /** The pair oracle sees the SAME capped shingle universe as the engine.
    * On the testdata the hot set is empty (max df ≈ 25), so the oracle is
    * also byte-equal to the uncapped closure there — but on any corpus
    * where the cap engages, parity checks the shipped capped semantics
    * directly instead of vacuously passing.
    */
  private[operators] val ngramPairsSql: String =
    s"""WITH $cappedShingleCteSql
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
       |FROM s a, s b
       |WHERE a.doc_id < b.doc_id
       |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      >= $JaccardThreshold""".stripMargin

  val ngramJaccardSql: String =
    ngramPairsSql + "\nORDER BY d1, d2"

  // ---------- benchmark decontamination ----------

  /** Deterministic eval holdout for [[decontaminate]]: documents with
    * doc_id ≡ 0 (mod EvalMod) play the role of the benchmark/eval set the
    * training corpus must not overlap.
    */
  val EvalMod = 10L

  /** Train-vs-eval decontamination: every (train doc, eval doc) pair whose
    * 3-shingle Jaccard reaches the near-dup threshold — the contamination
    * report a pretraining pipeline runs against its benchmark suites before
    * training (the train side of each pair is what gets dropped). Reuses
    * the capped inverted-index pair machinery wholesale: candidates only
    * meet through a shared informative shingle, so the cross-corpus check
    * costs the same one bucketed join the within-corpus dedup pays — no
    * train × eval cross product at any scale. Pairs internal to one side
    * (train-train, eval-eval) are near-dups but not contamination, and are
    * filtered before the report.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val e1 = pmod(col("d1"), lit(EvalMod)) === 0
    val e2 = pmod(col("d2"), lit(EvalMod)) === 0
    ngramPairs(s, d)
      .filter(e1 =!= e2)
      .select(
        when(e1, col("d2")).otherwise(col("d1")).as("train_id"),
        when(e1, col("d1")).otherwise(col("d2")).as("eval_id"),
        col("jaccard"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  val decontaminateSql: String =
    s"""WITH pairs AS ($ngramPairsSql)
       |SELECT CASE WHEN d1 % $EvalMod = 0 THEN d2 ELSE d1 END AS train_id,
       |       CASE WHEN d1 % $EvalMod = 0 THEN d1 ELSE d2 END AS eval_id,
       |       jaccard
       |FROM pairs
       |WHERE (d1 % $EvalMod = 0) <> (d2 % $EvalMod = 0)
       |ORDER BY train_id, eval_id""".stripMargin

  // ---------- 13-gram collision decontamination ----------

  /** Window for [[ngramCollision]] — 13 tokens, the published
    * train-test-overlap convention (GPT-3's 13-gram collision filter;
    * PaLM and successors use the same order of magnitude).
    */
  val CollisionN = 13

  /** Exact 13-gram collision decontamination — the threshold-free
    * published method beside the 3-shingle-Jaccard [[decontaminate]]: a
    * train document is contaminated the moment ANY of its distinct
    * 13-token windows appears verbatim anywhere in the eval suite.
    * Per-train-doc report: distinct 13-gram count, colliding count, and
    * the flag.
    *
    * Scale shape: the eval side reduces to its DISTINCT gram set
    * (eval-suite-sized — MBs, not the corpus); the train side streams
    * one exploded pass through a single equi-join against it (AQE
    * broadcasts when it fits). The join keys on the gram STRING, which
    * makes the collision genuinely exact and the oracle trivial; a
    * 100 TB run swaps the key for a 128-bit hash (two xxhash64 lanes)
    * to keep the shuffle narrow, accepting ~2⁻¹²⁸ false-collision odds —
    * the string form here is the semantics anchor that variant must
    * reproduce. Docs shorter than 13 tokens have no windows and drop
    * from the report, mirroring the shingle-less convention of the
    * Bloom report.
    */
  def ngramCollision(s: SparkSession, d: String): DataFrame =
    ngramCollisionOf(Tables.documents(s, d))

  private[graft] def ngramCollisionOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = CollisionN
    // Window construction, NOT a higher-order array function: a
    // transform(sequence…)-per-window formulation runs interpreted
    // (HOFs are CodegenFallback) AND CollapseProject re-inlines the
    // split() into every element reference — measured 25+ s at sf0.1
    // for this exact query, ~60× the cost below. Instead the tokens are
    // exploded ONCE (a generator evaluates split once per input row)
    // and each 13-token window is assembled by 12 codegen'd lead()
    // calls sharing one (doc_id, pos) window — one pass, one shuffle,
    // whole-stage codegen end to end. The tail filter (last lead
    // non-null) drops the <13-token windows, and the per-doc DISTINCT
    // matches the array_distinct semantics of the shingle family.
    val toks = Tables.spread(docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("tok"), j).over(w).as(s"t$j"))
    val g = toks
      .select(Seq(col("doc_id"), col("tok").as("t0")) ++ leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(j => col(s"t$j")): _*).as("g"))
      .distinct()
    val isEval = pmod(col("doc_id"), lit(EvalMod)) === 0
    val evalGrams = g.filter(isEval).select(col("g")).distinct()
      .withColumn("hit", lit(1L))
    g.filter(!isEval)
      .join(evalGrams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id").as("train_id"), col("n_grams"), col("n_hit"),
        (col("n_hit") > 0L).as("flagged"))
      .orderBy(col("train_id"))
  }

  val ngramCollisionSql: String = {
    val parts = (0 until CollisionN).map(j => s"t[i+$j]").mkString(", ")
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), g0 AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) >= $CollisionN THEN
       |           list_distinct(list_transform(
       |             range(1, len(t) - ${CollisionN - 2}),
       |             i -> concat_ws(' ', $parts)))
       |         ELSE CAST([] AS VARCHAR[]) END AS grams
       |  FROM t0
       |), g AS (
       |  SELECT doc_id, unnest(grams) AS g FROM g0
       |), ev AS (
       |  SELECT DISTINCT g FROM g WHERE doc_id % $EvalMod = 0
       |), tr AS (
       |  SELECT g.doc_id, CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM g LEFT JOIN ev ON g.g = ev.g
       |  WHERE g.doc_id % $EvalMod <> 0
       |)
       |SELECT doc_id AS train_id, COUNT(*) AS n_grams,
       |       CAST(SUM(hit) AS BIGINT) AS n_hit,
       |       SUM(hit) > 0 AS flagged
       |FROM tr GROUP BY doc_id ORDER BY train_id""".stripMargin
  }

  // ---------- Bloom-filter decontamination ----------

  /** Bloom bitset geometry for [[bloomDecontaminate]]: [[BloomBits]] bits
    * stored as 32-bit words in a (word, bits) table of at most
    * BloomBits/32 = 8192 rows (~64 KB) — 31-bit word values keep every
    * shifted mask positive in both engines' signed-64 arithmetic.
    */
  val BloomBits   = 1 << 18
  val BloomHashes = 3

  /** Probe position i of a 31-bit portable base hash: an affine map mod P
    * folded onto the bitset — the same double-mod spelling the DuckDB
    * oracle writes, so the filter contents are bit-identical across
    * engines.
    */
  private def bloomPos(h0: Column, i: Int): Column =
    pmod(pmod(h0 * lit(2L * i + 3L) + lit(7919L * i + 1L), lit(P)),
      lit(BloomBits.toLong))

  private def bloomMask(pos: Column): Column =
    call_function("shiftleft", lit(1L), pmod(pos, lit(32L)).cast("int"))

  /** Bloom-prefilter decontamination: the scale-path complement of the
    * exact pair-join [[decontaminate]]. The EVAL side's shingle hashes are
    * folded into one compact Bloom bitset (a (word, bits) table, built
    * with a bit_or aggregate — size fixed by [[BloomBits]], independent of
    * eval-set cardinality); every TRAIN document then probes its shingles
    * against the broadcast bitset and reports how many are (probably)
    * present. Per-doc output: shingle count, bloom-hit count, hit
    * fraction, and a flag at containment ≥ [[JaccardThreshold]].
    *
    * Scale shape: NO train×eval candidate pairs exist anywhere in the
    * plan — the three probe lookups are broadcast hash joins against the
    * ≤8192-row bitset table, and the only shuffle is the final per-doc
    * aggregation (one row per surviving shingle). At 100 TB the train
    * side stays a single narrow pass; the bitset grows with the EVAL
    * suite only (m sized at ~10 bits/shingle keeps FP ≈ (1-e^(-kn/m))^k
    * below 1%), and eval suites are MBs, not TBs. Bloom filters have no
    * false negatives, so the flagged set is a SUPERSET of the exact
    * pair-join report's train side (containment ≥ Jaccard ≥ θ) — pinned
    * in DedupSpec; the exact join then runs only on the flagged sliver.
    *
    * The probes reuse the minhash family's portable polynomial base hash
    * over the SAME capped shingle universe, so the DuckDB oracle rebuilds
    * the identical bitset and the whole report is hash-checked — FP
    * positions and all.
    */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame =
    bloomDecontaminateOf(Tables.documents(s, d), MaxPostingList)

  private[graft] def bloomDecontaminateOf(docs: DataFrame, cap: Int): DataFrame = {
    val idx = portableShingleIndexOf(cappedShingledOf(docs, cap))
    val isEval = pmod(col("doc_id"), lit(EvalMod)) === 0
    bloomProbeIndex(idx.filter(!isEval), bloomBitsetFromIndex(idx.filter(isEval)))
      .orderBy(col("train_id"))
  }

  /** Uncapped portable shingle index `(doc_id, n_sh, h0)` — one row per
    * (doc, shingle hash), NO hot-shingle removal. This is the universe an
    * ONLINE gate works in: corpus-wide document frequency is unknowable at
    * ingest time, and the Bloom probe's cost is linear in shingles (not
    * quadratic like the pair joins the cap exists for), so the streaming
    * decontamination gate probes every shingle. Docs with < 3 tokens have
    * no shingles and produce no rows (same convention as the capped
    * index).
    */
  private[graft] def uncappedShingleIndexOf(docs: DataFrame): DataFrame =
    portableShingleIndexOf(shingledOf(docs))

  /** `(word, bits)` Bloom bitset folded from every shingle hash of a
    * portable-shingle-index frame — ≤ BloomBits/32 = 8192 rows however
    * large the input, built with one bit_or aggregate.
    */
  private[graft] def bloomBitsetFromIndex(idx: DataFrame): DataFrame =
    idx.select(explode(array((0 until BloomHashes).map(i =>
        bloomPos(col("h0"), i)): _*)).as("pos"))
      .select(expr("pos div 32").as("word"), bloomMask(col("pos")).as("m"))
      .groupBy(col("word")).agg(bit_or(col("m")).as("bits"))

  /** Per-doc Bloom probe report of an index frame against a `(word,
    * bits)` bitset: (train_id, n_sh, n_hit, hit_frac, flagged). Unsorted —
    * callers append their own presentation order.
    */
  private[graft] def bloomProbeIndex(probeIdx: DataFrame,
      bloom: DataFrame): DataFrame = {
    // one row per (train doc, shingle); the k probes ride along as columns
    // so shingle-present is a row-local conjunction after k broadcast
    // lookups — no per-probe explosion, no per-shingle re-aggregation
    val probes = probeIdx
      .select(Seq(col("doc_id"), col("n_sh")) ++
        (0 until BloomHashes).map(i => bloomPos(col("h0"), i).as(s"p$i")): _*)
    // subquery aliases, NOT per-join column renames: the three probe
    // lookups hit canonically-identical bloom subtrees, so AQE's runtime
    // stage reuse can build and broadcast the bitset once — a rename
    // changes each subtree's output schema and pins three independent
    // builds unconditionally. (Cost either way is bounded by the EVAL
    // side, ~1/EvalMod of the corpus; the train-side shingle hashing
    // dominates this query.)
    val joined = (0 until BloomHashes).foldLeft(probes) { (df, i) =>
      df.join(broadcast(bloom.as(s"b$i")),
        expr(s"p$i div 32") === col(s"b$i.word"), "left")
    }
    val shinglePresent = (0 until BloomHashes).map { i =>
      col(s"b$i.bits").isNotNull &&
        (col(s"b$i.bits").bitwiseAND(bloomMask(col(s"p$i"))) =!= 0L)
    }.reduce(_ && _)
    joined.groupBy(col("doc_id"), col("n_sh"))
      .agg(sum(when(shinglePresent, 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id").as("train_id"), col("n_sh"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_sh").cast("double"))
          .as("hit_frac"),
        (col("n_hit").cast("double") >=
          col("n_sh").cast("double") * lit(JaccardThreshold)).as("flagged"))
  }

  /** Cap-free batch twin of [[bloomDecontaminateOf]] over the SAME
    * machinery — the reference computation the streaming gate's
    * accumulated report is spec-pinned against (the gate cannot apply a
    * corpus-df cap online, so its batch reference must not either).
    */
  private[graft] def bloomDecontaminateUncapped(docs: DataFrame): DataFrame = {
    val idx = uncappedShingleIndexOf(docs)
    val isEval = pmod(col("doc_id"), lit(EvalMod)) === 0
    bloomProbeIndex(idx.filter(!isEval), bloomBitsetFromIndex(idx.filter(isEval)))
      .orderBy(col("train_id"))
  }

  /** Oracle: the identical bitset built and probed in DuckDB — capped
    * shingling, polynomial base hash, affine probe positions, bit_or
    * word construction, and the three left-join lookups.
    */
  // lazy: interpolates [[P]], declared below in the MinHash section —
  // an eager val here would capture the uninitialized 0
  lazy val bloomDecontaminateSql: String = {
    val polyFold =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, length(shingle) + 1),
         |           i -> CAST(ascii(substr(shingle, i, 1)) AS BIGINT))),
         |         (acc, x) -> (acc * 31 + x) % $P)""".stripMargin
    val posExprs = (0 until BloomHashes).map(i =>
      s"((h0 * ${2 * i + 3} + ${7919 * i + 1}) % $P) % $BloomBits AS p$i")
      .mkString(",\n         ")
    val posList = (0 until BloomHashes).map(i => s"p$i")
      .mkString("list_value(", ", ", ")")
    val lookups = (0 until BloomHashes).map(i =>
      s"LEFT JOIN bloom b$i ON hp.p$i // 32 = b$i.word").mkString("\n      ")
    val present = (0 until BloomHashes).map(i =>
      s"b$i.bits IS NOT NULL AND " +
        s"(b$i.bits & (CAST(1 AS BIGINT) << CAST(hp.p$i % 32 AS INT))) <> 0")
      .mkString("\n              AND ")
    s"""WITH $cappedShingleCteSql,
       |e AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
       |             unnest(sh) AS shingle FROM s),
       |h AS (SELECT doc_id, n_sh, $polyFold AS h0 FROM e),
       |hp AS (SELECT doc_id, n_sh,
       |         $posExprs
       |       FROM h),
       |bloom AS (
       |  SELECT pos // 32 AS word,
       |         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
       |  FROM (SELECT unnest($posList) AS pos FROM hp
       |        WHERE doc_id % $EvalMod = 0)
       |  GROUP BY 1),
       |t AS (SELECT hp.doc_id, hp.n_sh,
       |        CASE WHEN $present
       |             THEN 1 ELSE 0 END AS sh_hit
       |      FROM hp
       |      $lookups
       |      WHERE hp.doc_id % $EvalMod <> 0)
       |SELECT doc_id AS train_id, n_sh, CAST(SUM(sh_hit) AS BIGINT) AS n_hit,
       |       CAST(SUM(sh_hit) AS DOUBLE) / CAST(n_sh AS DOUBLE) AS hit_frac,
       |       (CAST(SUM(sh_hit) AS DOUBLE) >=
       |          CAST(n_sh AS DOUBLE) * $JaccardThreshold) AS flagged
       |FROM t GROUP BY doc_id, n_sh ORDER BY train_id""".stripMargin
  }

  // ---------- incremental (batch-vs-corpus) near-dup ----------

  /** Deterministic "incoming batch" slice for [[dedupIncremental]]:
    * doc_id ≡ [[IncomingMod]]−1 (mod [[IncomingMod]]) plays the nightly
    * ingest arriving against the standing corpus (distinct from
    * [[EvalMod]]'s holdout so the two reports exercise different slices).
    */
  val IncomingMod = 5L

  /** Incremental near-dup: every incoming document matched against the
    * FULL corpus (standing + the rest of its own batch) at 3-gram
    * Jaccard ≥ [[JaccardThreshold]] — the ingest-time variant of
    * [[ngramJaccard]]. The asymmetric join is the scale point: the build
    * side is the INCOMING slice's inverted index only, so candidate
    * volume is Σ_shingle (batch-df × corpus-df), proportional to the
    * batch — corpus×corpus pairs are never enumerated, unlike a full
    * self-join filtered after the fact. At 100 TB standing corpus and a
    * GB-scale nightly batch, the batch index broadcasts (AQE decides)
    * and the standing index streams through unshuffled; re-running the
    * corpus-wide dedup per ingest would be quadratic in corpus instead.
    * A new-new pair reports once (lower id as new_id); a new-old pair
    * reports under its incoming side with `matched_is_new = false`.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame =
    dedupIncrementalOf(Tables.documents(s, d), MaxPostingList)

  private[graft] def dedupIncrementalOf(docs: DataFrame, cap: Int): DataFrame = {
    def isNewId(c: Column): Column =
      pmod(c, lit(IncomingMod)) === lit(IncomingMod - 1L)
    val index = cappedShingleIndex(docs, cap)
    val newIdx = index.filter(isNewId(col("doc_id")))
    pairJoinTail(newIdx, index,
        !isNewId(col("b.doc_id")) || col("a.doc_id") < col("b.doc_id"))
      .select(col("d1").as("new_id"), col("d2").as("matched_id"),
        col("jaccard"), isNewId(col("d2")).as("matched_is_new"))
      .orderBy(col("new_id"), col("matched_id"))
  }

  /** Oracle: quadratic form over the same capped sets, restricted to pairs
    * with an incoming side (common ≥ 1 is implied by J ≥ θ, so candidacy
    * through a shared shingle loses nothing — the ngram-pair argument).
    */
  val dedupIncrementalSql: String = {
    val jac =
      """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)""".stripMargin
    s"""WITH $cappedShingleCteSql
       |SELECT a.doc_id AS new_id, b.doc_id AS matched_id,
       |       $jac AS jaccard,
       |       (b.doc_id % $IncomingMod = ${IncomingMod - 1}) AS matched_is_new
       |FROM s a, s b
       |WHERE a.doc_id % $IncomingMod = ${IncomingMod - 1}
       |  AND (b.doc_id % $IncomingMod <> ${IncomingMod - 1}
       |       OR a.doc_id < b.doc_id)
       |  AND $jac >= $JaccardThreshold
       |ORDER BY new_id, matched_id""".stripMargin
  }

  /** Segment width for [[chunkDedup]]: non-overlapping [[SegTokens]]-token
    * windows (stride = width), so a kept document reconstructs by plain
    * concatenation — the C4/RefinedWeb span-dedup unit.
    */
  val SegTokens = 32

  /** Cross-document span dedup, C4-style: cut every document into
    * non-overlapping [[SegTokens]]-token segments, keep only the FIRST
    * occurrence of each distinct segment text corpus-wide (first = lowest
    * (doc_id, chunk_idx) — deterministic and idempotent), and reconstruct
    * each document from its surviving segments. Documents whose every
    * segment already appeared elsewhere come back with NULL text — the
    * fully-boilerplate case a downstream quality gate drops. Shape at
    * scale: the segment generator is narrow ([[TextAnalysis.chunkOf]]);
    * the keep-first decision is ONE window shuffle partitioned by the
    * 128-bit MD5 of the segment — the shuffle key is a fixed 32-byte
    * digest, never the raw text, so shuffle width per row is constant no
    * matter how wide segments get (at petabyte scale the text column is
    * the dominant byte volume; it travels once as payload, not as the
    * sort/partition key). Keying by digest yields the identical keep-first
    * decision as keying by text (same distinct groups) — [[DedupSpec]]
    * pins the two plans row-for-row — so the text-keyed oracle checks the
    * same semantics; reconstruction is ONE per-document aggregation. No
    * stage holds more than a document's segments in memory.
    */
  def chunkDedup(s: SparkSession, d: String): DataFrame =
    chunkDedupKeyed(s, d, hashKey = true)

  /** [[chunkDedup]] with the window key selectable: digest-keyed (the
    * scale shape, the default) or raw-text-keyed (the reference shape).
    * Both produce identical output — the spec pins it — the flag exists
    * only so that equivalence is testable forever.
    */
  private[graft] def chunkDedupKeyed(
      s: SparkSession, d: String, hashKey: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = graft.functions.TextAnalysis
      .chunkOf(Tables.spread(Tables.documents(s, d), col("doc_id")),
        W = SegTokens, S = SegTokens)
    val key = if (hashKey) md5(col("chunk_text")) else col("chunk_text")
    val w = Window.partitionBy(key)
      .orderBy(col("doc_id"), col("chunk_idx"))
    segs
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_seg"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("keep"),
                struct(col("chunk_idx"), col("chunk_text"))))),
            x => x("chunk_text"))).as("__joined"))
      // NULL means "every segment already appeared elsewhere" — gate on
      // the kept COUNT, not (as an earlier version did) on the joined
      // text being empty: a document whose single kept segment IS the
      // empty string keeps '' here, matching the oracle's string_agg
      .withColumn("clean_text",
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(col("__joined")))
      .select(col("doc_id"), col("n_seg"), col("n_kept"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  val chunkDedupSql: String = {
    val segCtes = graft.functions.TextAnalysis
      .chunkCtesSql("documents", W = SegTokens, S = SegTokens)
      .replaceAll("(?s)\nSELECT.*$", "") // keep CTE chain, drop final select
    s"""WITH $segCtes,
       |     segs AS (
       |  SELECT doc_id, chunk_idx,
       |         array_to_string(
       |           toks[chunk_idx*$SegTokens+1 : chunk_idx*$SegTokens+$SegTokens],
       |           ' ') AS chunk_text,
       |         row_number() OVER (PARTITION BY array_to_string(
       |             toks[chunk_idx*$SegTokens+1 : chunk_idx*$SegTokens+$SegTokens],
       |             ' ') ORDER BY doc_id, chunk_idx) = 1 AS keep
       |  FROM c)
       |SELECT doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_seg,
       |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(CASE WHEN keep THEN chunk_text END, ' '
       |                  ORDER BY chunk_idx) AS clean_text
       |FROM segs GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val MaxClusterRounds = 20

  /** Dedup clusters: connected components over the near-dup pair graph
    * ([[labelComponents]]) — the step that turns pairs into "keep one per
    * cluster" decisions.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    labelComponents(ngramPairs(s, d).select(col("d1"), col("d2")))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Connected components over an oriented pair list `(d1, d2)` — the
    * shared engine behind [[dedupClusters]] and the embedding cluster
    * query: min-label propagation with a pointer hop per round, capped at
    * [[MaxClusterRounds]], with the alternating-star algorithm as the
    * fallback for components the cap cuts off. Returns `(node, cluster_id)`
    * with cluster_id = the component's minimum member, observed as
    * `labelComponents`: `rounds` and `converged` of the min-label loop, and
    * `fallback` = 1 when the star path produced the labels.
    */
  private[graft] def labelComponents(pairs: DataFrame): DataFrame = {
    // edges are REPARTITIONED on the per-round join key before caching:
    // every propagation round joins the (large) edge set against the
    // (small, changing) label set on `src`, so establishing the hash
    // partitioning once lets each round's join, when the labels are too
    // large to broadcast, reuse the cached layout instead of
    // re-exchanging the edges per
    // round (guide §2.4 — two operations keyed the same way share one
    // exchange; the init aggregate below rides the same partitioning).
    // both orientations come from ONE derivation of the pair subtree
    // (in-row explode), not a Union of two re-derivations — the pair
    // join is the most expensive stage feeding this function, and union
    // arms share no subtrees in the plan (AQE stage reuse inside a
    // cache materialization is not guaranteed)
    val edges = pairs.toDF("d1", "d2")
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .cache()
    // Labels initialize at the NEIGHBORHOOD MIN (min of self and all
    // direct neighbors), which is exactly the state identity-init reaches
    // after its first propagation round: one aggregate over the already
    // src-partitioned edges (no extra exchange) replaces a full round's
    // join + union + aggregate + checkpoint. Near-dup components are
    // cliques, so this init is already the fixpoint and the loop below
    // terminates after ONE confirming round instead of two.
    val init = edges.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("nmin")).as("label"))
      .localCheckpoint()
    // each doc's previous label rides along as `own` (exactly one labels
    // row per doc; propagated rows carry MaxValue so min() ignores them):
    // convergence = no doc improved
    val run = Fixpoint.iterate(init, MaxClusterRounds,
        Seq(count(when(col("label") < col("own"), 1)).as("improved"))) {
      (labels, _) =>
        val viaEdges = edges
          .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst").as("doc_id"), col("label"))
        val prop = labels.withColumn("own", col("label"))
          .unionByName(viaEdges.withColumn("own", lit(Long.MaxValue)))
          .groupBy(col("doc_id"))
          .agg(min(col("label")).as("label"), min(col("own")).as("own"))
        // pointer hop: a node takes its propagated label's own label from
        // the previous round (labels are member ids and only decrease, so
        // the stale-by-one lookup is safe). It halves the remaining distance
        // only where ids ascend along a chain (sorted 60-node path: 6
        // rounds); DedupSpec's path with ids 7·i mod 60 needs 35, and ids
        // descending away from the minimum one per hop. Embedding graph at
        // sf0.1: 16 rounds → 11.
        prop.as("p")
          .join(labels.select(col("doc_id").as("l_node"),
            col("label").as("l_label")),
            col("p.label") === col("l_node"), "left")
          .select(col("p.doc_id").as("doc_id"),
            least(col("p.label"), coalesce(col("l_label"), col("p.label")))
              .as("label"),
            col("p.own").as("own"))
    } { (_, _, m) => m("improved") == 0L }
    // an unconverged result is silently WRONG (labels short of the true
    // component minimum), so never return it: fall back to the
    // alternating-star algorithm, whose round count is logarithmic in
    // component size. The fallback reads the CACHED edge set
    // (connectedComponents tolerates the bidirectional form — it
    // re-orients and distincts on entry), not a re-derivation of the pair
    // join: re-running the most expensive stage exactly on the inputs
    // that trigger the fallback would double its cost. Both branches read
    // only checkpointed state, so the unpersist below never exposes a
    // lazy consumer to a cold recompute.
    val out =
      if (run.converged) run.state.select(col("doc_id").as("node"),
        col("label").as("cluster_id"))
      else connectedComponents(edges.select(col("src").as("u"), col("dst").as("v")))
        .select(col("node"), col("label").as("cluster_id"))
    edges.unpersist()
    run.report(out, "labelComponents",
      lit(if (run.converged) 0 else 1).as("fallback"))
  }

  /** Rounds cap for [[connectedComponents]] — a safety net, not a tuning
    * knob: alternating large-star/small-star contracts every component to
    * a star in O(log² n) rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14), so 50 covers graphs far beyond any
    * corpus (2^25-node components converge in well under 20).
    */
  val CcMaxRounds = 50

  /** Connected components over an undirected edge list (u, v) by
    * alternating large-star / small-star rounds — the diameter-independent
    * scale path behind [[labelComponents]]' min-label fast path.
    *
    * Each round is two bounded-fan-in distributed steps:
    *  - large-star: every node connects its strictly-larger neighbors to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    * Both only ever REPLACE an edge endpoint with a smaller one, so edge
    * count never grows, and the fixpoint is a star per component centered
    * on its minimum. Convergence is screened by a (rows, hash-sum)
    * signature observed on the same job that materializes each round's
    * checkpoint, then confirmed exactly.
    * Output: (node, label) with label = component minimum, observed as
    * `connectedComponents` (`rounds`, `converged`).
    */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame = {
    def swap(e: DataFrame) = e.select(col("v").as("u"), col("u").as("v"))
    def neighborhoodMin(bidir: DataFrame): DataFrame =
      bidir.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
    val init = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var prev = (-1L, -1L)
    // the hash-sum stays in pmod range so the ANSI sum cannot overflow
    val chk = sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L)))
    val run = Fixpoint.iterate(init, CcMaxRounds, Seq(chk.as("chk"))) {
      (edges, _) =>
        val bidir = edges.union(swap(edges))
        val large = bidir.join(neighborhoodMin(bidir), Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        // small-star runs on large-star's output, oriented u = max endpoint
        val dir = large.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        val smins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
        dir.join(smins, Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(smins.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct()
    } { (edges, next, m) =>
      val sig = (m("rows").asInstanceOf[Long],
        Option(m("chk")).map(_.asInstanceOf[Long]).getOrElse(0L))
      // the signature is only a cheap screen: candidate convergence is
      // confirmed EXACTLY (both sides are distinct sets with equal counts,
      // so next ⊆ edges ⇔ equality) — a hash-sum collision must not end
      // the loop on a non-fixpoint, which would return wrong labels. The
      // except job runs once, at convergence, over two checkpointed sets.
      val same = sig == prev && next.except(edges).isEmpty
      prev = sig
      same
    }
    if (!run.converged) throw new IllegalStateException(
      s"connectedComponents: no fixpoint in $CcMaxRounds rounds")
    // at the fixpoint each component is a star around its minimum, so one
    // neighborhood-min pass reads off every node's label
    val bidir = run.state.union(swap(run.state))
    run.report(neighborhoodMin(bidir)
      .select(col("u").as("node"), col("m").as("label")), "connectedComponents")
  }

  /** Oracle: transitive closure by recursive CTE over the same pair SQL. */
  val dedupClustersSql: String = {
    s"""WITH RECURSIVE pairs AS ($ngramPairsSql),
       |edges AS (SELECT d1 AS u, d2 AS v FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin
  }

  // ---------- MinHash + LSH ----------

  val NumHashes   = 64
  val Bands       = 16
  val RowsPerBand = NumHashes / Bands // 4
  private val P   = 2147483647L // 2^31 - 1, Mersenne prime
  private val BandBase = 1000003L

  /** Shingle base hash for MinHash: whole-string polynomial fold mod P via
    * the native [[graft.functions.PolyCharHash]] expression — the same
    * nested `(acc*31 + byte) % P` arithmetic DuckDB spells with
    * list_reduce, so the ENTIRE signature pipeline (base hash, 64 affine
    * permutations, band keys) is portable and the signature query gets a
    * full hash-checked oracle instead of a rows-only check (xxhash64, the
    * previous base hash, is not DuckDB-expressible). Built over the CAPPED
    * shingle universe ([[cappedShingledOf]]) so the whole minhash family
    * computes the same Jaccard as the ngram pair join it shares an oracle
    * with. Docs with no surviving shingles (< 3 tokens, or every shingle
    * hot) are dropped — no shingles means no signature — matching the
    * oracle's unnest semantics. `explode_outer` + isNotNull (rather than
    * plain `explode`) is deliberate: InferFiltersFromGenerate would turn a
    * generator over the computed array into an inferred size() filter that
    * re-derives the whole capped-array subtree a second time.
    */
  private def portableShingleIndexOf(capped: DataFrame): DataFrame =
    capped
      .select(col("doc_id"), col("n_sh"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"), col("n_sh"),
        polyHashFull(col("shingle"), 31L, P).as("h0"))

  /** Per-doc 64-lane MinHash signatures, computed as one explode over
    * distinct shingles followed by 64 static min-aggregates over affine
    * permutations of the 31-bit portable base hash (31-bit keeps every
    * product inside a signed 64-bit long under Spark 4's ANSI arithmetic).
    * Output: (doc_id, n_sh, sig array<long>).
    */
  private def signaturesOf(capped: DataFrame): DataFrame = {
    val idx = portableShingleIndexOf(capped)
    val mins = (0 until NumHashes).map { i =>
      min(pmod(col("h0") * lit(i * 2L + 1L) + lit(i * 40503L + 17L), lit(P)))
        .as(s"m$i")
    }
    idx.groupBy(col("doc_id"), col("n_sh"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), col("n_sh"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(cappedShingledOf(Tables.documents(s, d), MaxPostingList))

  /** The 16 LSH band keys of a signature: a polynomial combine of each
    * band's 4 lanes mod P, seeded with the band index — plain portable
    * arithmetic (lanes < 2³¹, BandBase ≈ 2²⁰, so every intermediate stays
    * < 2⁵² under ANSI).
    */
  def bandKeys(sig: Column): Column =
    array((0 until Bands).map { b =>
      (0 until RowsPerBand).foldLeft(lit(b.toLong): Column) { (acc, k) =>
        pmod(acc * lit(BandBase) + element_at(sig, b * RowsPerBand + k + 1),
          lit(P))
      }
    }: _*)

  /** Per-document signatures + band keys, fully oracle-checked (the lanes
    * and band keys are emitted as '|'-joined strings: the check harness
    * hashes sorted rows via pandas, which cannot sort raw array cells).
    */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signatures(s, d)
      .select(col("doc_id"), col("n_sh"),
        array_join(col("sig").cast("array<string>"), "|").as("sig_str"),
        array_join(bandKeys(col("sig")).cast("array<string>"), "|")
          .as("band_keys"))
      .orderBy(col("doc_id"))

  /** The DuckDB signature CTE chain `e, h, m` (capped shingles exploded,
    * polynomial base hash, 64 min-aggregated affine lanes as columns
    * `m0..m63` keyed by doc_id) — ONE definition shared by the signature
    * oracle and the estimation oracle, mirroring the one [[signaturesOf]]
    * both Spark twins consume.
    */
  private def signatureCtesSql: String = {
    val polyFold =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, length(shingle) + 1),
         |           i -> CAST(ascii(substr(shingle, i, 1)) AS BIGINT))),
         |         (acc, x) -> (acc * 31 + x) % $P)""".stripMargin
    val mins = (0 until NumHashes).map(i =>
      s"MIN((h0 * ${i * 2 + 1} + ${i * 40503 + 17}) % $P) AS m$i")
      .mkString(",\n         ")
    s"""e AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
       |             unnest(sh) AS shingle FROM s),
       |h AS (SELECT doc_id, n_sh, $polyFold AS h0 FROM e),
       |m AS (SELECT doc_id, n_sh,
       |         $mins
       |      FROM h GROUP BY doc_id, n_sh)""".stripMargin
  }

  /** Oracle: identical CAPPED shingling ([[cappedShingleCteSql]]), base-hash
    * fold, affine permutations, and band combines in DuckDB SQL — exact
    * integer arithmetic end to end.
    */
  val minhashSignaturesSql: String = {
    val sigList = (0 until NumHashes).map(i => s"m$i")
      .mkString("list_value(", ", ", ")")
    val bandList = (0 until Bands).map { b =>
      (0 until RowsPerBand).foldLeft(s"CAST($b AS BIGINT)") { (acc, k) =>
        s"(($acc) * $BandBase + m${b * RowsPerBand + k}) % $P"
      }
    }.mkString("list_value(", ", ", ")")
    s"""WITH $cappedShingleCteSql,
       |$signatureCtesSql
       |SELECT doc_id, n_sh,
       |       array_to_string($sigList, '|') AS sig_str,
       |       array_to_string($bandList, '|') AS band_keys
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Signature-based Jaccard ESTIMATION beside the exact value, on the
    * near-dup pair set: est = (matching lanes)/64, the unbiased MinHash
    * estimator (each lane matches with probability J under a random
    * permutation). This is the accuracy measurement for the trade a
    * petabyte deployment makes: past the scale where the exact
    * `array_intersect` verification can afford to ship full shingle
    * arrays to the pair join, you threshold on the estimate instead —
    * 64 longs per doc, constant size regardless of document length —
    * and this query reports exactly how much accuracy that costs
    * (σ = √(J(1−J)/64) ≈ 0.05 at J = 0.8). Every column is
    * hash-checked: the signatures are bit-identical across engines
    * (portable polynomial pipeline), so est, abs_err, and the 0.3
    * (≈6σ) sanity flag are all deterministic — no probabilistic gate.
    */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sig = signaturesOf(cappedShingledOf(docs, MaxPostingList))
      .select(col("doc_id"), col("sig"))
    val matches = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
    ngramPairsOf(docs, MaxPostingList)
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2")), Seq("d2"))
      .withColumn("est_jaccard",
        matches.cast("double") / lit(NumHashes.toDouble))
      .select(col("d1"), col("d2"), col("jaccard"), col("est_jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
      .withColumn("est_ok", col("abs_err") <= 0.3)
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle: the shared pair CTE joined against the shared signature CTE
    * chain, lane agreement summed as 64 CASE terms — everything exact.
    */
  lazy val minhashEstimateSql: String = {
    val agree = (0 until NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $cappedShingleCteSql,
       |$signatureCtesSql,
       |pairs AS ($ngramPairsSql)
       |SELECT p.d1, p.d2, p.jaccard,
       |       CAST($agree AS DOUBLE) / $NumHashes AS est_jaccard,
       |       ABS(CAST($agree AS DOUBLE) / $NumHashes - p.jaccard) AS abs_err,
       |       (ABS(CAST($agree AS DOUBLE) / $NumHashes - p.jaccard) <= 0.3)
       |         AS est_ok
       |FROM pairs p
       |JOIN m a ON a.doc_id = p.d1
       |JOIN m b ON b.doc_id = p.d2
       |ORDER BY d1, d2""".stripMargin
  }

  /** MinHash/LSH near-dup pairs: band-bucket candidates, then verify the
    * exact Jaccard on shingle sets. With r=4,b=16 a true pair at J=0.8 is
    * missed with probability (1-0.8⁴)^16 ≈ 2·10⁻⁴, and the planted dups sit
    * at J≈0.99 — so the verified output equals the exact ngramJaccard result
    * and shares its oracle.
    *
    * Hash-quality caveat: the miss bound assumes near-uniform permutations.
    * The base hash is a base-31 polynomial mod 2³¹−1 (chosen for DuckDB
    * portability, not avalanche), so lanes can correlate on families of
    * very similar shingles, inflating the miss rate above the formula —
    * and a missed candidate is a FALSE NEGATIVE the exact-Jaccard
    * verification cannot repair (it only removes false positives). The
    * testdata pins recall empirically (DedupSpec: LSH output == exact
    * inverted-index output); a deployment needing the formula's guarantee
    * verbatim should swap `polyHashFull` for xxhash64 here and accept a
    * rows-only oracle for the signature query.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshOf(Tables.documents(s, d), MaxPostingList)

  private[graft] def minhashLshOf(docs: DataFrame, cap: Int): DataFrame = {
    // ONE lazy capped frame feeds the signature derivation and both
    // verification rejoins; the embedded hot-shingle aggregation appears
    // multiple times in the STATIC plan but AQE stage reuse dedupes the
    // identical aggregate stages at runtime — an eager localCheckpoint
    // here was measured SLOWER (2.2 vs 1.8 s steady-state at sf0.1): the
    // array materialization costs more than the recompute it saves
    val capped = cappedShingledOf(docs, cap)
    val sig = signaturesOf(capped)
    val banded = sig.select(col("doc_id"), posexplode_outer(bandKeys(col("sig"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // exact verification over the SAME capped sets the signatures hashed —
    // signature recall and verified Jaccard agree with ngramPairs (and the
    // shared oracle) even on a corpus where the cap engages
    val sets = capped
    cand
      .join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1"),
        col("n_sh").as("n1")), Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2"),
        col("n_sh").as("n2")), Seq("d2"))
      .withColumn("common",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      // common > 0 is implied by J ≥ θ for real pairs; no-shingle docs can
      // no longer be candidates at all (portableShingleIndex filters them,
      // so they have no signature rows), but the guard stays as the
      // structural left arm of the conjunction: it short-circuits before
      // the division, so NO candidate shape — present or future — can
      // reach a 0/0 under ANSI
      .filter(col("common") > 0 && col("jaccard") >= JaccardThreshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  // ---------- SimHash ----------

  val SimLanes     = 60
  val SimBands     = 4
  val SimBandBits  = SimLanes / SimBands // 15
  /** Manku et al. (WWW'07) use 64-bit signatures with hamming ≤ 3 and 4
    * tables; ≤ 3 with 4 bands also makes the banded retrieval
    * pigeonhole-EXACT (any pair within distance 3 agrees on ≥ 1 band), so
    * the output equals an all-pairs scan and is oracle-checkable.
    */
  val SimHammingMax = 3L
  private val PB     = 998244353L

  /** Whole-string mode (padTo = -1): fold every byte, no padding. */
  private def polyHashFull(c: Column, base: Long, p: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PolyCharHash(
        org.apache.spark.sql.graft.ColumnBridge.expression(c),
        base, p, -1))

  /** Per-doc 60-bit SimHash over the token multiset via explode + 60
    * conditional sums (each token-hash bit votes ±1 on its lane; the
    * signature takes the lane signs). Lanes 0-29 come from the base-31
    * polynomial hash, 30-59 from the base-131 one. Output:
    * (doc_id, bits array<long>).
    */
  private def simhashDf(s: SparkSession, d: String): DataFrame =
    simhashOf(Tables.spread(Tables.documents(s, d), col("doc_id")))

  /** SimHash signatures of an arbitrary `(doc_id, text)` frame — exposed
    * within the engine so the streaming ingest-dedup sink can sign each
    * micro-batch with the SAME hash family the batch query uses.
    */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        polyHash(col("tok"), 31L, PA).as("ha"),
        polyHash(col("tok"), 131L, PB).as("hb"))
    val laneSums = (0 until SimLanes).map { i =>
      val (h, bit) = if (i < 30) (col("ha"), i) else (col("hb"), i - 30)
      sum(when(shiftright(h, bit).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"l$i")
    }
    exploded.groupBy(col("doc_id"))
      .agg(laneSums.head, laneSums.tail: _*)
      .select(col("doc_id"),
        array((0 until SimLanes).map(i =>
          when(col(s"l$i") > 0, 1L).otherwise(0L)): _*).as("bits"))
  }

  /** Packed 4×15-bit band words of an arbitrary docs frame, as columns
    * `b0..b3` — the state a streaming dedup index stores per kept doc.
    */
  private[graft] def simhashPacked(docs: DataFrame): DataFrame =
    simhashOf(docs)
      .select(col("doc_id"), simhashBands(col("bits")).as("bands"))
      .select(Seq(col("doc_id")) ++ (0 until SimBands).map(b =>
        element_at(col("bands"), b + 1).as(s"b$b")): _*)

  /** Pack bit lanes into 4×15-bit band keys for hamming-bucket retrieval. */
  private def simhashBands(bits: Column): Column =
    array((0 until SimBands).map { b =>
      (0 until SimBandBits).map { k =>
        element_at(bits, b * SimBandBits + k + 1) * lit(1L << k)
      }.reduce(_ + _)
    }: _*)

  /** The linear signature stage of [[simhashPairs]] exposed on its own —
    * (doc_id, band, bkey) band-bucket membership — so scale diagnostics
    * (ScaleStats) can measure the bucket histogram, and with it the pair
    * join's true candidate volume Σ C(m,2), without running the join those
    * numbers exist to predict.
    */
  def simhashBandKeys(s: SparkSession, d: String): DataFrame =
    simhashDf(s, d)
      .select(col("doc_id"), simhashBands(col("bits")).as("bands"))
      .select(col("doc_id"), posexplode_outer(col("bands")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))

  /** Conf key overriding the banded-table broadcast gate of
    * [[simhashPairs]] (documents, not rows — each document contributes
    * [[SimBands]] banded rows of ~80 bytes plus hash-relation overhead, so
    * the default 1M-doc ceiling builds a ≲1 GiB broadcast relation).
    */
  val MaxBroadcastSimDocsKey = "graft.simhash.maxBroadcastDocs"

  /** SimHash near-dup pairs with hamming distance ≤ 3: candidates from
    * 15-bit band equality (pigeonhole-exact at this threshold), verified by
    * popcount — `bit_count(xor)` over the four packed band words, 8 integer
    * ops per pair instead of 60 array lookups.
    *
    * Each side of the band join carries its packed band words, and a pair
    * colliding in several bands is emitted ONLY from its first matching
    * band — so every candidate pair exists exactly once by construction
    * and flows straight into the popcount filter. The previous shape
    * (IDs-only candidates → `distinct()` → two payload rejoins) priced the
    * dedup at one shuffle of the FULL candidate volume: on a
    * band-collapsed corpus (the degenerate fixed-vocabulary regime at
    * 100×, Σ C(m,2) ≈ 8.4B) that one exchange moves ~130 GB and dominated
    * a run that never finished; first-band-wins removes it entirely, at
    * the cost of 32 extra bytes per banded row through the join input —
    * linear in documents, not in candidates.
    *
    * The build side is broadcast below a document-count gate (conf
    * [[MaxBroadcastSimDocsKey]], same size-gate pattern as
    * [[GraphOps.copurchaseRank]]): with a broadcast hash join the stream
    * side's rows distribute a dense bucket's C(m,2) pair generation across
    * all of its scan partitions, where the sort-merge fallback necessarily
    * colocates each bucket in one task — and a dense bucket is exactly
    * what AQE's byte-based skew split cannot see (54,777 banded rows are
    * ~1.3 MB of input but 1.5B output pairs). Past the gate the join
    * falls back to hash-partitioned SMJ, the normal distributed shape.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // the signature table is tiny (doc_id + 4 longs) but referenced twice
    // (both join sides) — materialize it once instead of re-running the
    // explode + 60-lane aggregation per reference; eager, so the count
    // below is a cheap metadata action on the checkpointed blocks
    val docs = simhashDf(s, d)
      .select(col("doc_id"), simhashBands(col("bits")).as("bands"))
      .localCheckpoint()
    val banded = docs
      .select(col("doc_id"), col("bands"), posexplode_outer(col("bands")))
    val x = banded.select(col("doc_id").as("d1"), col("bands").as("bands1"),
      col("pos").as("band"), col("col").as("bkey"))
    val y0 = banded.select(col("doc_id").as("d2"), col("bands").as("bands2"),
      col("pos").as("band_y"), col("col").as("bkey_y"))
    val maxBroadcastDocs = s.conf.getOption(MaxBroadcastSimDocsKey)
      .map(_.toLong).getOrElse(1000000L)
    val y = if (docs.count() <= maxBroadcastDocs) broadcast(y0) else y0
    // first matching band index for the pair — emitting only there keeps
    // the pair set identical to the distinct() of all collisions
    val firstBand = (0 until SimBands).foldRight(lit(-1): Column) { (j, acc) =>
      when(element_at(col("bands1"), j + 1) === element_at(col("bands2"), j + 1),
        lit(j)).otherwise(acc)
    }
    val hamming = (1 to SimBands).map { b =>
      bit_count(element_at(col("bands1"), b)
        .bitwiseXOR(element_at(col("bands2"), b))).cast("long")
    }.reduce(_ + _)
    x.join(y,
        col("band") === col("band_y") && col("bkey") === col("bkey_y") &&
          col("d1") < col("d2"))
      .filter(col("band") === firstBand)
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= SimHammingMax)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** All-pairs oracle: identical signature math, quadratic retrieval —
    * equality holds because the banded retrieval is exact at hamming ≤ 3.
    */
  val simhashPairsSql: String = {
    val lanes = (0 until SimLanes).map { i =>
      val (h, bit) = if (i < 30) ("ha", i) else ("hb", i - 30)
      s"SUM(CASE WHEN ($h >> $bit) & 1 = 1 THEN 1 ELSE -1 END) AS l$i"
    }.mkString(",\n         ")
    val bands = (0 until SimBands).map { b =>
      (0 until SimBandBits).map { k =>
        s"(CASE WHEN l${b * SimBandBits + k} > 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)"
      }.mkString(" + ") + s" AS b$b"
    }.mkString(",\n         ")
    val ham = (0 until SimBands).map(b => s"bit_count(xor(a.b$b, b.b$b))")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, ${polyHashSql("tok", 31L, PA)} AS ha,
       |         ${polyHashSql("tok", 131L, PB)} AS hb FROM tok),
       |lanes AS (
       |  SELECT doc_id, $lanes FROM h GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, $bands FROM lanes)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST($ham AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.doc_id < b.doc_id
       |WHERE $ham <= $SimHammingMax
       |ORDER BY d1, d2""".stripMargin
  }

  // ---------- Content-defined chunking (CDC) ----------

  /** Rolling-hash window width and boundary divisor: a chunk boundary
    * falls after any token whose trailing-[[CdcWindow]] rolling hash is
    * ≡ 0 mod [[CdcDivisor]] → expected chunk length ≈ CdcDivisor tokens.
    */
  val CdcWindow  = 4
  val CdcDivisor = 8L
  private val CdcP = 2147483647L // 2^31 − 1, same modulus as minhash

  /** Content-defined chunks per document — the insertion-robust
    * alternative to [[chunkDedup]]'s fixed 32-token grid. Boundaries are
    * chosen by CONTENT (a rolling polynomial hash over the last
    * [[CdcWindow]] token hashes hitting 0 mod [[CdcDivisor]]), so
    * prepending or inserting tokens shifts only the chunks up to the
    * first post-edit boundary; every later chunk re-synchronizes on the
    * same content and keeps its fingerprint (the rsync/LBFS principle,
    * pinned quantitatively in DedupSpec). The fixed grid, by contrast,
    * re-phases EVERY chunk after a single-token insert.
    *
    * Shape: one shuffle on doc_id serves the lag window, the
    * boundary-count running sum, and the per-chunk regroup (the group
    * keys extend the partitioning key); everything after is narrow.
    * Returns (doc_id, chunk_id, chunk_text).
    */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "tok")
      .withColumn("th", polyHash(col("tok"), 31L, CdcP))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val rolled = toks
      .withColumn("l1", lag(col("th"), 1).over(w))
      .withColumn("l2", lag(col("th"), 2).over(w))
      .withColumn("l3", lag(col("th"), 3).over(w))
      .withColumn("b",
        when(col("pos") >= CdcWindow - 1,
          (expr(s"((((l3 * 31 + l2) % $CdcP) * 31 + l1) % $CdcP * 31 + th) % $CdcP")
            % CdcDivisor === 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("chunk_id",
        coalesce(sum(col("b")).over(wPrev), lit(0L)))
    rolled.groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  /** Cross-document CDC chunk dedup report: chunks keyed by their 128-bit
    * content hash (md5 — DuckDB-portable, and the key stays 32 bytes
    * through the shuffle regardless of chunk length, the same fix
    * [[chunkDedup]] applies), duplicated-across-documents ones only.
    * Output: (fp, chunk_text, n_docs, n_occ).
    */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunksOf(Tables.spread(Tables.documents(s, d), col("doc_id")))
      .withColumn("fp", md5(col("chunk_text")))
      .groupBy(col("fp"))
      .agg(min(col("chunk_text")).as("chunk_text"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("fp"))

  val cdcChunksSql: String = {
    val tokHash = polyHashSql("tok", 31L, CdcP)
    s"""WITH split AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |toku AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |           i -> {'pos': i - 1, 'tok': toks[i]})) AS u
       |  FROM split),
       |tok AS (
       |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok
       |  FROM toku),
       |th AS (SELECT doc_id, pos, $tokHash AS th FROM tok),
       |roll AS (
       |  SELECT doc_id, pos, th,
       |         lag(th, 1) OVER w AS l1, lag(th, 2) OVER w AS l2,
       |         lag(th, 3) OVER w AS l3
       |  FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |bounds AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos >= ${CdcWindow - 1} AND
       |           ((((l3 * 31 + l2) % $CdcP) * 31 + l1) % $CdcP * 31 + th)
       |             % $CdcP % $CdcDivisor = 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM roll),
       |chunked AS (
       |  SELECT t.doc_id, t.pos, t.tok,
       |         COALESCE(SUM(b.b) OVER (PARTITION BY t.doc_id ORDER BY t.pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS chunk_id
       |  FROM tok t JOIN bounds b ON t.doc_id = b.doc_id AND t.pos = b.pos),
       |chunks AS (
       |  SELECT doc_id, chunk_id,
       |         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
       |  FROM chunked GROUP BY doc_id, chunk_id)
       |SELECT md5(chunk_text) AS fp,
       |       MIN(chunk_text) AS chunk_text,
       |       COUNT(DISTINCT doc_id) AS n_docs,
       |       COUNT(*) AS n_occ
       |FROM chunks
       |GROUP BY md5(chunk_text)
       |HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY fp""".stripMargin
  }

  // ---------- edit-distance near-dup ----------

  /** Length-band width (chars) for edit-distance blocking. */
  val EditBand = 64
  /** Maximum edit distance for a pair to count as a near-duplicate. */
  val EditMaxDist = 15
  /** Prefix length (chars) the distance is computed over. */
  val EditPrefix = 60

  /** Edit-distance (Levenshtein) near-duplicate pairs — the character-level
    * complement of the token-set families (ngram/minhash/simhash): it
    * catches small in-place edits that barely move Jaccard but also pairs
    * whose shared prefix survives while the tails diverge.
    *
    * Scale design: all-pairs Levenshtein is O(N²·L²) — never. Blocking
    * makes it tractable: each doc lands in its `n_chars div 64` length
    * band AND the band above (so a pair within the ±15-char length gate
    * always shares a bucket even across a band boundary), pairs form only
    * inside `(lang, band)` buckets, and the O(L²) DP runs with the
    * threshold variant of `levenshtein` (banded DP, O(k·L), early exit at
    * distance > k) AFTER a free `abs(len diff) ≤ k` gate — a length gap
    * over k already implies distance > k. Candidate volume is bounded by
    * the largest (lang, band) bucket, exactly like the LSH band buckets;
    * a production corpus would put a minhash prefilter in front (that
    * operator exists upstream) and keep this as the exact verifier.
    */
  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    // tiny-file guard (see Tables.spread): the DP below runs on the probe
    // side's partitions — a single-split local parquet would serialize the
    // whole candidate verification onto one core
    val docs = Tables.spread(Tables.documents(s, d), col("doc_id")).select(
      col("doc_id"), col("lang"), expr(s"n_chars div $EditBand").as("band"),
      col("n_chars"), substring(col("text"), 1, EditPrefix).as("prefix"))
    // Asymmetric banding: only the probe side explodes (its true band and
    // the one BELOW), and the band-role fixes each unordered pair's
    // orientation, so every candidate is emitted EXACTLY once — no
    // distinct, no second exchange of prefix strings:
    //   equal bands   → matched via b's true-band key, kept iff a.id < b.id
    //   b one higher  → matched via b's band-1 key (a is the lower band)
    val a = docs.select(col("lang").as("lang_a"), col("band").as("band_a"),
      col("doc_id").as("id_a"), col("n_chars").as("len_a"),
      col("prefix").as("p_a"))
    val b = docs
      .withColumn("key_b", explode(array(col("band"), col("band") - 1)))
      .select(col("lang").as("lang_b"), col("key_b"),
        col("band").as("band_b"), col("doc_id").as("id_b"),
        col("n_chars").as("len_b"), col("prefix").as("p_b"))
    // ALL gates live in the join condition, cheap ones first, so the
    // banded DP only ever sees candidates that survived the band-role and
    // length tests (a pushed-down post-join filter would be re-ordered in
    // FRONT of them); survivors re-evaluate the DP once in the projection,
    // which is a handful of rows
    a.join(b,
        col("lang_a") === col("lang_b") && col("band_a") === col("key_b") &&
        (col("band_a") < col("band_b") ||
          (col("band_a") === col("band_b") && col("id_a") < col("id_b"))) &&
        abs(col("len_a") - col("len_b")) <= EditMaxDist &&
        levenshtein(col("p_a"), col("p_b"), EditMaxDist) >= 0)
      .select(least(col("id_a"), col("id_b")).as("doc_id_1"),
        greatest(col("id_a"), col("id_b")).as("doc_id_2"),
        levenshtein(col("p_a"), col("p_b"), EditMaxDist).as("dist"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  val editDistancePairsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars, substr(text, 1, $EditPrefix) AS prefix
       |  FROM documents
       |), banded AS (
       |  SELECT doc_id, lang, n_chars, prefix, n_chars // $EditBand AS band
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id, lang, n_chars, prefix, n_chars // $EditBand + 1
       |  FROM d
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |         a.prefix AS p1, b.prefix AS p2
       |  FROM banded a JOIN banded b
       |    ON a.lang = b.lang AND a.band = b.band
       |   AND a.doc_id < b.doc_id
       |   AND abs(a.n_chars - b.n_chars) <= $EditMaxDist
       |)
       |SELECT doc_id_1, doc_id_2, CAST(levenshtein(p1, p2) AS INT) AS dist
       |FROM pairs WHERE levenshtein(p1, p2) <= $EditMaxDist
       |ORDER BY doc_id_1, doc_id_2""".stripMargin
}
