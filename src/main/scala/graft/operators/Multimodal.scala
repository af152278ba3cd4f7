package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, batch "decode"/feature-extraction over partitions.
  *
  * This container has no image/audio codecs, so the decode itself is a
  * clearly-marked deterministic STUB (`decodeStub`) — but everything Spark
  * cares about is real: the binary column, the metadata struct schema, the
  * partition-batched extraction path (`mapPartitions` over an Iterator — the
  * Scala analogue of a pandas-batch UDF: amortize per-batch init like model
  * load across a whole partition), and the downstream relational plumbing.
  *
  * At 100 TB the decode path dominates; the design keeps it embarrassingly
  * parallel (no shuffle before feature extraction) and prunes the binary
  * column as early as possible afterward.
  */
object Multimodal {

  /** Blob table derived from documents: payload bytes + metadata struct —
    * the schema shape of an image/audio dataset (payload, format, dims).
    */
  def blobTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("fake/raw").as("format"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("doc_id") % 48 + 1).cast("int").as("height")).as("meta"))

  /** STUB decoder: stands in for an image/audio decode. Deterministic pure
    * function of the bytes so tests and the oracle can pin it; a real
    * deployment swaps only this function body for e.g. a JNI codec call.
    */
  def decodeStub(payload: Array[Byte]): (Long, Long) = {
    var sum = 0L
    var i   = 0
    while (i < payload.length) { sum = (sum * 31 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
    val header = if (payload.isEmpty) 0L else (payload(0) & 0xff).toLong
    (header, sum)
  }

  /** The oracle-checkable slice of the multimodal path: byte length, header
    * byte, and rolling checksum of the payload, joined back to metadata.
    * (checksum ≡ TextAnalysis.fingerprint, since the stub payload is the
    * utf-8 text — which is what makes the stub oracle-expressible.)
    *
    * Precondition the oracle depends on: document text is ASCII (true of
    * the testdata), so byte length == char length and the per-byte fold ==
    * the oracle's per-character fold. A real media payload has no text
    * oracle at all — the decode side would be pinned by golden outputs
    * instead, and the Spark-side plumbing here is unchanged by that swap.
    */
  case class BlobMetaRow(doc_id: Long, n_bytes: Option[Long],
      header_byte: Option[Long], checksum: Option[Long],
      width: Option[Long], height: Option[Long])

  def blobMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // width/height ride along through the extractor — ONE scan, zero joins
    // (they are cheap column functions of the metadata, so recomputing the
    // blob table and joining features back was pure waste)
    blobTable(s, d)
      .select(col("doc_id"), col("payload"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"))
      .as[(Long, Array[Byte], Option[Long], Option[Long])]
      .mapPartitions { it =>
        it.map { case (id, bytes, w, h) =>
          if (bytes == null) BlobMetaRow(id, None, None, None, w, h)
          else {
            val (header, sum) = decodeStub(bytes)
            BlobMetaRow(id, Some(bytes.length.toLong), Some(header),
              Some(sum), w, h)
          }
        }
      }.toDF().orderBy(col("doc_id"))
  }

  val blobMetaSql: String =
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_bytes,
      |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS header_byte,
      |       CASE WHEN text IS NULL THEN NULL ELSE
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(range(1, length(text) + 1),
      |             i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |           (acc, x) -> (acc * 31 + x) % 1000000007) END AS checksum,
      |       CAST(n_chars % 64 + 1 AS BIGINT) AS width,
      |       CAST(doc_id % 48 + 1 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- resize ----------

  /** Stride used by the resize stub ("downsample 3×"). */
  val ResizeStride = 3

  /** STUB resize: keep every `stride`-th byte — the deterministic stand-in
    * for an image downscale. Same swap-only-this-body contract as
    * [[decodeStub]].
    */
  def resizeStub(payload: Array[Byte], stride: Int): Array[Byte] =
    payload.indices.collect { case i if i % stride == 0 => payload(i) }.toArray

  case class ResizedBlob(doc_id: Long, n_bytes: Option[Long],
      resized_bytes: Option[Long], resized_checksum: Option[Long])

  /** Resize pipeline: batch decode → stride resize → checksum of the
    * resized payload, all inside one partition-batched pass (no shuffle;
    * the binary column never survives past this stage).
    */
  def resizeBlobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobTable(s, d).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (bytes == null) ResizedBlob(id, None, None, None)
          else {
            val resized  = resizeStub(bytes, ResizeStride)
            val (_, sum) = decodeStub(resized)
            ResizedBlob(id, Some(bytes.length.toLong),
              Some(resized.length.toLong), Some(sum))
          }
        }
      }.toDF().orderBy(col("doc_id"))
  }

  val resizeBlobsSql: String =
    s"""SELECT doc_id,
       |       CAST(length(text) AS BIGINT) AS n_bytes,
       |       CAST(len(range(1, length(text) + 1, $ResizeStride)) AS BIGINT)
       |         AS resized_bytes,
       |       CASE WHEN text IS NULL THEN NULL ELSE
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, length(text) + 1, $ResizeStride),
       |             i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
       |           (acc, x) -> (acc * 31 + x) % 1000000007) END AS resized_checksum
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------- frame sampling ----------

  val FrameBytes  = 16
  val FrameStride = 2

  case class Frame(doc_id: Long, frame_idx: Long, n_bytes: Long,
      checksum: Long)

  /** Frame sampling: treat the payload as fixed-size frames (a video's
    * decode unit), keep every `FrameStride`-th frame, checksum each kept
    * frame — the explode side of the multimodal family. Emitted from the
    * same partition-batched pass (rows fan out ~payload/`FrameBytes`/stride
    * per blob, still shuffle-free until a consumer aggregates).
    */
  def sampleFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobTable(s, d).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // NULL payload → no frames, matching the oracle's unnest semantics
        // (range(0, NULL) unnests to zero rows)
        it.filter(_._2 != null).flatMap { case (id, bytes) =>
          val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
          Iterator.range(0, nFrames, FrameStride).map { f =>
            val start    = f * FrameBytes
            val end      = math.min(start + FrameBytes, bytes.length)
            val slice    = java.util.Arrays.copyOfRange(bytes, start, end)
            val (_, sum) = decodeStub(slice)
            Frame(id, f.toLong, (end - start).toLong, sum)
          }
        }
      }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  val sampleFramesSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |         unnest(range(0, CAST(ceil(length(text) / $FrameBytes.0)
       |                              AS BIGINT), $FrameStride)) AS frame_idx
       |  FROM documents)
       |SELECT doc_id, frame_idx,
       |       CAST(length(substr(text, CAST(frame_idx * $FrameBytes + 1 AS INTEGER),
       |                          $FrameBytes)) AS BIGINT) AS n_bytes,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform(
       |           range(1, length(substr(text, CAST(frame_idx * $FrameBytes + 1 AS INTEGER),
       |                                  $FrameBytes)) + 1),
       |           i -> CAST(ascii(substr(substr(text,
       |                  CAST(frame_idx * $FrameBytes + 1 AS INTEGER),
       |                  $FrameBytes), i, 1)) AS BIGINT))),
       |         (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ---------- perceptual hash (aHash) + hamming-band near-dup ----------

  /** aHash geometry: 64 block-average buckets → 64 bits, carried as 4
    * bands of 16 bits (the same band convention as the SimHash document
    * dedup, whose pigeonhole argument this reuses: ≤ [[PhashHammingMax]]
    * differing bits can corrupt at most that many bands, so at least one
    * of the 4 band keys is untouched and the band join finds the pair —
    * EXACT retrieval at the threshold, not probabilistic).
    */
  val PhashBuckets    = 64
  val PhashBands      = 4
  val PhashBandBits   = 16
  val PhashHammingMax = 3

  /** The one REAL multimodal kernel (not a stub): the classic average-hash
    * perceptual fingerprint, computed over the blob's byte grid. Each of
    * the 64 equal-width blocks contributes one bit: whether the block's
    * mean exceeds the global mean — compared cross-multiplied
    * (`blockSum·N > totalSum·blockCount`), so the whole hash is exact
    * integer arithmetic, bit-reproducible in the DuckDB oracle. A real
    * image deployment feeds the decoded+downscaled pixel grid into this
    * same function; only the grid source changes.
    *
    * Returns the 4 band keys (low band first). An empty payload has no
    * mean — callers emit NULL bands for it.
    */
  def aHashBands(payload: Array[Byte]): Array[Long] = {
    val n  = payload.length
    val bs = new Array[Long](PhashBuckets)
    val bc = new Array[Long](PhashBuckets)
    var tot = 0L
    var i = 0
    while (i < n) {
      val v = (payload(i) & 0xff).toLong
      val k = (i.toLong * PhashBuckets / n).toInt
      bs(k) += v; bc(k) += 1; tot += v
      i += 1
    }
    val bands = new Array[Long](PhashBands)
    // the cross-multiplied compare overflows Long once ~4n² passes 2⁶³
    // (payloads beyond ~1.5 GB); promote to BigInt there so the "exact
    // integer" contract holds over the full Array[Byte] range
    val big = n > 1000000000
    var b = 0
    while (b < PhashBuckets) {
      // empty block (payload shorter than 64 bytes) → bit 0: 0 > 0 is false
      val hot =
        if (big) BigInt(bs(b)) * n > BigInt(tot) * bc(b)
        else bs(b) * n > tot * bc(b)
      if (hot)
        bands(b / PhashBandBits) |= 1L << (b % PhashBandBits)
      b += 1
    }
    bands
  }

  case class PhashRow(doc_id: Long, n_bytes: Option[Long], b0: Option[Long],
      b1: Option[Long], b2: Option[Long], b3: Option[Long])

  /** Per-blob perceptual hash — one narrow partition-batched pass over the
    * blob table (the same shuffle-free shape as the other extractors; at
    * 100 TB this stage is embarrassingly parallel and the binary column
    * dies here). Band keys ride as 4 integer columns: that is what the
    * near-dup join keys on, and 16-bit values hash-compare trivially.
    */
  def imagePhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blobTable(s, d).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (bytes == null || bytes.isEmpty) PhashRow(id, None, None, None, None, None)
          else {
            val b = aHashBands(bytes)
            PhashRow(id, Some(bytes.length.toLong),
              Some(b(0)), Some(b(1)), Some(b(2)), Some(b(3)))
          }
        }
      }.toDF().orderBy(col("doc_id"))
  }

  val imagePhashSql: String =
    s"""WITH ch AS (
       |  SELECT doc_id, length(text) AS n, CAST(i AS BIGINT) AS i,
       |         CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) AS v
       |  FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
       |bk AS (
       |  SELECT doc_id, max(n) AS n, (i - 1) * $PhashBuckets // n AS b,
       |         CAST(SUM(v) AS BIGINT) AS bs, COUNT(*) AS bc
       |  FROM ch GROUP BY doc_id, (i - 1) * $PhashBuckets // n),
       |tot AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS ts FROM ch
       |        GROUP BY doc_id),
       |bits AS (
       |  SELECT bk.doc_id, b,
       |         CASE WHEN bs * n > ts * bc THEN 1 ELSE 0 END AS bit
       |  FROM bk JOIN tot ON bk.doc_id = tot.doc_id),
       |bands AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN b // $PhashBandBits = 0
       |           THEN bit << (b % $PhashBandBits) ELSE 0 END) AS BIGINT) AS b0,
       |         CAST(SUM(CASE WHEN b // $PhashBandBits = 1
       |           THEN bit << (b % $PhashBandBits) ELSE 0 END) AS BIGINT) AS b1,
       |         CAST(SUM(CASE WHEN b // $PhashBandBits = 2
       |           THEN bit << (b % $PhashBandBits) ELSE 0 END) AS BIGINT) AS b2,
       |         CAST(SUM(CASE WHEN b // $PhashBandBits = 3
       |           THEN bit << (b % $PhashBandBits) ELSE 0 END) AS BIGINT) AS b3
       |  FROM bits GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CASE WHEN length(d.text) > 0 THEN CAST(length(d.text) AS BIGINT)
       |            END AS n_bytes,
       |       bands.b0, bands.b1, bands.b2, bands.b3
       |FROM documents d LEFT JOIN bands ON d.doc_id = bands.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Hamming-band image near-dup over an arbitrary blob frame
    * (`doc_id`, `payload`): hash every blob, meet only inside (band, key)
    * buckets, then exact hamming over the full 64 bits keeps pairs
    * ≤ [[PhashHammingMax]]. By the pigeonhole argument on [[aHashBands]]
    * this finds EVERY such pair — same machinery as the SimHash document
    * dedup, candidate volume Σ bucket², never all-pairs. Pinned in
    * MultimodalSpec on planted visual duplicates (the natural testdata
    * corpus has no near-identical byte grids — its closest pair sits at
    * hamming 9 — which is itself evidence the hash separates).
    */
  def imageNearDup(s: SparkSession, blobs: DataFrame): DataFrame = {
    import s.implicits._
    val hashed = blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.collect { case (id, bytes) if bytes != null && bytes.nonEmpty =>
          (id, aHashBands(bytes))
        }
      }.toDF("doc_id", "keys")
    hammingBandPairs(hashed)
  }

  /** Shared tail of the perceptual-hash near-dup variants: band-bucket
    * candidates ([[BandPairs]]) over a `(doc_id, keys)` frame of
    * [[aHashBands]] words, whose exact hamming ≤ [[PhashHammingMax]]
    * check reads the same key arrays.
    */
  private def hammingBandPairs(hashed: DataFrame): DataFrame =
    BandPairs(hashed, hashed, "keys", PhashBands, "phash_near_dup",
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        BandPairs.hamming(col("x.keys"), col("y.keys"), PhashBands)
          .as("hamming"))
      .filter(col("hamming") <= PhashHammingMax)
      .orderBy(col("d1"), col("d2"))

  // ---------- real decode: binary Netpbm (PPM P6 / PGM P5) ----------

  /** A decoded image: dimensions + row-major 8-bit grayscale pixels. */
  case class GrayImage(width: Int, height: Int, pixels: Array[Byte])

  /** Integer BT.601 luma for one RGB sample — round-half-up fixed-point
    * (`(299r + 587g + 114b + 500) / 1000`), so the grayscale conversion
    * is exact integer arithmetic, bit-reproducible everywhere.
    */
  def luma(r: Int, g: Int, b: Int): Int =
    ((299L * r + 587L * g + 114L * b + 500L) / 1000L).toInt

  /** REAL decoder for the binary Netpbm formats — PPM `P6` (RGB) and PGM
    * `P5` (grayscale), the classic uncompressed public image formats
    * (header: magic, whitespace/`#`-comment-separated width/height/maxval,
    * ONE whitespace byte, then the raw raster). This replaces the decode
    * stub for the end-to-end image path: ingest → THIS → [[aHashBands]]
    * over actual pixels ([[phashDecodedOf]]); a production deployment
    * swaps in a JPEG/PNG codec at exactly this seam, everything downstream
    * unchanged.
    *
    * Strict and total: `None` (never a throw — a poison blob must not
    * kill a 100-TB scan) for anything but a well-formed single-byte-maxval
    * raster of exactly the declared size. P6 converts to grayscale via
    * [[luma]]; P5 passes samples through. Deterministic pure function of
    * the bytes — MultimodalSpec pins decoded grids byte-for-byte and by
    * CRC32 against hand-computed golden values.
    */
  def decodeNetpbm(bytes: Array[Byte]): Option[GrayImage] = {
    if (bytes == null || bytes.length < 4 || bytes(0) != 'P') return None
    val p6 = bytes(1) == '6'
    if (!p6 && bytes(1) != '5') return None
    var pos = 2
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f'
    def nextInt(): Int = { // -1 = malformed
      var commentOrWs = true
      while (commentOrWs && pos < bytes.length) {
        if (isWs(bytes(pos))) pos += 1
        else if (bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else commentOrWs = false
      }
      if (pos >= bytes.length || bytes(pos) < '0' || bytes(pos) > '9')
        return -1
      var v = 0L
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0')
        if (v > (1L << 20)) return -1 // dimension sanity cap
        pos += 1
      }
      v.toInt
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
    // exactly one whitespace byte separates the header from the raster
    if (pos >= bytes.length || !isWs(bytes(pos))) return None
    pos += 1
    val n = w.toLong * h
    val expected = n * (if (p6) 3 else 1)
    if (bytes.length.toLong - pos != expected) return None
    val out = new Array[Byte](n.toInt)
    var i = 0
    if (p6) {
      while (i < n) {
        val o = pos + 3 * i
        out(i) = luma(bytes(o) & 0xff, bytes(o + 1) & 0xff,
          bytes(o + 2) & 0xff).toByte
        i += 1
      }
    } else {
      System.arraycopy(bytes, pos, out, 0, n.toInt)
    }
    Some(GrayImage(w, h, out))
  }

  case class DecodedPhashRow(doc_id: Long, width: Option[Int],
      height: Option[Int], b0: Option[Long], b1: Option[Long],
      b2: Option[Long], b3: Option[Long])

  /** End-to-end image perceptual hash over DECODED pixels: one
    * partition-batched pass decodes each blob ([[decodeNetpbm]]) and
    * hashes the grayscale grid ([[aHashBands]]) — the honest form of
    * [[imagePhash]], whose grid is the raw payload. Undecodable blobs
    * surface as all-NULL rows (auditable), never as task failures. Same
    * scale shape as every extractor here: narrow, shuffle-free, the
    * binary column dies in this stage.
    */
  def phashDecodedOf(s: SparkSession, blobs: DataFrame): DataFrame = {
    import s.implicits._
    blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeNetpbm(bytes) match {
            case Some(img) =>
              val b = aHashBands(img.pixels)
              DecodedPhashRow(id, Some(img.width), Some(img.height),
                Some(b(0)), Some(b(1)), Some(b(2)), Some(b(3)))
            case None =>
              DecodedPhashRow(id, None, None, None, None, None, None)
          }
        }
      }.toDF().orderBy(col("doc_id"))
  }

  /** Hamming-band near-dup over DECODED images — [[imageNearDup]]'s
    * machinery fed by real pixels: decode, hash the grid, band-join,
    * exact hamming ≤ [[PhashHammingMax]]. Undecodable blobs drop out of
    * the pair search (they have no pixels to compare).
    */
  def imageNearDupDecoded(s: SparkSession, blobs: DataFrame): DataFrame = {
    import s.implicits._
    val hashed = blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeNetpbm(bytes).map(img => (id, aHashBands(img.pixels)))
        }
      }.toDF("doc_id", "keys")
    hammingBandPairs(hashed)
  }

  /** Raw media-file ingest through the `binaryFile` source — how an image/
    * audio corpus actually enters a Spark pipeline (one row per file:
    * path, modification time, length, content bytes). Emits the stable
    * per-file profile (name, length, CRC32); the opaque bytes then flow
    * into the same blob machinery as the parquet-backed binary columns.
    * Scale note: the source splits at FILE granularity (each file is one
    * task's row), so parallelism equals file count — right for media
    * corpora of many moderate files; pathological single-huge-file inputs
    * belong in a format with internal splits. `pathGlobFilter` keeps
    * sidecar/metadata files out of the scan at listing time. Zero-byte
    * files yield NO row (the listing schedules no split for them) —
    * spec-pinned, since a corpus audit must count them separately if they
    * matter.
    */
  def ingestBinaryDir(s: SparkSession, dir: String,
      glob: String = "*.bin"): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length"),
        crc32(col("content")).as("checksum"))
      .orderBy(col("file_name"))

  // ---------- WAV (RIFF) audio: synthesis, REAL parser, frame features ----

  /** Synthetic clip parameters: 8 kHz mono 8-bit PCM, frame length 256
    * samples, clip length 512 + (doc_id mod 7)·128 samples (2-6 frames,
    * last one partial for most ids).
    */
  val WavSampleRate = 8000
  val WavFrameLen   = 256

  def wavSampleCount(docId: Long): Int = (512 + (docId % 7) * 128).toInt

  /** Unsigned 8-bit PCM sample i of clip docId — a pure integer function
    * so the DuckDB oracle can regenerate the identical waveform.
    */
  def wavSample(docId: Long, i: Long): Int =
    ((docId * 131L + i * 31L) % 256L).toInt

  /** Synthesize the RIFF/WAVE container for one clip: canonical `fmt `
    * (PCM, mono, 8-bit), an odd-sized `note` junk chunk BEFORE `data` (so
    * the parser must both skip unknown chunks and honor RIFF's even-byte
    * padding rule), then the raw samples. The waveform is the
    * deterministic fake (this container ships no audio codecs — the
    * [[decodeStub]] contract); the CONTAINER is bit-faithful RIFF.
    */
  def synthWav(docId: Long): Array[Byte] = {
    val n    = wavSampleCount(docId)
    val junk = Array[Byte]('j', 'u', 'n', 'k', 0) // odd length 5 -> pad byte
    val out  = new java.io.ByteArrayOutputStream()
    def s16(v: Int): Unit  = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def s32(v: Int): Unit  = { s16(v & 0xffff); s16((v >>> 16) & 0xffff) }
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
    val riffSize = 4 + (8 + 16) + (8 + junk.length + 1) + (8 + n) + (n & 1)
    tag("RIFF"); s32(riffSize); tag("WAVE")
    tag("fmt "); s32(16)
    s16(1); s16(1); s32(WavSampleRate); s32(WavSampleRate); s16(1); s16(8)
    tag("note"); s32(junk.length); out.write(junk); out.write(0) // pad to even
    tag("data"); s32(n)
    var i = 0
    while (i < n) { out.write(wavSample(docId, i)); i += 1 }
    if ((n & 1) == 1) out.write(0) // RIFF pads odd data chunks too
    out.toByteArray
  }

  case class WavClip(sampleRate: Int, bitsPerSample: Int, channels: Int,
      samples: Array[Byte])

  /** REAL RIFF/WAVE parser — the audio sibling of [[decodeNetpbm]]: walks
    * the chunk list (id, little-endian size, payload, even-byte pad),
    * decodes `fmt `, captures `data`, skips everything else. Strict and
    * total: `None`, never a throw, for anything but well-formed PCM
    * mono 8-bit with a size-consistent data chunk — a poison blob must
    * not kill a 100-TB scan. A production deployment swaps compressed
    * formats in at this seam; frame features downstream are unchanged.
    */
  def parseWav(bytes: Array[Byte]): Option[WavClip] = {
    if (bytes == null || bytes.length < 12) return None
    def tag(p: Int): String =
      new String(bytes, p, 4, "US-ASCII")
    def u16(p: Int): Int =
      (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (u16(p) & 0xffffL) | ((u16(p + 2) & 0xffffL) << 16)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // (format, ch, rate, bits)
    var data: Option[Array[Byte]] = None
    while (pos + 8 <= bytes.length) {
      val id   = tag(pos)
      val size = u32(pos + 4)
      if (size > Int.MaxValue || pos + 8 + size > bytes.length) return None
      val body = pos + 8
      id match {
        case "fmt " =>
          if (size < 16) return None
          fmt = Some((u16(body), u16(body + 2), u32(body + 4).toInt,
            u16(body + 14)))
        case "data" =>
          data = Some(java.util.Arrays.copyOfRange(bytes, body,
            body + size.toInt))
        case _ => () // unknown chunk: skip
      }
      pos = body + size.toInt + (size.toInt & 1) // RIFF even-byte padding
    }
    (fmt, data) match {
      case (Some((1, 1, rate, 8)), Some(samples)) =>
        Some(WavClip(rate, 8, 1, samples))
      case _ => None // non-PCM / multichannel / >8-bit out of scope
    }
  }

  case class AudioFrameRow(doc_id: Long, frame_idx: Int, n: Long,
      sum_sq: Long, peak: Long, zero_cross: Long, sample_rate: Int)

  /** Per-frame audio features over the synthesized corpus: each document
    * becomes a WAV clip ([[synthWav]]), the REAL parser recovers the PCM
    * ([[parseWav]] — the sample_rate column is proof the `fmt ` chunk
    * round-tripped), and each 256-sample frame emits exact-integer
    * energy (Σ(s−128)²), peak |s−128|, and zero crossings (sign flips of
    * the centered signal) — the standard VAD/silence-trim front end of
    * an audio training pipeline. Shape: embarrassingly parallel
    * flatMap — no shuffle until the presentation sort; the synth+parse+
    * frame chain is one streaming pass per partition and the clip bytes
    * never leave the task that made them. A clip the parser rejects
    * yields no rows (at 100 TB: quarantine-count them upstream via
    * [[parseWav]]'s None arm).
    */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          parseWav(synthWav(id)).toSeq.flatMap { clip =>
            val smp = clip.samples
            val nFrames = (smp.length + WavFrameLen - 1) / WavFrameLen
            (0 until nFrames).map { f =>
              val lo = f * WavFrameLen
              val hi = math.min(lo + WavFrameLen, smp.length)
              var sumSq = 0L; var peak = 0L; var zc = 0L
              var i = lo
              while (i < hi) {
                val c = (smp(i) & 0xff) - 128
                sumSq += c.toLong * c
                if (math.abs(c) > peak) peak = math.abs(c)
                if (i > lo) {
                  val p = (smp(i - 1) & 0xff) - 128
                  if ((c >= 0) != (p >= 0)) zc += 1
                }
                i += 1
              }
              AudioFrameRow(id, f, hi - lo, sumSq, peak, zc,
                clip.sampleRate)
            }
          }
        }
      }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  val audioFeaturesSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, 512 + (doc_id %% 7) * 128 AS ns FROM documents),
       |fr AS (
       |  SELECT doc_id, ns,
       |         unnest(range(0, (ns + ${WavFrameLen - 1}) // $WavFrameLen))
       |           AS frame_idx
       |  FROM p),
       |s AS (
       |  SELECT doc_id, frame_idx,
       |         list_transform(
       |           range(frame_idx * $WavFrameLen,
       |                 least((frame_idx + 1) * $WavFrameLen, ns)),
       |           i -> CAST((doc_id * 131 + i * 31) %% 256 - 128 AS BIGINT))
       |           AS c
       |  FROM fr)
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       |       CAST(len(c) AS BIGINT) AS n,
       |       CAST(list_aggregate(list_transform(c, x -> x * x), 'sum')
       |         AS BIGINT) AS sum_sq,
       |       CAST(list_aggregate(list_transform(c, x -> abs(x)), 'max')
       |         AS BIGINT) AS peak,
       |       CAST(COALESCE(list_aggregate(
       |         list_transform(range(2, len(c) + 1),
       |           j -> CASE WHEN (c[j] >= 0) <> (c[j-1] >= 0)
       |                THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT)
       |         AS zero_cross,
       |       CAST($WavSampleRate AS INT) AS sample_rate
       |FROM s ORDER BY doc_id, frame_idx""".stripMargin
      .replace("%%", "%")
}
