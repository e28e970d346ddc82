package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** M7 — multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / frame-sample
  * operators.
  *
  * The container has no image/audio codecs, so THE DECODE STEP IS A
  * DETERMINISTIC STUB (clearly marked below): "decoding" derives metadata
  * and features from the raw bytes with fixed arithmetic. Everything
  * Spark-side is real and tested — the binary column representation, the
  * schema, the batched `mapPartitions` extractor (the Scala analogue of a
  * `mapInPandas` batch UDF: typed input batches → typed output batches),
  * partitioning, and the frame-sampling explode.
  *
  * The fixture carrier is `documents.text` re-encoded as UTF-8 bytes (the
  * only blob-able fixture column; it is pure printable ASCII, so
  * byte-level results are oracle-checkable through DuckDB VARCHAR
  * functions — validated in MultimodalSpec too).
  *
  * Scale stance (100 TB of media): content bytes never shuffle — every
  * operator here is a narrow per-row/per-partition map; only the small
  * extracted features would ever move. Frame sampling multiplies rows, not
  * bytes (each frame row carries a 16-byte digest, not the frame).
  */
object Multimodal {

  /** The synthetic media table: binary content + typed metadata columns.
    * media_type cycles deterministically so each type has rows. */
  private def media(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("content"),
      col("text"))

  /** STUB DECODER (metadata): width/height/duration derived from leading
    * bytes — stands in for an image/audio header parse. */
  private val stubWidth: Column = (pmod(ascii(substring(col("text"), 1, 1)), lit(64)) + 1) * 16
  private val stubHeight: Column = (pmod(ascii(substring(col("text"), 2, 1)), lit(64)) + 1) * 16

  /** Decode-metadata operator: one narrow projection over the binary
    * column — n_bytes, content digest, stub-decoded dimensions. */
  def qMediaMetadata(s: SparkSession, dir: String): DataFrame =
    media(s, dir).select(
      col("doc_id"), col("media_type"),
      length(col("content")).as("n_bytes"),
      md5(col("content")).as("content_md5"),
      stubWidth.as("width"),
      stubHeight.as("height"),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int").as("n_channels"))
      .orderBy("doc_id")

  /** Frame-sampling operator: stride 64 bytes, 16-byte frame per stride,
    * one output row per sampled frame carrying its digest (video keyframe
    * extraction shape: rows multiply, bytes don't). */
  def qFrameSample(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      // guard: empty content would make sequence(0, -1) DESCEND and emit
      // bogus frames; the oracle's `i <= (len-1)//64` excludes them too
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("media_type"),
        posexplode(transform(
          sequence(lit(0), floor((length(col("text")) - 1) / 64).cast("int")),
          i => md5(col("text").substr(i * 64 + 1, lit(16))))))
      .select(col("doc_id"), col("media_type"),
        col("pos").as("frame_idx"), col("col").as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** Resize operator (STUB DECODER): downsample the content to a fixed
    * 64-"pixel" thumbnail by sampling bytes at evenly spaced offsets —
    * stands in for an image resize; the real parts are the fixed output
    * shape and that bytes never leave the row (output carries the thumb
    * and its digest, both small). */
  def qMediaResize(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    val thumb = concat_ws("", transform(sequence(lit(0), lit(63)),
      i => col("text").substr((floor(i * n / 64) + 1).cast("int"), lit(1))))
    media(s, dir)
      .select(col("doc_id"), col("media_type"), thumb.as("t"))
      .select(col("doc_id"), col("media_type"),
        length(col("t")).as("thumb_len"), md5(col("t")).as("thumb_md5"))
      .orderBy("doc_id")
  }

  /** Hamming radius for [[qMediaDedup]]; 4×8-bit bands pigeonhole-cover
    * radius ≤ 3 exactly as the SimHash band join does. */
  private val MediaHammingT = 3

  /** Perceptual-hash media near-dup pairs — the multimodal rung of the
    * dedup ladder: a 32-bit average-hash (aHash: sample a fixed grid,
    * threshold each sample against the mean — the standard perceptual
    * image fingerprint, computed here over the stubbed byte domain since
    * the container has no codecs) and a 4×8-bit pigeonhole band join for
    * candidates, verified by exact hamming distance ≤ [[MediaHammingT]].
    * Exact content clones get identical sample vectors → hamming 0, and
    * re-encoded/lightly-edited media lands within the radius — the
    * content-level match a media pipeline runs before any expensive
    * embedding model.
    *
    * Exactness: samples are ascii() of evenly spaced bytes (the fixture
    * is printable ASCII, the qMediaResize convention); the threshold is
    * the integer compare s·32 > Σs (no division); the hash is a 32-bit
    * sum of powers of two — every step integer, both engines identical.
    *
    * Scale stance (100 TB of media): the hash is a narrow per-row pass —
    * content bytes never shuffle; candidates shuffle (band, byte, id)
    * triples exactly like SimHash; completeness inside the radius is the
    * same pigeonhole argument (hamming ≤ 3 over 4 bands leaves ≥ 1 band
    * untouched), re-proven against all-pairs in MultimodalSpec. */
  def qMediaDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = length(col("text"))
    val samples = transform(sequence(lit(0), lit(31)),
      i => ascii(col("text").substr((floor(i * n / 32) + 1).cast("int"), lit(1))))
    // relational spelling (posexplode + per-doc window sum), NOT a 32-term
    // per-row fold: projection collapse would inline the sample pipeline
    // once per bit term (the O(n²) HOF trap TextAnalysis.winnowRowLocal documents)
    val rows = media(s, dir).filter(n >= 1)
      .select(col("doc_id"), posexplode(samples).as(Seq("i", "sv")))
    val wDoc = Window.partitionBy(col("doc_id"))
    val hashes = rows
      .withColumn("tot", sum(col("sv")).over(wDoc))
      .select(col("doc_id"),
        when(col("sv") * 32 > col("tot"),
          expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(lit(0L)).as("bit"))
      .groupBy("doc_id").agg(sum(col("bit")).as("ahash"))
    val bands = hashes.select(col("doc_id"), col("ahash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("shiftright(ahash, b * 8)").bitwiseAND(lit(255L)))
    val cand = bands.select(col("b"), col("bv"), col("doc_id").as("a_id"), col("ahash").as("ah"))
      .join(bands.select(col("b"), col("bv"), col("doc_id").as("b_id"), col("ahash").as("bh")),
        Seq("b", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("ah"), col("bh")).distinct()
    cand
      .select(col("a_id"), col("b_id"),
        bit_count(col("ah").bitwiseXOR(col("bh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= MediaHammingT)
      .orderBy("a_id", "b_id")
  }

  // ---- batched feature extraction (mapInPandas analogue) -------------------

  /** Typed rows crossing the extractor boundary. */
  case class MediaRecord(doc_id: Long, media_type: String, content: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
                           mean_byte: Double, hist: Array[Long])

  /** Batch size of the stub decoder — the "Arrow batch" shape a real
    * mapInPandas/mapInArrow extractor would see. */
  private val DecodeBatch = 64

  /** STUB DECODER (features): per-record byte histogram (8 buckets) + mean.
    * A real pipeline would decode pixels/samples here; the batching,
    * iterator discipline (no materializing the partition), and typed
    * output schema are the real, load-bearing parts. */
  private[queries] def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val hist = new Array[Long](8)
      var sum = 0L
      r.content.foreach { b =>
        val u = b & 0xFF
        hist(u >> 5) += 1
        sum += u
      }
      MediaFeatures(r.doc_id, r.media_type, r.content.length,
        if (r.content.isEmpty) 0.0
        else math.round(sum.toDouble / r.content.length * 1e6) / 1e6,
        hist)
    }

  /** Feature-extraction operator: Dataset[MediaRecord] → mapPartitions with
    * bounded batches → Dataset[MediaFeatures]. Content bytes stay inside
    * the partition; only features come out. */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.grouped(DecodeBatch).flatMap(decodeBatch))
  }

  /** Features as a queries() entry. Oracle-gated since round 13: the
    * fixture carrier is pure printable ASCII (chars ≡ bytes, re-checked
    * in MultimodalSpec), so the extractor's per-batch math — unsigned
    * byte sum, 8-bucket `u >> 5` histogram, `math.round(x·1e6)/1e6`
    * mean — is exactly expressible over DuckDB VARCHAR via
    * ascii(substring(...)); `Math.round(d) == floor(d + 0.5)` by the
    * JVM spec, spelled that way in the SQL so both engines run the
    * identical IEEE op chain. MultimodalSpec additionally re-derives
    * the features byte-level, so the binary-domain contract (what the
    * VARCHAR oracle can't see) stays pinned too. */
  def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = media(s, dir)
      .select(col("doc_id"), col("media_type"), col("content"))
      .as[MediaRecord]
    extractFeatures(recs)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("mean_byte"),
        concat_ws(",", col("hist")).as("hist_csv"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_metadata" -> (qMediaMetadata _),
    "q_frame_sample" -> (qFrameSample _),
    "q_media_resize" -> (qMediaResize _),
    "q_media_features" -> (qMediaFeatures _),
    "q_media_dedup" -> (qMediaDedup _),
  )

  val oracle: Map[String, String] = Map(
    "q_media_features" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    length(text) AS n,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ascii(substring(text, CAST(i AS INT), 1))) AS cs
        |  FROM documents)
        |SELECT doc_id, media_type, CAST(n AS INT) AS n_bytes,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE floor(CAST(list_sum(cs) AS DOUBLE) / n * 1e6 + 0.5) / 1e6
        |       END AS mean_byte,
        |  array_to_string(list_transform(range(0, 8),
        |    b -> CAST(coalesce(len(list_filter(cs, c -> c // 32 = b)), 0)
        |         AS BIGINT)), ',') AS hist_csv
        |FROM codes ORDER BY doc_id""".stripMargin,
    "q_media_dedup" ->
      """WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) >= 1),
        |sm AS (SELECT doc_id, list_transform(range(0, 32),
        |         i -> ascii(substring(text,
        |                CAST(i * length(text) // 32 + 1 AS INT), 1))) AS sm
        |       FROM t),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32),
        |        i -> CASE WHEN sm[CAST(i + 1 AS INT)] * 32 > list_sum(sm)
        |             THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS ahash
        |      FROM sm),
        |bands AS (SELECT doc_id, ahash, b, (ahash >> CAST(8 * b AS INT)) & 255 AS bv
        |          FROM h, (SELECT unnest(range(0, 4)) AS b)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |                a.ahash AS ah, b.ahash AS bh
        |         FROM bands a JOIN bands b
        |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ah, bh)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_media_metadata" ->
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST((ascii(substring(text, 1, 1)) % 64 + 1) * 16 AS INT) AS width,
        |  CAST((ascii(substring(text, 2, 1)) % 64 + 1) * 16 AS INT) AS height,
        |  CAST(doc_id % 3 + 1 AS INT) AS n_channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(i AS INT) AS frame_idx,
        |  md5(substring(text, CAST(i * 64 + 1 AS INT), 16)) AS frame_md5
        |FROM documents,
        |  (SELECT unnest(range(0, (SELECT max(length(text)) // 64 + 1
        |                           FROM documents))) AS i)
        |WHERE i <= (length(text) - 1) // 64
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_resize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    list_aggr(list_transform(range(0, 64),
        |      i -> substring(text, CAST(i * length(text) // 64 + 1 AS INT), 1)),
        |      'string_agg', '') AS thumb
        |  FROM documents)
        |SELECT doc_id, media_type, CAST(length(thumb) AS INT) AS thumb_len,
        |  md5(thumb) AS thumb_md5
        |FROM t ORDER BY doc_id""".stripMargin,
  )
}
