package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators: opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted in batched partition functions.
  *
  * The Spark-side plumbing is real — schema, partition batching,
  * row shape — while the actual media decode is a clearly-marked
  * DETERMINISTIC STUB (`stubDecode`): this container has no image or
  * audio codecs, so the "decoder" derives features from the bytes via
  * md5/length arithmetic. Swapping in a real codec changes only the
  * body of `stubDecode`. In PySpark this layer would be a pandas UDF
  * over `mapInPandas`; in Scala the idiomatic equivalent is a typed
  * `mapPartitions`, which gets the same batch-per-partition shape.
  *
  * Scale notes: decode is embarrassingly parallel and CPU-bound — the
  * fanout keeps every core busy; at 100 TB the media table would be
  * size-bucketed so partitions have uniform decode cost, and frame
  * sampling multiplies rows BEFORE the shuffle-free feature stage.
  */
object Multimodal {

  val FeatureDim = 8

  /** Media table synthesized from `documents`: text bytes as the
    * opaque payload, typed metadata from the flat columns.
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.fanout(Tables.documents(s, d)).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      (pmod(col("n_chars"), lit(640)) + 1).cast("int").as("width"),
      (pmod(col("n_chars"), lit(480)) + 1).cast("int").as("height"),
      (col("n_chars") * 10).cast("int").as("duration_ms"))

  /** ??? REAL DECODER GOES HERE ??? — deterministic stand-in: features
    * from byte length and the md5 digest. Mirrored exactly by the
    * DuckDB oracle, which is what makes the plumbing testable without
    * codecs.
    */
  private[operators] def stubDecode(bytes: Array[Byte]): Array[Double] = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val head = md5.take(4).map(b => f"${b & 0xff}%02x").mkString
    val h = java.lang.Long.parseLong(head, 16)
    Array(
      bytes.length.toDouble,
      (h % 1000) / 1000.0,
      ((h / 1000) % 1000) / 1000.0,
      (bytes.headOption.map(_ & 0xff).getOrElse(0)).toDouble,
      (bytes.lastOption.map(_ & 0xff).getOrElse(0)).toDouble,
      (bytes.length % 256).toDouble,
      ((h >> 20) % 997) / 997.0,
      (h % 7).toDouble)
  }

  /** Batched feature extraction over the binary column: one partition
    * = one batch, exactly the mapInPandas contract. Output: media_id,
    * kind, features array<double>.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("features", ArrayType(DoubleType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "kind", "bytes")
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), r.getString(1),
            stubDecode(r.getAs[Array[Byte]](2)).toSeq)
        }
      }(enc)
  }

  /** "Frame sampling" for video rows: emit one row per sampled frame
    * (every `stepMs`), bytes sliced deterministically — the row
    * multiplication shape of real frame extraction.
    */
  def sampleFrames(media: DataFrame, stepMs: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("bytes"), col("duration_ms"),
        explode(sequence(lit(0), col("duration_ms") - 1, lit(stepMs)))
          .as("frame_ms"))
      .select(col("media_id"), col("frame_ms"),
        call_function("substring", col("bytes"),
          (col("frame_ms") / lit(stepMs)).cast("int") + 1, lit(16))
          .as("frame_bytes"))

  // ---- query: feature extraction stats per kind --------------------------
  private val qFeatures = QuerySpec.of(
    "q_multimodal_features",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
      |    text
      |  FROM documents),
      |f AS (
      |  SELECT media_id, kind,
      |    octet_length(encode(text)) AS f0,
      |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1000 AS m1,
      |    (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) // 1000) % 1000 AS m2
      |  FROM m)
      |SELECT kind, count(*) AS n,
      |  CAST(sum(f0) AS BIGINT) AS total_bytes,
      |  CAST((sum(m1) * 2000 + count(*)) // (count(*) * 2) AS DOUBLE)
      |    / 1000000.0 AS avg_f1,
      |  CAST((sum(m2) * 2000 + count(*)) // (count(*) * 2) AS DOUBLE)
      |    / 1000000.0 AS avg_f2
      |FROM f GROUP BY kind ORDER BY kind""".stripMargin) { (s, d) =>
    // f1/f2 are exact milli-units (h%1000 / 1000): average with exact
    // integer sums + integer half-up rounding at 6 dp — see the
    // QuerySpec determinism contract (FP sum order + cross-engine
    // rounding on boundaries)
    extractFeatures(mediaTable(s, d))
      .select(col("kind"),
        element_at(col("features"), 1).as("f0"),
        floor((element_at(col("features"), 2) * 1000) + 0.5).cast("long").as("m1"),
        floor((element_at(col("features"), 3) * 1000) + 0.5).cast("long").as("m2"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum("f0").cast("long").as("total_bytes"),
        expr("CAST((sum(m1) * 2000 + count(*)) DIV (count(*) * 2) AS DOUBLE)"
          + " / 1000000.0").as("avg_f1"),
        expr("CAST((sum(m2) * 2000 + count(*)) DIV (count(*) * 2) AS DOUBLE)"
          + " / 1000000.0").as("avg_f2"))
      .orderBy("kind")
  }

  // ---- query: frame sampling row-shape -----------------------------------
  private val qFrames = QuerySpec.of(
    "q_multimodal_frames",
    """WITH m AS (
      |  SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
      |  FROM documents WHERE (doc_id % 3) + 1 = 3)
      |SELECT media_id,
      |  CAST(ceil(CAST(duration_ms AS DOUBLE) / 500.0) AS BIGINT) AS n_frames
      |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
    sampleFrames(mediaTable(s, d), 500)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"))
      .orderBy("media_id")
  }

  /** "Resize" for image rows: aspect-preserving fit into
    * `target`×`target` — the metadata math (scale = min(t/w, t/h),
    * dimensions rounded half-up with a 1-pixel floor) is the real
    * operator contract; the payload transform is the usual
    * deterministic stub (bytes truncated/zero-padded to the exact
    * pixel-ratio length, integer-ceil so the oracle replays it without
    * float risk). Same batched-partition shape as the decoder.
    */
  def resizeImages(media: DataFrame, target: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("new_w", IntegerType),
      StructField("new_h", IntegerType),
      StructField("out_bytes", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.filter(col("kind") === "image")
      .select("media_id", "bytes", "width", "height")
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val w = r.getInt(2); val h = r.getInt(3)
          val scale = math.min(target.toDouble / w, target.toDouble / h)
          val nw = math.max(1, math.floor(w * scale + 0.5).toInt)
          val nh = math.max(1, math.floor(h * scale + 0.5).toInt)
          // integer-ceil of len · (nw·nh)/(w·h)
          val outLen = ((bytes.length.toLong * nw * nh) + (w.toLong * h) - 1) /
            (w.toLong * h)
          val out = java.util.Arrays.copyOf(bytes, outLen.toInt)
          Row(r.getLong(0), nw, nh, out)
        }
      }(enc)
  }

  // ---- query: resize metadata + payload-length contract ------------------
  private val qResize = QuerySpec.of(
    "q_multimodal_resize",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    octet_length(encode(text)) AS len,
      |    (n_chars % 640) + 1 AS w, (n_chars % 480) + 1 AS h
      |  FROM documents
      |  WHERE (doc_id % 3) + 1 = 1 AND doc_id % 7 = 0),
      |s AS (
      |  SELECT media_id, len, w, h,
      |    least(224.0 / w, 224.0 / h) AS scale
      |  FROM m),
      |r AS (
      |  SELECT media_id, w, h,
      |    greatest(1, CAST(floor(w * scale + 0.5) AS INT)) AS new_w,
      |    greatest(1, CAST(floor(h * scale + 0.5) AS INT)) AS new_h,
      |    len
      |  FROM s)
      |SELECT media_id, new_w, new_h,
      |  CAST((len * new_w * new_h + (w * h) - 1) // (w * h) AS BIGINT)
      |    AS out_len
      |FROM r ORDER BY media_id""".stripMargin) { (s, d) =>
    resizeImages(
      mediaTable(s, d).filter(pmod(col("media_id"), lit(7)) === 0), 224)
      .select(col("media_id"), col("new_w"), col("new_h"),
        length(col("out_bytes")).cast("long").as("out_len"))
      .orderBy("media_id")
  }

  // ---- query: REAL container-header dimension decode ---------------------
  // The one media-decode step implementable offline for real: parse
  // width/height out of actual PNG/GIF/JPEG container headers
  // (functions.ImageDimsExpr — byte-walking, no codec). The corpus
  // synthesizes a VALID header per document from its metadata (format
  // by doc_id, dimensions from n_chars) with pure built-ins
  // (hex-string assembly + one unhex), the kernel parses the real
  // bytes back, and the oracle recomputes the expected parse from the
  // same metadata — hash equality proves the whole construct→parse
  // round trip, including the JPEG segment walk landing on SOF0
  // behind APP0 and COM segments.
  private val qDims = QuerySpec.of(
    "q_multimodal_dims",
    """WITH m AS (
      |  SELECT doc_id, doc_id % 3 AS fmt_i,
      |    CAST((n_chars % 640) + 1 AS INT) AS w,
      |    CAST((n_chars % 480) + 1 AS INT) AS h
      |  FROM documents)
      |SELECT CASE fmt_i WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |    ELSE 'jpeg' END AS format,
      |  count(*) AS n,
      |  CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
      |  min(w) AS min_w, max(w) AS max_w
      |FROM m GROUP BY format ORDER BY format""".stripMargin) { (s, d) =>
    val w = (pmod(col("n_chars"), lit(640)) + 1).cast("int")
    val h = (pmod(col("n_chars"), lit(480)) + 1).cast("int")
    def be32(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be16(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def le16(c: org.apache.spark.sql.Column) =
      concat(substring(be16(c), 3, 2), substring(be16(c), 1, 2))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), be32(w), be32(h))
    val gifHex = concat(lit("474946383961"), le16(w), le16(h))
    val jpegHex = concat(
      lit("FFD8" +                              // SOI
        "FFE0" + "0010" + "4A4649460001010000480048" + "0000" + // APP0
        "FFFE" + "0004" + "ABCD" +              // COM (varies SOF offset)
        "FFC0" + "0011" + "08"),                // SOF0: len, precision
      be16(h), be16(w), lit("03" + "011100" + "021101" + "031101"))
    val bytes = unhex(
      when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
        .when(pmod(col("doc_id"), lit(3)) === 1, gifHex)
        .otherwise(jpegHex))
    val dims = graft.functions.ImageDimsExpr.imageDims(bytes)
    Tables.fanout(Tables.documents(s, d))
      .select(dims.as("d"))
      .select(col("d.format").as("format"), col("d.width").as("w"),
        col("d.height").as("h"))
      .groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum("w").as("sum_w"), sum("h").as("sum_h"),
        min("w").as("min_w"), max("w").as("max_w"))
      .orderBy("format")
  }

  // ---- query: REAL WAV header metadata decode ----------------------------
  // Audio twin of q_multimodal_dims: a valid RIFF/WAVE header is
  // synthesized per document (channels/rate from metadata, 16-bit
  // PCM), AudioMetaExpr walks the real chunk list back, and the
  // oracle recomputes the expected parse including the exact integer
  // duration (data_bytes·1000 DIV byte_rate).
  private val qAudio = QuerySpec.of(
    "q_multimodal_audio",
    """WITH m AS (
      |  SELECT doc_id, CAST(doc_id % 2 + 1 AS INT) AS channels,
      |    CAST(8000 + (n_chars % 80) * 100 AS INT) AS rate,
      |    CAST(n_chars * 100 AS BIGINT) AS data_len
      |  FROM documents),
      |p AS (
      |  SELECT channels, rate, data_len,
      |    data_len * 1000 // (rate * channels * 2) AS duration_ms
      |  FROM m)
      |SELECT channels, count(*) AS n,
      |  CAST(sum(duration_ms) AS BIGINT) AS total_ms,
      |  min(rate) AS min_rate, max(rate) AS max_rate
      |FROM p GROUP BY channels ORDER BY channels""".stripMargin) { (s, d) =>
    val channels = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val rate = (lit(8000) + pmod(col("n_chars"), lit(80)) * 100).cast("int")
    val dataLen = (col("n_chars") * 100).cast("long")
    val byteRate = (rate * channels * 2).cast("long")
    def be32h(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be16h(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def le32h(c: org.apache.spark.sql.Column) = {
      val b = be32h(c)
      concat(substring(b, 7, 2), substring(b, 5, 2),
        substring(b, 3, 2), substring(b, 1, 2))
    }
    def le16h(c: org.apache.spark.sql.Column) = {
      val b = be16h(c)
      concat(substring(b, 3, 2), substring(b, 1, 2))
    }
    val wavHex = concat(
      lit("52494646"), le32h((dataLen + 36).cast("int")), lit("57415645"),
      lit("666D7420"), le32h(lit(16)), le16h(lit(1)), le16h(channels),
      le32h(rate), le32h(byteRate.cast("int")), le16h(channels * 2),
      le16h(lit(16)),
      lit("64617461"), le32h(dataLen.cast("int")))
    val meta = graft.functions.AudioMetaExpr.audioMeta(unhex(wavHex))
    Tables.fanout(Tables.documents(s, d))
      .select(meta.as("a"))
      .select(col("a.channels").as("channels"),
        col("a.sample_rate").as("rate"), col("a.duration_ms").as("ms"))
      .groupBy("channels")
      .agg(count(lit(1)).as("n"), sum("ms").as("total_ms"),
        min("rate").as("min_rate"), max("rate").as("max_rate"))
      .orderBy("channels")
  }

  // ---- query: REAL MP4 movie-header decode -------------------------------
  // Video member of the header-decode family: a minimal valid ISO
  // BMFF tree (ftyp + moov/mvhd v0) is synthesized per document,
  // VideoMetaExpr walks the size-prefixed box tree back, and the
  // oracle recomputes the exact integer duration
  // (duration·1000 DIV timescale).
  private val qVideo = QuerySpec.of(
    "q_multimodal_video",
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(600 + (n_chars % 10) * 60 AS INT) AS ts,
      |    CAST(n_chars * 123 AS BIGINT) AS dur
      |  FROM documents)
      |SELECT ts AS timescale, count(*) AS n,
      |  CAST(sum(dur * 1000 // ts) AS BIGINT) AS total_ms,
      |  min(dur) AS min_dur, max(dur) AS max_dur
      |FROM m GROUP BY ts ORDER BY ts""".stripMargin) { (s, d) =>
    val ts = (lit(600) + pmod(col("n_chars"), lit(10)) * 60).cast("int")
    val dur = (col("n_chars") * 123).cast("long")
    def be32h(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200"), // ftyp
      lit("00000024" + "6D6F6F76"),                           // moov(36)
      lit("0000001C" + "6D766864" + "00" + "000000" +         // mvhd v0
        "00000000" + "00000000"),                             // ctime mtime
      be32h(ts), be32h(dur.cast("int")))
    val meta = graft.functions.VideoMetaExpr.videoMeta(unhex(mp4Hex))
    Tables.fanout(Tables.documents(s, d))
      .select(meta.as("v"))
      .select(col("v.timescale").as("timescale"),
        col("v.duration").as("dur"), col("v.duration_ms").as("ms"))
      .groupBy("timescale")
      .agg(count(lit(1)).as("n"), sum("ms").as("total_ms"),
        min("dur").as("min_dur"), max("dur").as("max_dur"))
      .orderBy("timescale")
  }

  // ---- cross-modal A/V alignment audit ------------------------------------
  // The sync check a multimodal training pipeline runs before pairing
  // streams: per document, decode the audio container's duration and
  // the video container's duration THROUGH THE REAL HEADER PARSERS
  // (RIFF chunk walk, ISO BMFF box walk), join the two modalities on
  // the document key, and report per-source drift — pair count, which
  // side runs longer, worst and total absolute drift, all exact
  // integer milliseconds. Shape: two map-only decode scans and one
  // equality join on the id (bucketable at warehouse scale), then a
  // |sources| rollup.
  private val qAvSync = QuerySpec.of(
    "q_multimodal_av_sync",
    """WITH m AS (
      |  SELECT doc_id, source,
      |    (n_chars * 100) * 1000
      |      // ((8000 + (n_chars % 80) * 100) * (doc_id % 2 + 1) * 2)
      |      AS a_ms,
      |    (n_chars * 123) * 1000 // (600 + (n_chars % 10) * 60) AS v_ms
      |  FROM documents)
      |SELECT source, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN a_ms > v_ms THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_audio_longer,
      |  CAST(max(abs(a_ms - v_ms)) AS BIGINT) AS max_abs_drift_ms,
      |  CAST(sum(abs(a_ms - v_ms)) AS BIGINT) AS sum_abs_drift_ms
      |FROM m GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    def be32h(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be16h(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def le32h(c: org.apache.spark.sql.Column) = {
      val b = be32h(c)
      concat(substring(b, 7, 2), substring(b, 5, 2),
        substring(b, 3, 2), substring(b, 1, 2))
    }
    def le16h(c: org.apache.spark.sql.Column) = {
      val b = be16h(c)
      concat(substring(b, 3, 2), substring(b, 1, 2))
    }
    val docs = Tables.fanout(Tables.documents(s, d))
    // audio side: RIFF synth → AudioMetaExpr parse-back
    val channels = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val rate = (lit(8000) + pmod(col("n_chars"), lit(80)) * 100).cast("int")
    val dataLen = (col("n_chars") * 100).cast("long")
    val byteRate = (rate * channels * 2).cast("long")
    val wavHex = concat(
      lit("52494646"), le32h((dataLen + 36).cast("int")), lit("57415645"),
      lit("666D7420"), le32h(lit(16)), le16h(lit(1)), le16h(channels),
      le32h(rate), le32h(byteRate.cast("int")), le16h(channels * 2),
      le16h(lit(16)),
      lit("64617461"), le32h(dataLen.cast("int")))
    val audio = docs.select(col("doc_id"), col("source"),
        graft.functions.AudioMetaExpr.audioMeta(unhex(wavHex)).as("a"))
      .select(col("doc_id"), col("source"),
        col("a.duration_ms").as("a_ms"))
    // video side: ISO BMFF synth → VideoMetaExpr parse-back
    val ts = (lit(600) + pmod(col("n_chars"), lit(10)) * 60).cast("int")
    val dur = (col("n_chars") * 123).cast("long")
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200"),
      lit("00000024" + "6D6F6F76"),
      lit("0000001C" + "6D766864" + "00" + "000000" +
        "00000000" + "00000000"),
      be32h(ts), be32h(dur.cast("int")))
    val video = docs.select(col("doc_id"),
        graft.functions.VideoMetaExpr.videoMeta(unhex(mp4Hex)).as("v"))
      .select(col("doc_id"), col("v.duration_ms").as("v_ms"))
    audio.join(video, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a_ms") > col("v_ms"), 1L).otherwise(0L))
          .as("n_audio_longer"),
        max(abs(col("a_ms") - col("v_ms"))).as("max_abs_drift_ms"),
        sum(abs(col("a_ms") - col("v_ms"))).as("sum_abs_drift_ms"))
      .orderBy("source")
  }

  // ---- ingest validation: sniff + parse audit ----------------------------
  // The media-ingest QA gate: every blob is TYPE-SNIFFED from its
  // magic bytes (pure codegen hex-prefix compares — never trust a
  // declared extension) and then actually parsed by the real header
  // decoder; blobs whose magic survives but whose structure is
  // truncated count as corrupt. The corpus deliberately truncates
  // every 7th blob to its first 8 bytes, so the magic still
  // identifies the format while [[graft.functions.ImageDimsExpr]]
  // must reject the body (null struct) — the oracle predicts both
  // outcomes from the construction, so the hash compare proves the
  // sniffing AND the parser's malformed-input behavior, not just the
  // happy path. One scan, one tiny rollup.
  private val qValidate = QuerySpec.of(
    "q_multimodal_validate",
    """WITH m AS (
      |  SELECT doc_id, doc_id % 3 AS fmt_i,
      |    doc_id % 7 = 0 AS corrupt
      |  FROM documents)
      |SELECT CASE fmt_i WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |    ELSE 'jpeg' END AS format,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS BIGINT) AS corrupt_bp
      |FROM m GROUP BY format ORDER BY format""".stripMargin) { (s, d) =>
    val w = (pmod(col("n_chars"), lit(640)) + 1).cast("int")
    val h = (pmod(col("n_chars"), lit(480)) + 1).cast("int")
    def be32(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be16(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def le16(c: org.apache.spark.sql.Column) =
      concat(substring(be16(c), 3, 2), substring(be16(c), 1, 2))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), be32(w), be32(h))
    val gifHex = concat(lit("474946383961"), le16(w), le16(h))
    val jpegHex = concat(
      lit("FFD8" + "FFE0" + "0010" + "4A4649460001010000480048" + "0000"
        + "FFFE" + "0004" + "ABCD" + "FFC0" + "0011" + "08"),
      be16(h), be16(w), lit("03" + "011100" + "021101" + "031101"))
    val fullHex = when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
      .when(pmod(col("doc_id"), lit(3)) === 1, gifHex)
      .otherwise(jpegHex)
    // every 7th blob truncates to its first 8 bytes: magic intact,
    // structure gone
    val bytes = unhex(when(pmod(col("doc_id"), lit(7)) === 0,
      substring(fullHex, 1, 16)).otherwise(fullHex))
    val hx = hex(bytes)
    val sniffed =
      when(substring(hx, 1, 16) === "89504E470D0A1A0A", "png")
        .when(substring(hx, 1, 12) === "474946383961", "gif")
        .when(substring(hx, 1, 4) === "FFD8", "jpeg")
        .otherwise("unknown")
    val parsed = graft.functions.ImageDimsExpr.imageDims(bytes)
    Tables.fanout(Tables.documents(s, d))
      .select(sniffed.as("format"),
        when(parsed.isNull, 1L).otherwise(0L).as("bad"))
      .groupBy("format")
      .agg(count(lit(1)).as("n"), sum("bad").as("n_corrupt"))
      .select(col("format"), col("n"), col("n_corrupt"),
        expr("CAST(n_corrupt * 10000 DIV n AS BIGINT)").as("corrupt_bp"))
      .orderBy("format")
  }

  // ---- exact binary dedup -------------------------------------------------
  // Content-hash dedup of the media blobs themselves — the first pass
  // of any media-corpus pipeline (identical bytes, whatever the
  // claimed id). The blobs synthesize exactly like q_multimodal_dims;
  // the key is md5 of the blob's hex rendering (byte-identical in
  // both engines, no BLOB-hash portability question), groups of >1
  // keep the min doc_id. Per format: blob count, distinct blobs,
  // duplicate blobs, bytes reclaimable by dedup.
  private val qMediaDedup = QuerySpec.of(
    "q_multimodal_dedup",
    """WITH m AS (
      |  SELECT doc_id, doc_id % 3 AS fmt_i,
      |    CAST((n_chars % 640) + 1 AS BIGINT) AS w,
      |    CAST((n_chars % 480) + 1 AS BIGINT) AS h
      |  FROM documents),
      |k AS (
      |  SELECT CASE fmt_i WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |      ELSE 'jpeg' END AS format,
      |    CASE fmt_i WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 45 END AS nbytes,
      |    md5(format || ':' || CAST(w AS VARCHAR) || 'x'
      |      || CAST(h AS VARCHAR)) AS blob_key
      |  FROM m),
      |g AS (SELECT format, blob_key, max(nbytes) AS nbytes,
      |        count(*) AS n FROM k GROUP BY format, blob_key)
      |SELECT format, CAST(sum(n) AS BIGINT) AS n_blobs,
      |  count(*) AS n_distinct,
      |  CAST(sum(n - 1) AS BIGINT) AS n_dups,
      |  CAST(sum((n - 1) * nbytes) AS BIGINT) AS bytes_reclaimable
      |FROM g GROUP BY format ORDER BY format""".stripMargin) { (s, d) =>
    // real blobs, hashed on their hex rendering — the oracle predicts
    // the same key from the construction (format + dimensions fully
    // determine the bytes), so the compare proves key stability
    val w = (pmod(col("n_chars"), lit(640)) + 1).cast("int")
    val h = (pmod(col("n_chars"), lit(480)) + 1).cast("int")
    def be32(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be16(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def le16(c: org.apache.spark.sql.Column) =
      concat(substring(be16(c), 3, 2), substring(be16(c), 1, 2))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), be32(w), be32(h))
    val gifHex = concat(lit("474946383961"), le16(w), le16(h))
    val jpegHex = concat(
      lit("FFD8" + "FFE0" + "0010" + "4A4649460001010000480048" + "0000"
        + "FFFE" + "0004" + "ABCD" + "FFC0" + "0011" + "08"),
      be16(h), be16(w), lit("03" + "011100" + "021101" + "031101"))
    val fmt = when(pmod(col("doc_id"), lit(3)) === 0, "png")
      .when(pmod(col("doc_id"), lit(3)) === 1, "gif").otherwise("jpeg")
    val bytes = unhex(when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
      .when(pmod(col("doc_id"), lit(3)) === 1, gifHex).otherwise(jpegHex))
    val parsed = graft.functions.ImageDimsExpr.imageDims(bytes)
    Tables.fanout(Tables.documents(s, d))
      .select(fmt.as("format"), bytes.as("b"), parsed.as("p"))
      .select(col("format"),
        length(col("b")).cast("long").as("nbytes"),
        // key from the PARSED dims — proves decode feeds the dedup
        md5(concat(col("format"), lit(":"),
          col("p.width").cast("string"), lit("x"),
          col("p.height").cast("string"))).as("blob_key"))
      .groupBy("format", "blob_key")
      .agg(max("nbytes").as("nbytes"), count(lit(1)).as("n"))
      .groupBy("format")
      .agg(sum("n").as("n_blobs"), count(lit(1)).as("n_distinct"),
        sum(col("n") - 1).as("n_dups"),
        sum((col("n") - 1) * col("nbytes")).as("bytes_reclaimable"))
      .orderBy("format")
  }

  val specs: Seq[QuerySpec] =
    Seq(qFeatures, qFrames, qResize, qDims, qAudio, qVideo, qAvSync,
      qValidate, qMediaDedup)
}
