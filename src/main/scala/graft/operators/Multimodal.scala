package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata — the
  * engine's job at 100 TB is partitioning, batching and schema
  * discipline, plus whatever codec work the runtime can actually do:
  * IMAGE decode is REAL (`javax.imageio` ships in the JDK — see
  * `decodeImageStats` / q34_png_decode, which round-trips genuine PNGs
  * and oracle-checks the decoded pixel sums); audio/video decode remains
  * a clearly-marked deterministic STUB (no such codecs in the JDK or
  * container). The Spark-side plumbing (schema, per-partition batch
  * iteration, feature extraction shape) is identical for both arms and
  * tested in MultimodalSpec.
  *
  * The fixture media table is synthesized deterministically from
  * `documents` (payload = UTF-8 bytes of `text`), so the metadata query
  * has a DuckDB oracle like any other operator.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      media_type: String,
      width: Int,
      height: Int)

  /** Extracted features (what a real decoder would emit). */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      brightness: Double,
      n_frames: Int)

  /** Deterministic media table derived from `documents`. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      (lit(16) + col("doc_id") % 64).cast("int").as("width"),
      (lit(16) + col("doc_id") % 48).cast("int").as("height"))

  private val PngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte)

  private def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == PngMagic(0) && bytes(1) == PngMagic(1) &&
      bytes(2) == PngMagic(2) && bytes(3) == PngMagic(3)

  /** The JDK's PNG reader/writer SPIs, resolved ONCE per JVM — the
    * image-side twin of [[wavReader]]: `ImageIO.read` re-scans the
    * IIORegistry per call AND spools every stream through a disk-backed
    * `FileCacheImageInputStream` by default, so a many-core executor
    * pays a provider scan plus temp-file churn per record. The SPIs are
    * thread-safe; reader/writer INSTANCES are not, so one is created
    * per call (cheap) over a memory-cached stream. */
  private lazy val pngReaderSpi = pngSpi(classOf[javax.imageio.spi.ImageReaderSpi])
  private lazy val pngWriterSpi = pngSpi(classOf[javax.imageio.spi.ImageWriterSpi])

  private def pngSpi[T <: javax.imageio.spi.ImageReaderWriterSpi](cls: Class[T]): T = {
    import scala.jdk.CollectionConverters._
    javax.imageio.spi.IIORegistry.getDefaultInstance
      .getServiceProviders(cls, true).asScala
      .find(_.getFormatNames.exists(_.equalsIgnoreCase("png")))
      .getOrElse(throw new IllegalArgumentException(
        s"no PNG ${cls.getSimpleName} in this JVM"))
  }

  /** Decode a PNG payload through [[pngReaderSpi]] (lossless, so the
    * pixels are exactly what [[encodePng]] wrote). */
  private[operators] def decodePng(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val reader = pngReaderSpi.createReaderInstance()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    val img = try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally { reader.dispose(); iis.close() }
    require(img != null, "undecodable image payload")
    img
  }

  /** REAL image decoder — `javax.imageio` ships in every JDK, so PNG
    * payloads are genuinely decoded on the executor (no external media
    * library needed). Returns (decoded width, decoded height, sum of
    * r+g+b over all pixels) — integer-exact, so the PNG round trip is
    * oracle-checkable: encode and decode are lossless, hence the pixel
    * sums equal what the generation formula predicts. */
  def decodeImageStats(r: MediaRecord): ImagePixels = {
    val img = decodePng(r.payload)
    val (w, h) = (img.getWidth, img.getHeight)
    var lum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        lum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    ImagePixels(r.doc_id, w, h, lum)
  }

  /** Decoder: PNG image payloads go through the REAL `javax.imageio`
    * decode (width/height/brightness from decoded pixels); WAV audio
    * payloads go through the REAL `javax.sound.sampled` decode
    * ("brightness" = normalized RMS amplitude of the decoded samples,
    * "frames" = decoded sample-frame count); only VIDEO remains a
    * clearly-marked deterministic STUB (no video codec in the JDK or
    * container) — "brightness" is the mean byte value, "frames" a fixed
    * chunking. A real deployment swaps only the stub arm; the
    * distributed plumbing is identical for all three. */
  def decodeFrame(r: MediaRecord): MediaFeatures = {
    if (r.media_type == "image" && isPng(r.payload)) {
      val px = decodeImageStats(r)
      MediaFeatures(r.doc_id, r.payload.length, px.width, px.height,
        px.lum_sum.toDouble / (px.width.toLong * px.height * 3) / 255.0, 1)
    } else if (r.media_type == "audio" && isWav(r.payload)) {
      val ws = decodeWavStats(r)
      val rms = if (ws.n_samples == 0) 0.0
        else math.sqrt(ws.amp_sq_sum.toDouble / ws.n_samples) / 32768.0
      MediaFeatures(r.doc_id, r.payload.length, r.width, r.height,
        rms, ws.n_samples.toInt)
    } else {
      val bytes = r.payload
      val brightness =
        if (bytes.isEmpty) 0.0
        else bytes.map(b => (b & 0xff).toLong).sum.toDouble / bytes.length / 255.0
      MediaFeatures(r.doc_id, bytes.length, r.width, r.height,
        brightness, bytes.length / 64 + 1)
    }
  }

  /** RIFF/WAVE container sniff (mirrors [[isPng]]). */
  private def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  /** The JDK's WAVE codec provider, resolved ONCE per JVM. Going
    * through `AudioSystem.getAudioInputStream`/`write` re-runs a
    * synchronized service-provider scan on EVERY call, which serializes
    * a many-core local executor (measured on `local[32]`: the sf1 WAV
    * bench ran FASTER with 4 threads than 32). The spi interfaces are
    * public `javax.sound.sampled` API; per-executor JVMs on a real
    * cluster each resolve once. Reader/writer instances are stateless
    * and thread-safe. */
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala
      .find(_.getClass.getName.toLowerCase.contains("wave"))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileReader in this JDK"))
  }

  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala
      .find(_.getClass.getName.toLowerCase.contains("wave"))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter in this JDK"))
  }

  /** Decoded-audio stats: format fields + integer-exact sample sums. */
  final case class WavSamples(
      doc_id: Long,
      sample_rate: Int,
      n_channels: Int,
      n_samples: Long,
      amp_sum: Long,
      amp_sq_sum: Long)

  /** REAL audio decoder — `javax.sound.sampled` ships in every JDK, so
    * WAV payloads are genuinely parsed on the executor (container/format
    * header + PCM frames), same argument as the PNG arm. Returns the
    * decoded format fields plus integer-exact Σ amp and Σ amp² over the
    * 16-bit signed samples, so the WAV round trip is oracle-checkable:
    * PCM encode/decode is lossless, hence the sums equal what the
    * generation formula predicts. */
  def decodeWavStats(r: MediaRecord): WavSamples = {
    val ais = wavReader.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
      fmt.getChannels == 1,
      s"unexpected WAV format for doc ${r.doc_id}: $fmt")
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    var sum = 0L
    var sq = 0L
    var i = 0
    while (i < n) {
      val amp = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)).toLong
      sum += amp
      sq += amp * amp
      i += 1
    }
    WavSamples(r.doc_id, fmt.getSampleRate.toInt, fmt.getChannels, n, sum, sq)
  }

  /** Deterministic 16-bit mono PCM WAV: sample i of document `docId` is
    *   amp_i = (docId·31 + i·17) mod 65536 − 32768
    * written little-endian through the JDK's `AudioSystem` WAVE writer.
    * As with [[encodePng]], the FORMULA (not the bytes) is what the
    * oracle replays — PCM is lossless, so decoded sums must match the
    * formula exactly. */
  def encodeWav(docId: Long, nSamples: Int): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val amp = ((docId * 31 + i.toLong * 17) % 65536 - 32768).toInt
      pcm(2 * i) = (amp & 0xff).toByte
      pcm(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio table with REAL WAV payloads, synthesized deterministically
    * from `documents` (one clip per doc_id ≡ 1 mod 3, the rows
    * `mediaTable` types as "audio"); 64–319 samples per clip. */
  def wavTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .where(col("doc_id") % 3 === 1)
      .select(col("doc_id"),
        (lit(64) + col("doc_id") % 256).cast("int").as("ns"))
      .as[(Long, Int)]
      .map { case (id, ns) =>
        MediaRecord(id, encodeWav(id, ns), "audio", 0, 0) }
  }

  /** Decoded-image stats: dimensions + exact pixel-luminance sum. */
  final case class ImagePixels(
      doc_id: Long,
      width: Int,
      height: Int,
      lum_sum: Long)

  /** Deterministic PNG: pixel (x, y) of document `docId` is
    *   r = (docId·7 + x·3 + y·5) mod 256
    *   g = (docId·11 + x·13 + y·2) mod 256
    *   b = (docId·3 + x + y·17) mod 256
    * encoded with the JDK's ImageIO PNG writer. The formula (not the
    * bytes) is what the oracle replays — PNG is lossless, so decoded
    * sums must match the formula exactly. `perturbed` shifts the red
    * channel of every 101st pixel (row-major index y·w + x) by +40
    * mod 256 — q97's planted near-dup variant, a sparse content edit,
    * not a uniform relight. */
  def encodePng(docId: Long, w: Int, h: Int,
      perturbed: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r0 = ((docId * 7 + x * 3 + y * 5) % 256).toInt
        val r = if (perturbed && (y.toLong * w + x) % 101 == 0)
          (r0 + 40) % 256 else r0
        val g = ((docId * 11 + x * 13 + y * 2) % 256).toInt
        val b = ((docId * 3 + x + y * 17) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = pngWriterSpi.createWriterInstance()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Image table with REAL PNG payloads, synthesized deterministically
    * from `documents` (one image per doc_id ≡ 0 mod 3, the rows
    * `mediaTable` types as "image"). */
  def pngTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        (lit(16) + col("doc_id") % 64).cast("int").as("width"),
        (lit(16) + col("doc_id") % 48).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        MediaRecord(id, encodePng(id, w, h), "image", w, h) }
  }

  /** Typed per-partition decode pipeline: the batch shape a Pandas-UDF /
    * mapInPandas stage would have — one iterator per partition, records
    * decoded in partition order, no driver involvement. */
  def decodePipeline(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRecord]
      .mapPartitions(_.map(decodeFrame))
  }

  /** Metadata + checksum query (oracle-checked): the SQL-visible face of
    * the media table. */
  private def q34meta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("doc_id"), col("media_type"), col("width"), col("height"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("checksum"))
      .orderBy(col("doc_id").asc_nulls_last)

  private val q34metaSql =
    """SELECT doc_id,
      |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(16 + doc_id % 64 AS INT) AS width,
      |  CAST(16 + doc_id % 48 AS INT) AS height,
      |  octet_length(text::BLOB) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** Decoded-feature aggregate per media type, running the stub decoder
    * through the typed pipeline. Oracle-checked: the stub's "brightness"
    * (mean byte value / 255) is DuckDB-expressible by hex-expanding the
    * payload — see q34decodeSql. */
  private def q34decode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodePipeline(s, dir)
      .join(mediaTable(s, dir).select(col("doc_id"), col("media_type")), "doc_id")
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_frames")).as("total_frames"),
        graft.Canon.dsum(col("brightness"), 9).as("sum_brightness"))
      .orderBy(col("media_type").asc_nulls_last)
  }

  /** DuckDB replay of the stub decoder: hex() the payload, unnest one row
    * per byte, parse each hex pair back to its byte value, and rebuild
    * brightness = (byte_sum / n_bytes) / 255 with the same double
    * division order as `decodeFrame`. Empty payloads (no unnested rows)
    * rejoin via LEFT JOIN with brightness 0, matching the stub. */
  private val q34decodeSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    hex(text::BLOB) AS hx,
      |    octet_length(text::BLOB) AS nb
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, hx, unnest(generate_series(1, nb)) AS i FROM m),
      |s AS (
      |  SELECT doc_id,
      |    SUM((strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
      |      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS bytesum
      |  FROM e GROUP BY doc_id),
      |b AS (
      |  SELECT m.doc_id, m.media_type, m.nb,
      |    CASE WHEN m.nb = 0 THEN 0.0
      |         ELSE COALESCE(s.bytesum, 0) * 1.0 / m.nb / 255.0 END AS brightness
      |  FROM m LEFT JOIN s USING (doc_id))
      |SELECT media_type,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(nb // 64 + 1) AS BIGINT) AS total_frames,
      |  CAST(SUM(CAST(brightness AS DECIMAL(28,9))) AS DOUBLE) AS sum_brightness
      |FROM b GROUP BY media_type ORDER BY media_type ASC NULLS LAST""".stripMargin

  /** Resized/frame-sampled media record (what a resize + every-3rd-frame
    * sampling stage would emit). */
  final case class ResizedMedia(
      doc_id: Long,
      media_type: String,
      rw: Int,
      rh: Int,
      n_frames: Int,
      n_kept: Int)

  /** STUB resize + frame-sample — integer-exact so the DuckDB oracle can
    * replay it: fit (width, height) into a 32×32 box preserving aspect
    * ratio (integer floor division), keep every 3rd frame (ceil). A real
    * deployment swaps the body; the typed per-partition pipeline shape
    * (the mapInPandas batch shape) is what the engine owns. */
  def resizeSample(r: MediaRecord): ResizedMedia = {
    val longSide = math.max(r.width, r.height)
    val rw = math.max(1, r.width * 32 / longSide)
    val rh = math.max(1, r.height * 32 / longSide)
    val frames = r.payload.length / 64 + 1
    ResizedMedia(r.doc_id, r.media_type, rw, rh, frames, (frames + 2) / 3)
  }

  /** Typed resize/frame-sample pipeline over the opaque media column. */
  def resizePipeline(s: SparkSession, dir: String): Dataset[ResizedMedia] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRecord]
      .mapPartitions(_.map(resizeSample))
  }

  private def q34resize(s: SparkSession, dir: String): DataFrame =
    resizePipeline(s, dir).toDF()
      .orderBy(col("doc_id").asc_nulls_last)

  private val q34resizeSql =
    """WITH m AS (SELECT doc_id,
      |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(16 + doc_id % 64 AS INT) AS w,
      |  CAST(16 + doc_id % 48 AS INT) AS h,
      |  octet_length(text::BLOB) // 64 + 1 AS frames
      |FROM documents)
      |SELECT doc_id, media_type,
      |  CAST(GREATEST(1, w * 32 // GREATEST(w, h)) AS INT) AS rw,
      |  CAST(GREATEST(1, h * 32 // GREATEST(w, h)) AS INT) AS rh,
      |  CAST(frames AS INT) AS n_frames,
      |  CAST((frames + 2) // 3 AS INT) AS n_kept
      |FROM m ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** q34_png_decode: encode each image row as a REAL PNG, decode it back
    * with `javax.imageio` on the executors, emit the decoded dimensions
    * and exact pixel sums. The oracle replays the pixel-generation
    * formula in SQL — any defect in the encode→decode round trip (wrong
    * dims, channel order, color model, truncation) breaks the match. */
  private def q34png(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir)
      .mapPartitions(_.map(decodeImageStats))
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private val q34pngSql =
    """WITH d AS (
      |  SELECT doc_id, CAST(16 + doc_id % 64 AS INT) AS w,
      |         CAST(16 + doc_id % 48 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |e AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM d),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id * 7 + (i % w) * 3 + (i // w) * 5) % 256
      |    + (doc_id * 11 + (i % w) * 13 + (i // w) * 2) % 256
      |    + (doc_id * 3 + (i % w) + (i // w) * 17) % 256 AS lum
      |  FROM e)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(SUM(lum) AS BIGINT) AS lum_sum
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** Decoded-video stats: container fields + exact sums over the
    * SAMPLED (every 3rd) frames, each frame really decoded. */
  final case class VideoFrames(
      doc_id: Long,
      n_frames: Int,
      n_sampled: Int,
      width: Int,
      height: Int,
      lum_sum: Long)

  /** Frame-packed video container — "motion PNG": magic "GFV1", then a
    * frame count, then length-prefixed REAL PNG frames (all big-endian
    * ints). Parsing the container and decoding the frames is genuine
    * executor work through the JDK image codec; only INTER-frame codecs
    * (H.264 etc.) remain out of scope — no such codec ships in the JDK,
    * and that boundary is the documented stub. */
  def encodeVideo(docId: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GFV1")
    out.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      // frame f of doc d reuses the pixel formula keyed by (d·1000 + f),
      // so the oracle can replay any sampled frame independently
      val png = encodePng(docId * 1000 + f, w, h)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** REAL video pipeline work: parse the container, decode every 3rd
    * frame (the q34_media_resize sampling policy) through
    * `javax.imageio`, and sum the decoded r+g+b values — integer-exact,
    * so the whole parse→seek→decode path is oracle-checkable. Frames
    * NOT sampled are skipped without decoding (the seek discipline a
    * real frame sampler needs). */
  def decodeVideoStats(r: MediaRecord): VideoFrames = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(r.payload))
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(new String(magic, "US-ASCII") == "GFV1",
      s"not a GFV1 container for doc ${r.doc_id}")
    val nFrames = in.readInt()
    var f = 0
    var sampled = 0
    var lum = 0L
    var (w, h) = (0, 0)
    while (f < nFrames) {
      val len = in.readInt()
      if (f % 3 == 0) {
        val png = new Array[Byte](len)
        in.readFully(png)
        val px = decodeImageStats(MediaRecord(r.doc_id, png, "image", 0, 0))
        w = px.width; h = px.height
        lum += px.lum_sum
        sampled += 1
      } else in.skipBytes(len)
      f += 1
    }
    VideoFrames(r.doc_id, nFrames, sampled, w, h, lum)
  }

  /** Video table with REAL frame-packed payloads, one clip per
    * doc_id ≡ 2 mod 3 (the rows `mediaTable` types as "video");
    * 3–8 frames of 8×6 px keep fixture costs bounded. */
  def videoTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .where(col("doc_id") % 3 === 2)
      .select(col("doc_id"),
        (lit(3) + col("doc_id") % 6).cast("int").as("nf"))
      .as[(Long, Int)]
      .map { case (id, nf) =>
        MediaRecord(id, encodeVideo(id, nf, 8, 6), "video", 8, 6) }
  }

  /** q34_wav_decode: encode each audio row as a REAL WAV, decode it back
    * with `javax.sound.sampled` on the executors, emit the decoded
    * format fields and exact sample sums. The oracle replays the
    * sample-generation formula in SQL — any defect in the encode→decode
    * round trip (header parse, endianness, sign, frame count) breaks the
    * match. */
  private def q34wav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir)
      .mapPartitions(_.map(decodeWavStats))
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private val q34wavSql =
    """WITH d AS (
      |  SELECT doc_id, CAST(64 + doc_id % 256 AS INT) AS ns
      |  FROM documents WHERE doc_id % 3 = 1),
      |e AS (
      |  SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS i FROM d),
      |a AS (
      |  SELECT doc_id, ns, (doc_id * 31 + i * 17) % 65536 - 32768 AS amp
      |  FROM e)
      |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS n_channels,
      |  CAST(MAX(ns) AS BIGINT) AS n_samples,
      |  CAST(SUM(amp) AS BIGINT) AS amp_sum,
      |  CAST(SUM(amp * amp) AS BIGINT) AS amp_sq_sum
      |FROM a GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** q34_video_frames: pack each video row as a REAL frame container,
    * parse + frame-sample + decode it back on the executors (every 3rd
    * frame through the actual JDK PNG codec, others seeked past). The
    * oracle replays the per-frame pixel formula for exactly the sampled
    * frames — a wrong sampling policy, a mis-seek, or a decode defect
    * all break the match. */
  private def q34video(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoTable(s, dir)
      .mapPartitions(_.map(decodeVideoStats))
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last)
  }

  private val q34videoSql =
    """WITH d AS (
      |  SELECT doc_id, CAST(3 + doc_id % 6 AS INT) AS nf
      |  FROM documents WHERE doc_id % 3 = 2),
      |fr AS (
      |  SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS f FROM d),
      |sf AS (
      |  SELECT doc_id, nf, doc_id * 1000 + f AS k FROM fr WHERE f % 3 = 0),
      |px AS (
      |  SELECT doc_id, nf, k, unnest(generate_series(0, 47)) AS i FROM sf),
      |lum AS (
      |  SELECT doc_id, nf,
      |    (k * 7 + (i % 8) * 3 + (i // 8) * 5) % 256
      |    + (k * 11 + (i % 8) * 13 + (i // 8) * 2) % 256
      |    + (k * 3 + (i % 8) + (i // 8) * 17) % 256 AS l
      |  FROM px)
      |SELECT doc_id, CAST(MAX(nf) AS INT) AS n_frames,
      |  CAST((MAX(nf) + 2) // 3 AS INT) AS n_sampled,
      |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
      |  CAST(SUM(l) AS BIGINT) AS lum_sum
      |FROM lum GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q34_media_meta", q34meta, Some(q34metaSql)),
    QueryDef("q34_media_decode", q34decode, Some(q34decodeSql)),
    QueryDef("q34_media_resize", q34resize, Some(q34resizeSql)),
    QueryDef("q34_png_decode", q34png, Some(q34pngSql)),
    QueryDef("q34_wav_decode", q34wav, Some(q34wavSql)),
    QueryDef("q34_video_frames", q34video, Some(q34videoSql)))
}
