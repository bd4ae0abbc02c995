package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C6 — multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, flowing through every relational operator.
  *
  * The decode kernels (JPEG decode, resampling, frame extraction) need
  * native libraries this container doesn't ship, so they are STUBBED with a
  * clearly-marked deterministic fake that parses bytes from the payload
  * header. Everything Spark-side is real and tested: the binary schema, the
  * batched `mapPartitions` plumbing (the Scala analog of `mapInPandas` —
  * partition-at-a-time iterators, no per-row JNI crossings), partitioning
  * behavior, and the metadata contract.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, width: Int, height: Int, n_bytes: Int, fmt: String)

  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Attach a synthetic binary payload derived from the text column — the
    * test corpus has no real media, so the payload is the md5 digest bytes
    * (deterministic, 16 bytes; reproducible in DuckDB via from_hex(md5)). */
  def withFakePayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), to_binary(md5(col(textCol)), lit("hex")).as("payload"))

  /** REAL pure-JVM image-header parse (no codec libraries): PNG IHDR,
    * JPEG SOF segment walk, GIF logical-screen descriptor. Returns None for
    * payloads that are none of these — e.g. the synthetic md5 corpus. */
  private[graft] def parseRealHeader(p: Array[Byte]): Option[(Int, Int, String)] = {
    def u8(i: Int) = p(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (p.length >= 24 &&
        u8(0) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')
      Some((be32(16), be32(20), "png"))
    else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk JPEG segments to the first frame header (SOFn); height then
      // width as big-endian 16-bit after the 1-byte precision
      var i = 2
      while (i + 3 < p.length) {
        if (u8(i) != 0xff) return None
        val m = u8(i + 1)
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2 // standalone markers
        else {
          val len = be16(i + 2)
          if (len < 2 || i + 2 + len > p.length) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return if (i + 9 <= p.length) Some((be16(i + 7), be16(i + 5), "jpeg")) else None
          i += 2 + len
        }
      }
      None
    } else if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
      Some((u8(6) | (u8(7) << 8), u8(8) | (u8(9) << 8), "gif"))
    else None
  }

  /** Decode: REAL header parse first ([[parseRealHeader]]); payloads that
    * are not recognizable images fall back to the deterministic STUB below
    * (the pixel-decode path — resampling, color — still needs codec
    * libraries this container doesn't ship; only that part stays faked). */
  private def decodeHeader(payload: Array[Byte]): (Int, Int, String) =
    parseRealHeader(payload).getOrElse {
      val w = 1 + (payload(0) & 0xff) % 64
      val h = 1 + (payload(1) & 0xff) % 64
      val fmt = ((payload(2) & 0xff) % 3) match {
        case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
      }
      (w, h, fmt)
    }

  /** Partition-batched decode: one iterator pass per partition (the
    * `mapInPandas` shape), emitting typed metadata. */
  def decodeMeta(payloads: DataFrame)(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val (w, h, f) = decodeHeader(p)
          MediaMeta(id, w, h, p.length, f)
        }
      }
  }

  /** Expression-only twin of the stub decode (codegen'd; used by the
    * oracle-checked query — byte reads become hex substrings). */
  def decodeMetaExpr(payloads: DataFrame): DataFrame =
    payloads.select(
      col("doc_id"),
      (conv(substring(hex(col("payload")), 1, 2), 16, 10).cast("int") % 64 + 1).as("width"),
      (conv(substring(hex(col("payload")), 3, 2), 16, 10).cast("int") % 64 + 1).as("height"),
      length(col("payload")).as("n_bytes"),
      when(conv(substring(hex(col("payload")), 5, 2), 16, 10).cast("int") % 3 === 0, "jpeg")
        .when(conv(substring(hex(col("payload")), 5, 2), 16, 10).cast("int") % 3 === 1, "png")
        .otherwise("webp").as("fmt"))

  /** STUB frame-sampler: emit every `stride`-th "frame index" up to a fake
    * frame count parsed from the payload — the video-sampling plumbing
    * (explode to frame rows, carry payload refs) without a codec. */
  def sampleFrames(payloads: DataFrame, stride: Int): DataFrame =
    payloads.select(
      col("doc_id"),
      explode(sequence(lit(0),
        conv(substring(hex(col("payload")), 7, 2), 16, 10).cast("int") % 30,
        lit(stride))).as("frame_idx"))

  // ---------------- REAL pixel decode (pure-JDK javax.imageio) ----------

  /** Exact per-channel pixel statistics of one decoded image. All-integer
    * so a DuckDB oracle can reproduce them with no float tolerance. */
  case class PixelStats(doc_id: Long, width: Int, height: Int, fmt: String,
                        n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long,
                        min_px: Int, max_px: Int)

  /** Deterministic RGB test pattern — the analytic ground truth both the
    * Spark encoder and the DuckDB oracle compute from (doc_id, x, y). */
  @inline private[graft] def patR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  @inline private[graft] def patG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 5) % 256).toInt
  @inline private[graft] def patB(id: Long, x: Int, y: Int): Int = ((id * 23 + x * 3 + y * 19) % 256).toInt

  /** Fixture generator: encode the test pattern into GENUINE image bytes
    * with the JDK's own codecs (`javax.imageio.ImageIO.write`). Formats
    * alternate png/bmp by id parity — both lossless, so the decode side is
    * an exact round trip through a real compressor (PNG goes through
    * zlib/deflate; these are not hand-laid header bytes like c18's). */
  def encodeTestImages(ids: DataFrame)(implicit spark: SparkSession): DataFrame = {
    // NOT fanned (guide §2.5 would suggest it, but measured): the image
    // table is small and memoized once (Fixtures.imageHash), so a
    // repartition + 32-way sort bought c78 nothing measurable while the
    // range-exchange sampling pass put a 2× parallelism tax on the tiny
    // c77 row; the WAV encoders additionally contend on global
    // javax.sound SPI state when parallel (measured 2.5× slower fanned).
    // The VIDEO encoder below keeps its fan: per-row work there (frame
    // synthesis × n frames) is an order of magnitude heavier.
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.map { id =>
        val w = (id % 9 + 2).toInt
        val h = ((id * 3) % 7 + 2).toInt
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, (patR(id, x, y) << 16) | (patG(id, x, y) << 8) | patB(id, x, y))
            x += 1
          }
          y += 1
        }
        val fmt = if (id % 2 == 0) "png" else "bmp"
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** REAL pixel decode: `ImageIO.read` (JDK-shipped PNG/JPEG/GIF/BMP
    * readers — no native codec libraries) inside the same partition-batched
    * `mapPartitions` shape as [[decodeMeta]]. Emits exact integer channel
    * sums and extrema — the quantities an LLM-data pipeline filters on
    * (solid-color/blank detection, channel balance). Payloads that no
    * ImageIO reader recognizes yield null stats (the only remaining stub
    * territory: codecs the JDK doesn't ship, e.g. webp/video). */
  def decodePixels(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, p) =>
          val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(p))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) PixelStats(id, -1, -1, "unknown", 0L, 0L, 0L, 0L, 0, 0)
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val fmt = r.getFormatName.toLowerCase
              val img = r.read(0)
              val (w, h) = (img.getWidth, img.getHeight)
              var (sr, sg, sb) = (0L, 0L, 0L)
              var (mn, mx) = (255, 0)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val cr = (rgb >> 16) & 0xff; val cg = (rgb >> 8) & 0xff; val cb = rgb & 0xff
                  sr += cr; sg += cg; sb += cb
                  val lo = math.min(cr, math.min(cg, cb)); val hi = math.max(cr, math.max(cg, cb))
                  if (lo < mn) mn = lo
                  if (hi > mx) mx = hi
                  x += 1
                }
                y += 1
              }
              PixelStats(id, w, h, fmt, w.toLong * h, sr, sg, sb, mn, mx)
            } finally r.dispose()
          }
        }
      }.toDF()
  }

  case class AHash(doc_id: Long, width: Int, height: Int, ahash: Long)

  /** Perceptual average-hash (aHash) — the standard cheap image-near-dup
    * sketch: integer luminance (r+g+b)/3 per pixel, threshold against the
    * image's integer mean luminance, one bit per pixel in row-major order
    * (first 64 pixels). All-integer math, so the hash is bit-identical
    * across engines and through the real codec round trip; downstream
    * dedup is plain exact/Hamming grouping on the LONG (the SimHash
    * machinery's shape). Unrecognized payloads hash to -1 dimensions. */
  def imageAHash(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, p) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          if (img == null) AHash(id, -1, -1, 0L)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val n = w * h
            val gray = new Array[Int](n)
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                gray(y * w + x) = g
                sum += g
                x += 1
              }
              y += 1
            }
            val mean = sum / n
            var hash = 0L
            var i = 0
            val lim = math.min(64, n)
            while (i < lim) {
              if (gray(i) > mean) hash |= (1L << i)
              i += 1
            }
            AHash(id, w, h, hash)
          }
        }
      }.toDF()
  }

  case class DHash(doc_id: Long, width: Int, height: Int, dhash: Long)

  /** Perceptual difference-hash (dHash) — the gradient twin of
    * [[imageAHash]]: bit i set iff luminance(i) > luminance(i+1) in
    * row-major order (first 64 adjacent pairs). Comparing ADJACENT
    * pixels instead of the global mean makes the hash invariant to
    * uniform brightness shifts — the aHash's classic failure mode
    * (re-encoded/gamma-shifted copies flip many aHash bits but almost
    * no dHash bits; spec-pinned). Same all-integer math, same LONG
    * shape, so [[graft.ext.Dedup.hammingPairs64]] bands it unchanged. */
  def imageDHash(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, p) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          if (img == null) DHash(id, -1, -1, 0L)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val n = w * h
            val gray = new Array[Int](n)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                gray(y * w + x) =
                  (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                x += 1
              }
              y += 1
            }
            var hash = 0L
            var i = 0
            val lim = math.min(64, n - 1)
            while (i < lim) {
              if (gray(i) > gray(i + 1)) hash |= (1L << i)
              i += 1
            }
            DHash(id, w, h, hash)
          }
        }
      }.toDF()
  }

  case class ResizedPx(doc_id: Long, width: Int, height: Int,
                       ox: Int, oy: Int, r: Int, g: Int, b: Int)

  /** REAL-codec image RESIZE — block-mean (area-average) downscale to
    * `outW`×`outH` through `ImageIO.read`: source pixel (x, y) belongs to
    * output cell (x·outW / w, y·outH / h) (the standard area partition),
    * each cell emits the integer mean per channel (sum / count, exact
    * integer division — so the oracle replays the means analytically from
    * the fixture's closed-form pattern). One output row per cell keeps
    * the schema flat and the compare sortable; images smaller than the
    * target emit only their populated cells (no upsampling — a pipeline
    * resizes down for thumbnailing/feature extraction). Same
    * partition-batched mapPartitions shape as [[decodePixels]];
    * unrecognized payloads emit nothing. */
  def imageResize(payloads: DataFrame, outW: Int, outH: Int)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, p) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          if (img == null) Iterator.empty
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val sums = Array.ofDim[Long](outH, outW, 3)
            val cnts = Array.ofDim[Long](outH, outW)
            var y = 0
            while (y < h) {
              val oy = y * outH / h
              var x = 0
              while (x < w) {
                val ox = x * outW / w
                val rgb = img.getRGB(x, y)
                sums(oy)(ox)(0) += (rgb >> 16) & 0xff
                sums(oy)(ox)(1) += (rgb >> 8) & 0xff
                sums(oy)(ox)(2) += rgb & 0xff
                cnts(oy)(ox) += 1
                x += 1
              }
              y += 1
            }
            for {
              oy <- Iterator.range(0, outH)
              ox <- Iterator.range(0, outW)
              if cnts(oy)(ox) > 0
            } yield ResizedPx(id, w, h, ox, oy,
              (sums(oy)(ox)(0) / cnts(oy)(ox)).toInt,
              (sums(oy)(ox)(1) / cnts(oy)(ox)).toInt,
              (sums(oy)(ox)(2) / cnts(oy)(ox)).toInt)
          }
        }
      }.toDF()
  }

  // ---- audio ----------------------------------------------------------

  case class WavStats(doc_id: Long, sample_rate: Int, channels: Int,
                      bits: Int, n_samples: Long, duration_ms: Long,
                      sum_sq: Long, peak: Int, rms: Double)

  /** The deterministic test waveform: sample i of doc `id` (16-bit signed,
    * the md5-free analog of the image pattern — a closed form any engine
    * replays). */
  @inline private[graft] def patS(id: Long, i: Int): Int =
    (((id * 31 + i * 7) % 65536) - 32768).toInt

  /** Audio fixture generator: the test waveform encoded into GENUINE WAV
    * bytes by the JDK's own audio writer (`javax.sound.sampled
    * .AudioSystem.write`, PCM_SIGNED 16-bit little-endian mono) — a real
    * RIFF/WAVE container, not hand-laid bytes; sample rate varies by id
    * (8/12/16/20 kHz). */
  def encodeTestWavs(ids: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val rate = (8000 + (id % 4) * 4000).toInt
        val n = (64 + id % 64).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = patS(id, i)
          pcm(i * 2) = (s & 0xff).toByte          // little-endian
          pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          rate.toFloat, 16, 1, 2, rate.toFloat, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  case class WavFrames(doc_id: Long, n_frames: Long, n_active: Long,
                       zero_crossings: Long, max_frame_energy: Long)

  /** Frame-level audio analysis — the MFCC/VAD precursor shape: fixed
    * `frameSize`-sample windows (tail truncated), per-frame energy Σs²
    * (exact LONG), frames whose energy exceeds `activeThreshold` ("voice
    * activity"), plus whole-signal zero-crossing count (the classic
    * cheap speech/tone discriminator). Same real-codec parse as
    * [[decodeWav]]; per-doc work is one linear pass. */
  def audioFrames(payloads: DataFrame, frameSize: Int, activeThreshold: Long)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            try {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              def sample(i: Int): Int =
                ((bytes(i * 2 + 1).toInt << 8) | (bytes(i * 2) & 0xff))
              var zc = 0L
              var i = 1
              while (i < n) {
                if ((sample(i - 1) < 0) != (sample(i) < 0)) zc += 1
                i += 1
              }
              val nFrames = n / frameSize
              var active = 0L
              var maxE = 0L
              var f = 0
              while (f < nFrames) {
                var e = 0L
                var j = f * frameSize
                val end = j + frameSize
                while (j < end) { val s = sample(j); e += s.toLong * s; j += 1 }
                if (e > activeThreshold) active += 1
                if (e > maxE) maxE = e
                f += 1
              }
              WavFrames(id, nFrames.toLong, active, zc, maxE)
            } finally ais.close()
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException => WavFrames(id, 0L, 0L, 0L, 0L)
          }
        }
      }.toDF()
  }

  case class WavDecimated(doc_id: Long, factor: Int, n_in: Long, n_out: Long,
                          sum_sq: Long, peak: Int, zero_crossings: Long)

  /** Audio RESAMPLE by integer decimation — keep every `factor`-th sample
    * through the real codec parse (the cheap rate-reduction a pipeline
    * applies before feature extraction; proper low-pass decimation swaps
    * in here, the plumbing is identical). Emits exact integers over the
    * KEPT samples: count, energy Σs² (LONG), |peak|, and sign changes
    * between consecutive kept samples — all analytically replayable by
    * the oracle from the fixture's closed-form waveform. */
  def audioDecimate(payloads: DataFrame, factor: Int)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(factor >= 1, s"decimation factor must be >= 1, got $factor")
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            try {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              def sample(i: Int): Int =
                ((bytes(i * 2 + 1).toInt << 8) | (bytes(i * 2) & 0xff))
              var (nOut, sumSq, peak, zc) = (0L, 0L, 0, 0L)
              var prev = 0
              var havePrev = false
              var i = 0
              while (i < n) {
                val s = sample(i)
                nOut += 1
                sumSq += s.toLong * s
                if (math.abs(s) > peak) peak = math.abs(s)
                if (havePrev && (prev < 0) != (s < 0)) zc += 1
                prev = s; havePrev = true
                i += factor
              }
              WavDecimated(id, factor, n.toLong, nOut, sumSq, peak, zc)
            } finally ais.close()
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException => WavDecimated(id, factor, 0L, 0L, 0L, 0, 0L)
          }
        }
      }.toDF()
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the WAV
    * container (format fields from the actual fmt chunk) and streams PCM
    * frames; per doc the exact-integer sample aggregates a pipeline
    * filters on — duration, energy (Σs², in LONG, so the later float rms
    * is a deterministic function of exact integers), clip peak. Same
    * partition-batched shape as [[decodePixels]]; non-audio payloads
    * yield a -1-rate row rather than an error (per-row isolation). */
  def decodeWav(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            try {
              val f = ais.getFormat
              val rate = f.getSampleRate.toInt
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              var sumSq = 0L
              var peak = 0
              var i = 0
              while (i < n) {
                val lo = bytes(i * 2) & 0xff
                val hi = bytes(i * 2 + 1).toInt
                val s = (hi << 8) | lo
                val a = math.abs(s)
                sumSq += s.toLong * s
                if (a > peak) peak = a
                i += 1
              }
              val rms = if (n == 0) 0.0
                else BigDecimal(math.sqrt(sumSq.toDouble / n))
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              WavStats(id, rate, f.getChannels, f.getSampleSizeInBits,
                n.toLong, n.toLong * 1000L / rate, sumSq, peak, rms)
            } finally ais.close()
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException =>
              WavStats(id, -1, 0, 0, 0L, 0L, 0L, 0, 0.0)
          }
        }
      }.toDF()
  }

  /** md5-mixed test waveform for the NEAR-DUP fixture: sample i of doc
    * `id` is a 60-bit md5 draw folded to 16-bit signed. Unlike [[patS]]'s
    * linear ramp (whose energy contour is a near-monotone V — every doc's
    * contour hash collides), md5 mixing makes unrelated docs' contours
    * independent (measured: unrelated same-length pairs ≥ 12 bits apart,
    * planted twins 0), so Hamming ≤ 3 separates cleanly. */
  @inline private[graft] def patA(id: Long, i: Int): Int =
    (graft.functions.Hashing.md5Long60Jvm(s"aud:$id:$i") % 65536L).toInt - 32768

  /** Near-dup audio fixture: every doc gets an md5-mixed waveform
    * ([[patA]], 96..127 samples, 8 kHz) through the real JDK WAV writer;
    * docs with `id % twinEvery == 0` additionally emit a TWIN
    * (id + 10_000_000) — the same signal re-leveled by s − ⌊s/8⌋ (≈ −1 dB,
    * floor division so both engines agree on negatives), the re-encoded/
    * re-mastered copy an audio dedup must catch. */
  def encodeTestWavsTwinned(ids: DataFrame, twinEvery: Long = 97)
                           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        val n = (96 + id % 32).toInt
        val base = Array.tabulate(n)(i => patA(id, i))
        def wav(samples: Array[Int]): Array[Byte] = {
          val pcm = new Array[Byte](samples.length * 2)
          var i = 0
          while (i < samples.length) {
            pcm(i * 2) = (samples(i) & 0xff).toByte
            pcm(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            8000f, 16, 1, 2, 8000f, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          bos.toByteArray
        }
        val orig = (id, wav(base))
        if (id % twinEvery == 0)
          Seq(orig, (id + 10_000_000L,
            wav(base.map(s => s - Math.floorDiv(s, 8)))))
        else Seq(orig)
      }
    }.toDF("doc_id", "payload")
  }

  case class AudioHash(doc_id: Long, n_frames: Long, ehash: Long)

  /** Energy-contour perceptual hash — the audio analog of [[imageDHash]]:
    * bit f = energy(frame f) > energy(frame f+1) over fixed
    * `frameSize`-sample frames (tail partials dropped). Level-invariant
    * for any monotone gain (comparisons see relative energies only), so a
    * re-mastered copy hashes identically while unrelated md5-mixed
    * signals land ~half the bits apart. Exact LONG integer math through
    * the REAL codec parse; near-dup pairs ride the banded
    * [[graft.ext.Dedup.hammingPairs64]] machinery unchanged. */
  def audioEnergyHash(payloads: DataFrame, frameSize: Int = 2)
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            try {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              def sample(i: Int): Int =
                (bytes(i * 2 + 1).toInt << 8) | (bytes(i * 2) & 0xff)
              val nf = n / frameSize
              val e = new Array[Long](nf)
              var f = 0
              while (f < nf) {
                var j = f * frameSize
                val end = j + frameSize
                var acc = 0L
                while (j < end) { val s = sample(j); acc += s.toLong * s; j += 1 }
                e(f) = acc
                f += 1
              }
              var h = 0L
              var b = 0
              val lim = math.min(nf - 1, 63)
              while (b < lim) { if (e(b) > e(b + 1)) h |= 1L << b; b += 1 }
              AudioHash(id, nf.toLong, h)
            } finally ais.close()
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException => AudioHash(id, 0L, 0L)
          }
        }
      }.toDF()
  }

  case class WalshRow(doc_id: Long, frame: Int, k: Int, w: Long, power: Long)

  /** Sequency-domain (Walsh–Hadamard) band coefficients per fixed-size
    * frame — the spectral-feature step of an audio pipeline with an
    * INTEGER-EXACT transform: W_k(frame) = Σ_i (−1)^popcount(i∧k)·s_i
    * over the frame's samples (i = position within the frame), power =
    * W_k². A production MFCC swaps the DFT + mel filterbank in here —
    * the decode/frame/transform/feature-row plumbing is identical — but
    * Walsh's ±1 coefficients keep every value exact-integer, so the
    * oracle replays it bit-for-bit where a float cos() could differ by
    * an ulp across engines. Tail-partial frames drop (the
    * [[audioEnergyHash]] rule); |W_k| ≤ frameSize·32768, so power fits
    * LONG with ~20 bits to spare. One linear codec pass per file, no
    * shuffle. */
  def audioWalshBands(payloads: DataFrame, frameSize: Int = 16,
                      bands: Seq[Int] = Seq(1, 5, 15))
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(bands.forall(k => k >= 0 && k < frameSize),
      s"bands must be in [0, $frameSize), got $bands")
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(p))
            try {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              def sample(i: Int): Int =
                (bytes(i * 2 + 1).toInt << 8) | (bytes(i * 2) & 0xff)
              val nf = n / frameSize
              for (f <- 0 until nf; k <- bands) yield {
                var w = 0L
                var i = 0
                while (i < frameSize) {
                  val s = sample(f * frameSize + i).toLong
                  w += (if (java.lang.Integer.bitCount(i & k) % 2 == 1) -s else s)
                  i += 1
                }
                WalshRow(id, f, k, w, w * w)
              }
            } finally ais.close()
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException => Seq.empty[WalshRow]
          }
        }
      }.toDF()
  }

  // ---------------- video container demux (deterministic fake codec) ---

  /** Deterministic synthetic video container "GRV1": 4-byte magic + width
    * + height + frame count (one byte each) + `n` gray frames of w·h
    * pixel bytes. The JDK ships NO video codec (the documented stub
    * territory), so the container is our own — what is REAL here is the
    * binary demux plumbing a production decoder would plug into: header
    * parse, per-frame byte slicing, exact-integer frame statistics, the
    * explode-to-frame-rows shape. Every 4th frame REPEATS frame 0 —
    * the static-scene/letterbox pattern video near-dup must catch. Pixel
    * (id, f, x, y) = (id·31 + f·7 + x·11 + y·13) mod 256, the c19
    * analytic-pattern trick, so a DuckDB oracle reproduces every frame
    * without touching a byte. */
  @inline private[graft] def vidPx(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f.toLong * 7 + x.toLong * 11 + y.toLong * 13) % 256).toInt

  /** `introGroup > 0` switches the fixture to SHARED-INTRO mode: videos
    * in the same group of `introGroup` consecutive ids share dimensions
    * (derived from the group id) and their static frames render the
    * GROUP's pattern — byte-identical intro/outro cards across different
    * videos, the cross-video duplicate-frame case. */
  def encodeTestVideos(ids: DataFrame, introGroup: Int = 0)
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.ext.Dedup.fan(ids.select(col("doc_id")), col("doc_id"))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        val base = if (introGroup > 0) id - id % introGroup else id
        val w = (base % 5 + 2).toInt
        val h = ((base * 3) % 4 + 2).toInt
        val n = (id % 9 + 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        bos.write('G'); bos.write('R'); bos.write('V'); bos.write('1')
        bos.write(w); bos.write(h); bos.write(n)
        var f = 0
        while (f < n) {
          // static-scene repeats of frame 0; in shared-intro mode the
          // static frames render the GROUP pattern
          val staticFrame = f % 4 == 0
          val pid = if (staticFrame && introGroup > 0) base else id
          val fe = if (staticFrame) 0 else f
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { bos.write(vidPx(pid, fe, x, y)); x += 1 }
            y += 1
          }
          f += 1
        }
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  case class VideoFrame(doc_id: Long, frame_idx: Int, px_sum: Long,
                        px_min: Int, px_max: Int, px_n: Int)

  /** Demux + per-frame exact-integer stats: one linear pass per payload,
    * frames explode to rows (the shape frame-level models consume).
    * Unrecognized magic yields no rows (per-row isolation, the A17
    * convention). */
  def videoFrames(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        if (p.length < 7 || p(0) != 'G' || p(1) != 'R' || p(2) != 'V' || p(3) != '1')
          Iterator.empty
        else {
          val w = p(4) & 0xff; val h = p(5) & 0xff; val n = p(6) & 0xff
          val fsz = w * h
          // truncated container (declared frames past the payload end) is
          // corrupt input → isolate like a bad magic, don't throw
          if (p.length < 7 + n.toLong * fsz) Iterator.empty
          else {
          (0 until n).iterator.map { f =>
            val off = 7 + f * fsz
            var s = 0L; var mn = 255; var mx = 0
            var i = off
            val end = off + fsz
            while (i < end) {
              val v = p(i) & 0xff
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            VideoFrame(id, f, s, mn, mx, fsz)
          }
          }
        }
      }.toDF()
  }

  /** Cross-VIDEO duplicate frames: pairs of different videos sharing
    * byte-identical frames (shared intro/outro cards, syndicated
    * content) by joining frame signatures — `shared_frames` counts the
    * matching frame PAIRS (a card appearing twice in each video yields
    * 2×2). The signature join is the production near-dup shape: work is
    * quadratic only WITHIN a signature value (the banded-join argument —
    * a signature shared by k frames contributes k² pairs because those
    * pairs ARE the answer), and at 100 TB the exact (sum,min,max) triple
    * would widen to the frame aHash (c77) with the c78 banding. */
  def crossVideoDupFrames(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val fr = videoFrames(payloads).select(col("doc_id"),
      // px_n in the signature: (sum,min,max) alone can collide across
      // DIFFERENT-SIZED frames, which would not be byte-identical
      struct(col("px_sum"), col("px_min"), col("px_max"), col("px_n")).as("sig"))
    val a = fr.select(col("doc_id").as("doc_a"), col("sig"))
    val b = fr.select(col("doc_id").as("doc_b"), col("sig"))
    a.join(b, Seq("sig")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_frames"))
  }

  /** Static-scene summary per video: frame count, distinct frame
    * signatures (exact (sum, min, max) triples over the raw bytes), and
    * how many frames share frame 0's signature — the letterbox/static
    * fraction a frame-sampling pipeline uses to skip dead footage. One
    * demux pass + one doc-keyed agg. */
  /** Keyframe selection by scene-change detection: a frame starts a new
    * scene when its mean-pixel delta vs the PREVIOUS frame exceeds
    * `meanDeltaThreshold` (|Δ px_sum| > threshold · px_n — exact integer
    * comparison, no float in the cut decision); frame 0 always opens
    * scene 0. Emits only the keyframes (one per scene), the frames a
    * sampling pipeline would decode/feature-extract — the "frame-sample"
    * step of the brief run as change detection instead of a fixed
    * stride. One shuffle on doc_id; the lag and the running scene count
    * share the partitioning. Per-video frame counts are bounded, so the
    * window never sees unbounded partitions at scale. */
  def videoKeyframes(payloads: DataFrame, meanDeltaThreshold: Int = 32)
                    (implicit spark: SparkSession): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    videoFrames(payloads)
      .withColumn("_prev", lag("px_sum", 1).over(w))
      .withColumn("_cut", col("_prev").isNull ||
        abs(col("px_sum") - col("_prev")) > lit(meanDeltaThreshold.toLong) * col("px_n"))
      .withColumn("scene_idx",
        (sum(when(col("_cut"), 1L).otherwise(0L)).over(w) - 1).cast("int"))
      .filter(col("_cut"))
      .select(col("doc_id"), col("frame_idx"), col("scene_idx"), col("px_sum"))
  }

  def videoStaticScenes(payloads: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val fr = videoFrames(payloads)
    val f0 = fr.filter(col("frame_idx") === 0)
      .select(col("doc_id"), col("px_sum").as("_s0"),
        col("px_min").as("_m0"), col("px_max").as("_x0"))
    fr.join(f0, "doc_id")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(struct(col("px_sum"), col("px_min"), col("px_max")))
          .as("n_distinct"),
        sum(when(col("px_sum") === col("_s0") && col("px_min") === col("_m0") &&
          col("px_max") === col("_x0"), 1L).otherwise(0L)).as("n_static"))
      .withColumn("static_ratio",
        round(col("n_static").cast("double") / col("n_frames"), 4))
  }
}
