package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [EXT] Multimodal columns: image/audio/video payloads ride through the
  * pipeline as opaque BINARY columns plus a typed metadata struct — the
  * layout that scales, because Spark never interprets the bytes until an
  * explicit decode stage, and columnar parquet keeps the metadata
  * scannable without touching the blobs.
  *
  * Codec-touching steps (decode/resize/frame-sample) run per-partition in
  * `mapPartitions` so codec/model initialization amortizes per partition
  * (the Scala analogue of a batched Pandas UDF).
  *
  * IMAGES decode for REAL: the JDK ships PNG/JPEG codecs
  * (`javax.imageio.ImageIO`), so no external dependency is needed — the
  * same zero-dependency argument as `sources.ExcelIngest`. `imageStats`
  * and the image branch of `extractFeatures` run an actual
  * bytes→pixels decode. AUDIO also decodes for REAL: the JDK ships
  * WAV/AIFF/AU container parsing and PCM decoding
  * (`javax.sound.sampled.AudioSystem`) — `audioStats` and the audio
  * branch of `extractFeatures` run an actual bytes→samples decode for
  * 16-bit PCM payloads (the dominant raw-audio interchange format).
  * Compressed audio (mp3/aac) and video codecs are NOT in the JDK, so
  * those payloads still go through `fakeDecode`, a clearly-marked
  * DETERMINISTIC STUB with the same signature and cost shape (reads
  * every byte once); swap it for a codec call to productionize them.
  */
object Multimodal {

  /** media(id, kind, meta{width,height,duration_ms,format}, payload). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", IntegerType),
      StructField("format", StringType)))),
    StructField("payload", BinaryType)))

  final case class MediaFeature(
      media_id: Long, kind: String, n_bytes: Long, features: Array[Float])

  final case class ImageStats(
      media_id: Long, n_bytes: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decode one image payload with the JDK's ImageIO. Returns None when
    * no registered reader recognizes the bytes (wrong magic, truncated
    * stream) — callers treat that as "not an image", never as an error,
    * so one corrupt blob can't fail a 100 TB scan. */
  private[multimodal] def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload == null || payload.length == 0) None
    else scala.util.Try(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      .toOption.flatMap(Option(_))

  /** Per-channel sums over a decoded image, via the sRGB int view —
    * exact for 8-bit truecolor PNG (lossless codec, no color profile). */
  private def channelSums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** REAL decode features for an image: a dim-bin luminance histogram
    * (integer BT.601-ish weights, integer division — exactly replayable
    * arithmetic) normalized by pixel count. */
  private[multimodal] def imageHistogram(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        val lum = (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
        out(lum * dim / 256) += 1.0f
        x += 1
      }
      y += 1
    }
    val n = math.max(1, img.getWidth * img.getHeight)
    var j = 0
    while (j < dim) { out(j) /= n; j += 1 }
    out
  }

  final case class AudioStats(
      media_id: Long, n_bytes: Long, sample_rate: Int, channels: Int,
      n_frames: Long, peak_abs: Long, sumsq: Long, rms: Double)

  /** Decode one audio payload with the JDK's AudioSystem. Returns the
    * parsed format plus the interleaved 16-bit samples for PCM_SIGNED
    * 16-bit streams (both endiannesses); None when no registered reader
    * recognizes the container or the encoding isn't 16-bit PCM — callers
    * treat that as "not decodable audio", never as an error, same
    * contract as [[decodeImage]]. */
  private[multimodal] def decodeAudio(
      payload: Array[Byte]): Option[(javax.sound.sampled.AudioFormat, Array[Short])] =
    if (payload == null || payload.length == 0) None
    else scala.util.Try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val out = new Array[Short](n)
          var i = 0
          if (fmt.isBigEndian)
            while (i < n) {
              out(i) = (((bytes(2 * i) & 0xff) << 8) | (bytes(2 * i + 1) & 0xff)).toShort
              i += 1
            }
          else
            while (i < n) {
              out(i) = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
              i += 1
            }
          Some((fmt, out))
        }
      } finally in.close()
    }.toOption.flatten

  /** REAL decode features for 16-bit PCM audio: a dim-bin amplitude
    * histogram (integer arithmetic — exactly replayable) normalized by
    * sample count. */
  private[multimodal] def audioHistogram(samples: Array[Short], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < samples.length) {
      out(((samples(i).toInt + 32768) * dim) / 65536) += 1.0f
      i += 1
    }
    val n = math.max(1, samples.length)
    var j = 0
    while (j < dim) { out(j) /= n; j += 1 }
    out
  }

  /** STUB decode: deterministic features derived from the payload bytes.
    * Stands in for audio/video-decode → embed (no such codecs in the
    * JDK); same signature and cost shape (reads every byte once), so the
    * pipeline around it is honest. */
  private[multimodal] def fakeDecode(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < payload.length) {
      h ^= payload(i); h *= 0x100000001b3L
      out(math.abs((h % dim).toInt)) += 1.0f
      i += 1
    }
    val n = math.max(1, payload.length)
    var j = 0
    while (j < dim) { out(j) /= n; j += 1 }
    out
  }

  /** Feature extraction over the binary column: per-partition batches so
    * codec/model init amortizes. Image rows that ImageIO can decode get
    * REAL pixel-derived features (luminance histogram); audio rows that
    * AudioSystem can decode to 16-bit PCM get REAL sample-derived
    * features (amplitude histogram); unrecognized payloads and video
    * rows fall through to the deterministic stub. Returns a typed
    * Dataset. */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // decode in-memory, no temp-file cache
        rows.map { case (id, kind, payload) =>
          val bytes = if (payload == null) Array.empty[Byte] else payload
          val feats = kind match {
            case "image" => decodeImage(bytes) match {
              case Some(img) => imageHistogram(img, dim)
              case None => fakeDecode(bytes, dim)
            }
            case "audio" => decodeAudio(bytes) match {
              case Some((_, samples)) => audioHistogram(samples, dim)
              case None => fakeDecode(bytes, dim)
            }
            case _ => fakeDecode(bytes, dim)
          }
          MediaFeature(id, kind, bytes.length.toLong, feats)
        }
      }
  }

  /** REAL audio decode: bytes → samples via JDK AudioSystem, per
    * partition so reader lookup amortizes. Emits format facts plus exact
    * integer sample statistics (peak, sum of squares — both exact in
    * Long for any realistic clip) and the IEEE rms; rows whose payload
    * isn't decodable 16-bit PCM are dropped (pair with a count upstream
    * when the drop rate matters). */
  def audioStats(media: DataFrame): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    decodedRows(media, "audio", decodeAudio) { case (id, payload, (fmt, samples)) =>
      var peak = 0L; var sumsq = 0L
      var i = 0
      while (i < samples.length) {
        val s = samples(i).toLong
        if (math.abs(s) > peak) peak = math.abs(s)
        sumsq += s * s
        i += 1
      }
      val nFrames = samples.length.toLong / math.max(1, fmt.getChannels)
      AudioStats(id, payload.length.toLong, fmt.getSampleRate.toInt,
        fmt.getChannels, nFrames, peak, sumsq,
        math.sqrt(sumsq.toDouble / math.max(1, samples.length)))
    }
  }

  /** Per-partition decode of the `kind` rows: each (media_id, payload)
    * that `decode` accepts becomes `f`'s row, the rest are dropped.
    * ImageIO decodes in memory, with no temp-file cache. */
  private def decodedRows[D, T: Encoder](
      media: DataFrame, kind: String, decode: Array[Byte] => Option[D])(
      f: (Long, Array[Byte], D) => T): Dataset[T] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === kind)
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, payload) => decode(payload).map(f(id, payload, _)) }
      }
  }

  /** REAL image decode: bytes → pixels via JDK ImageIO, per-partition so
    * reader lookup amortizes. Emits dimensions + per-channel means; rows
    * whose payload no reader recognizes are dropped (pair with a count
    * upstream when the drop rate matters). */
  def imageStats(media: DataFrame): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    decodedRows(media, "image", decodeImage) { (id, payload, img) =>
      val (sr, sg, sb) = channelSums(img)
      val n = img.getWidth.toLong * img.getHeight
      ImageStats(id, payload.length.toLong, img.getWidth, img.getHeight,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }
  }

  /** Perceptual image hash (pooled dHash): decode, pool luminance into a
    * gx×gy grid, emit one bit per horizontally adjacent cell pair —
    * bit((cx,cy)) = 1 iff mean(cx+1,cy) > mean(cx,cy) — packed row-major
    * into a long ((gx−1)·gy bits). Gradient-sign hashes survive uniform
    * brightness/contrast shifts and small pixel edits, which byte-level
    * (md5) dedup cannot: this is the image half of the near-dup family.
    *
    * Exactness: luminance is the integer BT.601 formula
    * (r·299+g·587+b·114)/1000, cells are integer index maps
    * (cx = x·gx/w), and the mean comparison is CROSS-MULTIPLIED —
    * sumR·cntL > sumL·cntR — so the whole hash is integer arithmetic a
    * SQL oracle replays bit-for-bit from the fixture pixel formulas
    * (same contract as [[imageStats]]). No floats anywhere.
    *
    * Images narrower/shorter than the grid are dropped (a cell would be
    * empty; callers filter such thumbnails by meta first). Output:
    * (media_id, w, h, phash). */
  def imagePHash(media: DataFrame, gx: Int = 5, gy: Int = 4): DataFrame = {
    require(gx >= 2 && gy >= 1 && (gx - 1) * gy <= 64,
      s"grid ($gx x $gy) must fit 64 comparison bits")
    import media.sparkSession.implicits._
    val gridSized = (p: Array[Byte]) =>
      decodeImage(p).filter(i => i.getWidth >= gx && i.getHeight >= gy)
    decodedRows(media, "image", gridSized) { (id, _, img) =>
      val w = img.getWidth; val h = img.getHeight
      val sums = Array.ofDim[Long](gx * gy)
      val cnts = Array.ofDim[Long](gx * gy)
      var y = 0
      while (y < h) {
        val cy = y * gy / h
        var x = 0
        while (x < w) {
          val cx = x * gx / w
          val p = img.getRGB(x, y)
          val lum = (((p >> 16) & 0xff) * 299 +
            ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
          sums(cy * gx + cx) += lum
          cnts(cy * gx + cx) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var cy = 0
      while (cy < gy) {
        var cx = 0
        while (cx < gx - 1) {
          val l = cy * gx + cx; val r = l + 1
          // mean(r) > mean(l) without division: exact in Long
          // (sums ≤ 255·w·h, counts ≤ w·h — far inside 63 bits)
          if (sums(r) * cnts(l) > sums(l) * cnts(r))
            hash |= 1L << (cy * (gx - 1) + cx)
          cx += 1
        }
        cy += 1
      }
      (id, w, h, hash)
    }.toDF("media_id", "w", "h", "phash")
  }

  /** Shared pigeonhole chunk-blocked Hamming-pair machinery for the
    * media fingerprint paths: split `bits` hash bits into maxHamming+1
    * chunks, equi-join on (chunk, cval) — recall is structural (any
    * pair within the budget agrees on ≥1 whole chunk) — then ONE
    * map-side bit_count verify. The (chunk, cval) buckets go through
    * [[graft.operators.Dedup.capBuckets]] FIRST: a degenerate media
    * cluster (monochrome thumbnails, silent clips) or plain birthday
    * collisions at n ≫ 2^(bits/chunks) would otherwise make one bucket
    * quadratic — the same over-cap broadcast anti-join + observe()
    * discipline every text/embedding near-dup path has (SCALE.md's
    * "cap, anti-join, ids-only shuffles" rule; dropped clusters are
    * the exact-dedup-by-fingerprint regime, reported, never silent). */
  private def chunkBlockedHammingPairs(
      hashed: DataFrame, // (media_id, fp)
      bits: Int,
      maxHamming: Int,
      bucketCap: Int,
      op: String): DataFrame = {
    val chunks = maxHamming + 1
    require(chunks <= bits, s"maxHamming $maxHamming needs more bits than $bits")
    require(bucketCap > 1, s"bucketCap must be > 1, got $bucketCap")
    val per = bits / chunks
    val chunked = hashed.select(col("media_id"), col("fp"),
      explode(array((0 until chunks).map { c =>
        val lo = c * per
        // last chunk absorbs the remainder bits
        val width = if (c == chunks - 1) bits - lo else per
        val mask = (1L << width) - 1
        struct(lit(c).as("chunk"),
          shiftright(col("fp"), lo).bitwiseAND(lit(mask)).as("cval"))
      }: _*)).as("cc"))
      .select(col("media_id"), col("fp"),
        col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    val pruned = graft.operators.Dedup.capBuckets(
      chunked, Seq("chunk", "cval"), bucketCap, op)
    val l = pruned.select(col("chunk"), col("cval"),
      col("media_id").as("id_a"), col("fp").as("fp_a"))
    val r = pruned.select(col("chunk"), col("cval"),
      col("media_id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Pooled-grid size whose pHash carries enough CHUNK ENTROPY for a
    * corpus of `n` images: each of the maxHamming+1 pigeonhole chunks
    * needs ~log₂(n / targetBucketWidth) bits or random fingerprints
    * collide into super-linear buckets (the
    * [[graft.operators.Dedup.sizedBandBits]] law, applied to media).
    * Returns (gx, gy) with (gx−1)·gy ≥ chunks·bandBits, capped at 60
    * bits (the fingerprint lives in one long). The default 5×4 grid
    * (16 bits) is right for ~10⁴ images; 10⁹ wants ~28 bits/chunk →
    * the cap, i.e. a 16×4 grid. */
  def sizedImageGrid(n: Long, maxHamming: Int = 2): (Int, Int) = {
    val bits = sizedFingerprintBits(n, maxHamming)
    // fixed 4 pooling rows (vertical detail saturates quickly on
    // thumbnails); columns carry the scale-driven entropy
    val gy = 4
    val gx = (bits + gy - 1) / gy + 1
    (gx, gy)
  }

  /** Envelope window count for [[audioEnergyFingerprint]] sized the same
    * way: windows − 1 comparison bits ≥ chunks·bandBits, capped at 60. */
  def sizedAudioWindows(n: Long, maxHamming: Int = 2): Int =
    sizedFingerprintBits(n, maxHamming) + 1

  private def sizedFingerprintBits(n: Long, maxHamming: Int): Int = {
    val chunks = maxHamming + 1
    math.min(60, math.max(16,
      chunks * graft.operators.Dedup.sizedBandBits(n)))
  }

  /** Image near-dup pairs by pHash Hamming distance ≤ `maxHamming`,
    * chunk-blocked and skew-capped (see [[chunkBlockedHammingPairs]]).
    * Fixed (gx, gy) keeps the oracle replayable; size the grid with
    * [[sizedImageGrid]] (or call [[imageNearDupPairsAuto]]) so chunk
    * entropy grows with the corpus. Output: (id_a, id_b, hamming),
    * id_a < id_b, ordered. */
  def imageNearDupPairs(
      media: DataFrame,
      maxHamming: Int = 2,
      gx: Int = 5,
      gy: Int = 4,
      bucketCap: Int = 1000): DataFrame =
    chunkBlockedHammingPairs(
      imagePHash(media, gx, gy).select(col("media_id"), col("phash").as("fp")),
      bits = (gx - 1) * gy, maxHamming, bucketCap, "image_phash")

  /** [[imageNearDupPairs]] with the pooling grid sized from the corpus
    * itself: ONE bounded action (a count — the same index-build class
    * as the LSH calibrators) feeds [[sizedImageGrid]]. The row count is
    * an upper bound on decodable images, which only ever ADDS bits. */
  def imageNearDupPairsAuto(
      media: DataFrame,
      maxHamming: Int = 2,
      bucketCap: Int = 1000): DataFrame = {
    val n = media.filter(col("kind") === "image").count()
    val (gx, gy) = sizedImageGrid(math.max(n, 1L), maxHamming)
    imageNearDupPairs(media, maxHamming, gx, gy, bucketCap)
  }

  final case class AudioFp(media_id: Long, afp: Long, n_frames: Long)

  /** Audio fingerprint: the 1-D analogue of [[imagePHash]]'s pooled
    * dHash, on the energy envelope. Samples split into `windows`
    * integer-boundary segments (segment w = frames [w·n/W, (w+1)·n/W)
    * — pure integer division, oracle-replayable); bit w of the
    * fingerprint is energy(w+1) > energy(w). Like the image hash this
    * is translation-of-loudness invariant (comparisons, not absolute
    * energies) and pure integer arithmetic end to end — a DuckDB
    * oracle derives the identical bits from a synthetic fixture's
    * sample formula alone. Real decode via [[decodeAudio]] (JDK
    * AudioSystem), mapPartitions to amortize codec init. */
  def audioEnergyFingerprint(media: DataFrame, windows: Int = 33): Dataset[AudioFp] = {
    require(windows >= 2 && windows <= 65,
      s"windows must be in [2, 65] (bits fit a long), got $windows")
    import media.sparkSession.implicits._
    val longEnough = (p: Array[Byte]) => decodeAudio(p).filter(_._2.length >= windows)
    decodedRows(media, "audio", longEnough) { case (id, _, (_, samples)) =>
      val n = samples.length
      val energy = new Array[Long](windows)
      var w = 0
      while (w < windows) {
        val from = (w.toLong * n / windows).toInt
        val until = ((w + 1).toLong * n / windows).toInt
        var e = 0L
        var i = from
        while (i < until) {
          val s = samples(i).toLong
          e += s * s
          i += 1
        }
        energy(w) = e
        w += 1
      }
      var fp = 0L
      var b = 0
      while (b < windows - 1) {
        if (energy(b + 1) > energy(b)) fp |= (1L << b)
        b += 1
      }
      AudioFp(id, fp, n.toLong)
    }
  }

  /** Audio near-dup pairs by fingerprint Hamming distance, pigeonhole
    * chunk-blocked and skew-capped exactly like [[imageNearDupPairs]]
    * (see [[chunkBlockedHammingPairs]]). Fixed `windows` keeps the
    * oracle replayable; size it with [[sizedAudioWindows]] (or call
    * [[audioNearDupPairsAuto]]) so chunk entropy grows with the
    * corpus. No all-pairs join at any scale. */
  def audioNearDupPairs(
      media: DataFrame,
      maxHamming: Int = 2,
      windows: Int = 33,
      bucketCap: Int = 1000): DataFrame =
    chunkBlockedHammingPairs(
      audioEnergyFingerprint(media, windows).toDF()
        .select(col("media_id"), col("afp").as("fp")),
      bits = windows - 1, maxHamming, bucketCap, "audio_fp")

  /** [[audioNearDupPairs]] with the envelope resolution sized from the
    * corpus itself — same ONE-bounded-count discipline as
    * [[imageNearDupPairsAuto]]. */
  def audioNearDupPairsAuto(
      media: DataFrame,
      maxHamming: Int = 2,
      bucketCap: Int = 1000): DataFrame = {
    val n = media.filter(col("kind") === "audio").count()
    audioNearDupPairs(media, maxHamming,
      sizedAudioWindows(math.max(n, 1L), maxHamming), bucketCap)
  }

  /** [[syntheticWavs]] with shifted ids and ONE perturbed sample:
    * sample (i·37) mod n is forced to 12345 — a one-window energy bump
    * that moves at most the two adjacent envelope-comparison bits, so
    * each twin is a planted near-duplicate of its base at Hamming ≤ 2,
    * derivable by an oracle from the formulas alone. */
  def syntheticWavsPerturbed(
      spark: SparkSession, n: Int, idOffset: Long): DataFrame =
    wavs(spark, n, idOffset, perturbed = true)

  /** The WAV fixtures: clip i gets id `idOffset` + i, and with
    * `perturbed` its sample (i·37) mod n is 12345. */
  private def wavs(
      spark: SparkSession, n: Int, idOffset: Long, perturbed: Boolean): DataFrame = {
    val rows = (0 until n).map { i =>
      val nSamples = 800 + (i % 5) * 160
      val t0 = if (perturbed) (i * 37) % nSamples else -1
      val data = new Array[Byte](nSamples * 2)
      var t = 0
      while (t < nSamples) {
        val s =
          if (t == t0) 12345
          else ((t * 31 + i * 97) * 509) % 65536 - 32768
        data(2 * t) = (s & 0xff).toByte // little-endian
        data(2 * t + 1) = ((s >> 8) & 0xff).toByte
        t += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      Row(idOffset + i, "audio", Row(null, null, nSamples * 1000 / 8000, "wav"),
        bos.toByteArray)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), mediaSchema)
  }


  /** [[syntheticImages]] with shifted ids and ONE perturbed pixel: the
    * blue channel of pixel (0, 0) gets +`delta` (mod 256). Paired with
    * the base fixture this plants image near-duplicates whose decoded
    * pixels — and therefore whose pHash distance — an oracle derives
    * from the formulas alone. */
  def syntheticImagesPerturbed(
      spark: SparkSession, n: Int, idOffset: Long, delta: Int): DataFrame = {
    javax.imageio.ImageIO.setUseCache(false)
    val rows = (0 until n).map { i =>
      val w = 8 + i % 5
      val h = 6 + i % 4
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = (x * 3 + y * 5 + i * 7) % 256
          val g = (x * 11 + y * 13 + i * 17) % 256
          val d = if (x == 0 && y == 0) delta else 0
          val b = (x * 19 + y * 23 + i * 29 + d) % 256
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Row(idOffset + i, "image", Row(w, h, null, "png"), bos.toByteArray)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), mediaSchema)
  }

  /** Metadata-only pruning: filters/projections on `meta` never touch the
    * blobs (columnar parquet reads just the meta pages). */
  def filterByMeta(media: DataFrame, minWidth: Int): DataFrame =
    media.filter(col("kind") === "image" && col("meta.width") >= minWidth)
      .select("media_id", "meta")

  /** Frame sampling STUB for video rows: emits every k-th "frame index"
    * up to a cap, as (media_id, frame_idx, frame_feature). The real
    * decoder would seek; the plumbing (explode-shaped fan-out bounded by
    * a cap, never unbounded) is the part that matters at scale. */
  def sampleFrames(media: DataFrame, everyK: Int, cap: Int, dim: Int = 8): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "meta.duration_ms", "payload")
      .as[(Long, Option[Int], Array[Byte])]
      .flatMap { case (id, durMs, payload) =>
        val nFrames = math.min(cap, durMs.getOrElse(0) / 1000 / everyK)
        (0 until nFrames).map { f =>
          val bytes = if (payload == null) Array.empty[Byte] else payload
          (id, f, fakeDecode(bytes ++ Array(f.toByte), dim))
        }
      }
      .toDF("media_id", "frame_idx", "frame_feature")
  }

  /** Deterministic REAL-PNG fixture: image i is (8 + i%5) × (6 + i%4)
    * with pixel (x, y) = RGB((x*3 + y*5 + i*7) % 256,
    * (x*11 + y*13 + i*17) % 256, (x*19 + y*23 + i*29) % 256), encoded
    * with the JDK PNG writer. PNG is lossless and these images carry no
    * color profile, so bytes→pixels decode recovers the formula EXACTLY
    * — which is what lets a SQL oracle replay the decoded values. */
  def syntheticImages(spark: SparkSession, n: Int): DataFrame =
    syntheticImagesPerturbed(spark, n, 0L, delta = 0)

  /** Deterministic REAL-WAV fixture: clip i is mono 16-bit PCM at
    * 8 kHz with 800 + (i%5)·160 samples, sample(i, t) =
    * ((t·31 + i·97) · 509) mod 65536 − 32768 — pure integer arithmetic,
    * and WAV PCM is lossless, so bytes→samples decode recovers the
    * formula EXACTLY, which is what lets a SQL oracle replay the
    * decoded statistics (same construction as [[syntheticImages]]). */
  def syntheticWavs(spark: SparkSession, n: Int): DataFrame =
    wavs(spark, n, 0L, perturbed = false)

  /** Synthetic media fixture (deterministic) for tests/demos. */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      val payload = Array.tabulate[Byte](64 + i % 64)(b => ((b * (i + 7)) % 127).toByte)
      Row(i.toLong, kind,
        Row(640 + i % 7 * 160, 480 + i % 5 * 120, 1000 * (30 + i % 90), "synthetic"),
        payload)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), mediaSchema)
  }
}
