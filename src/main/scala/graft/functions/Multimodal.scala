package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.util.Lineage

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches.
  *
  * The Spark-side plumbing here is real and tested — schema, batch
  * iteration (`mapPartitions`, the JVM analog of an arrow-batch UDF),
  * partition sizing, deterministic outputs. The actual codec work is
  * STUBBED (`decodeStub`): this container has no image/audio libraries, so
  * decode derives deterministic fake features from the bytes. A production
  * deployment swaps `decodeStub` for a real codec behind the same
  * signature; nothing else changes.
  *
  * Scale notes: payloads never shuffle — every op below is a map; metadata
  * extraction projects only the needed bytes (`substr` on binary reads the
  * parquet page but prunes other columns); frame sampling emits offsets,
  * not copies.
  */
object Multimodal {

  /** Media-metadata schema attached alongside each binary payload. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType),
  ))

  /** Wrap a payload column with typed metadata (Column-tier, codegen'd). */
  def withMeta(df: DataFrame, payloadCol: String, mediaType: String): DataFrame =
    df.withColumn("meta", F.struct(
      F.lit(mediaType).as("media_type"),
      F.octet_length(F.col(payloadCol)).cast("long").as("n_bytes"),
      F.md5(F.col(payloadCol)).as("checksum")))

  /** Deterministic fake payload from text — stands in for real image bytes
    * in tests/benchmarks (driver container ships no media files). */
  def fakePayload(text: Column): Column = F.encode(text, "UTF-8")

  /** Frame-sample offsets: every `frameBytes`-th offset, up to `maxFrames`.
    * Emits (offset, length) structs — a real decoder seeks, never copies. */
  def frameOffsets(payload: Column, frameBytes: Int, maxFrames: Int): Column = {
    val n = F.octet_length(payload).cast("long")
    val nFrames = F.least(F.ceil(n / F.lit(frameBytes.toDouble)).cast("long"),
      F.lit(maxFrames.toLong))
    // guard: sequence(0, -1) would generate a DESCENDING range for an
    // empty payload
    F.when(nFrames > 0,
      F.transform(F.sequence(F.lit(0L), nFrames - 1),
        i => F.struct((i * frameBytes).as("offset"),
          F.least(F.lit(frameBytes.toLong), n - i * frameBytes).as("length")))
    ).otherwise(F.array().cast("array<struct<offset:bigint,length:bigint>>"))
  }

  /** Temporal frame subsampling: every `stride`-th frame of
    * [[frameOffsets]] — the "sample 1 fps from video" shape, as pure offset
    * arithmetic (a real decoder seeks to the kept offsets only). */
  def sampleFrames(payload: Column, frameBytes: Int, maxFrames: Int,
      stride: Int): Column = {
    // i % 0 is null in Spark (non-ANSI), so stride=0 would silently drop
    // every frame instead of erroring
    require(stride > 0, s"stride must be positive, got $stride")
    F.filter(frameOffsets(payload, frameBytes, maxFrames),
      (fr, i) => i % stride === 0)
  }

  /** STUB resize: deterministic byte-decimation standing in for an image
    * resize (keep every `factor`-th byte). Like [[decodeStub]], the
    * Spark-side contract is real — binary in, smaller binary out, batched
    * per partition — only the codec is fake. */
  def resizeStub(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
    out
  }

  /** Partition-batched resize over a binary column (same mapPartitions
    * batch shape as [[decodeFeatures]]); appends `resized`. */
  def resizePayloads(df: DataFrame, payloadCol: String, factor: Int): DataFrame = {
    val idx = df.columns.indexOf(payloadCol)
    require(idx >= 0, s"no column $payloadCol")
    val outSchema = StructType(df.schema.fields :+
      StructField("resized", org.apache.spark.sql.types.BinaryType))
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ (if (bytes == null) null else resizeStub(bytes, factor)))
      }
    }(enc)
  }

  /** Feature schema produced by the decode stage. */
  val FeatureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("sum_bytes", LongType),
    StructField("mean_byte", DoubleType),
    StructField("first_byte", IntegerType),
    StructField("feature", ArrayType(FloatType)),
  ))

  /** STUB decode: deterministic fake features from raw bytes (byte
    * histogramming standing in for pixel decode). Batch shape is the real
    * contract: one partition = one batch, features emitted per row. */
  def decodeStub(bytes: Array[Byte], featDim: Int = 8): Row = {
    var sum = 0L
    val hist = new Array[Long](featDim)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sum += b
      hist(b % featDim) += 1
      i += 1
    }
    val mean = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length
    val first = if (bytes.length == 0) -1 else bytes(0) & 0xff
    Row(bytes.length.toLong, sum, mean, first,
      hist.map(h => if (bytes.length == 0) 0f else h.toFloat / bytes.length))
  }

  /** Partition-batched decode over a binary column — the `mapInPandas`/
    * arrow-batch analog: rows stream through per-partition with setup cost
    * amortized once per batch (where a real codec would init its context). */
  def decodeFeatures(df: DataFrame, payloadCol: String, featDim: Int = 8): DataFrame = {
    val idx = df.columns.indexOf(payloadCol)
    require(idx >= 0, s"no column $payloadCol")
    val outSchema = StructType(df.schema.fields ++ FeatureSchema.fields)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      // per-batch codec init would go here (stub: nothing to init)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val feats = decodeStub(if (bytes == null) Array.emptyByteArray else bytes, featDim)
        Row.fromSeq(r.toSeq ++ feats.toSeq)
      }
    }(enc)
  }

  /** Byte-identical media dedup — the image/audio analogue of
    * [[graft.functions.Dedup.exactDupGroups]]: duplicate groups keyed by
    * the payload's md5 checksum, canonical id = min id per group. The
    * payload bytes never shuffle — only (32-char checksum, id) pairs move,
    * which is what makes this viable over terabytes of media. Re-encoded
    * or resized variants are NOT byte-identical; route those through the
    * embedding near-dup family instead. */
  def binaryDupGroups(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(F.md5(F.col(payloadCol)).as("checksum"), F.col(idCol))
      .groupBy("checksum")
      .agg(F.min(idCol).as("canonical_id"), F.count(F.lit(1)).as("n_copies"))

  // ---- pluggable codec SPI (the non-stub decode path) ----

  /** What a codec produces per payload. */
  val DecodedSchema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("feature", ArrayType(FloatType)),
  ))

  /** Media codec SPI: decode a payload into [[DecodedSchema]] (None when
    * the bytes aren't decodable by this codec). Implementations must be
    * serializable (they ship to executors) and thread-safe per instance.
    * `init()` runs once per partition batch — open native contexts there. */
  trait MediaCodec extends Serializable {
    def name: String
    def init(): Unit = ()
    def decode(bytes: Array[Byte], featDim: Int): Option[Row]
    /** `grid`×`grid` integer luma grid (row-major, values 0..255) for
      * perceptual hashing — the decoded image downscaled by per-cell
      * floor-average. None when this codec can't produce one (undecodable
      * bytes, or a modality where a luma grid is meaningless — audio's
      * perceptual fingerprints are chromaprint-shaped, not aHash-shaped).
      * Cells that map to no pixel (source smaller than the grid) are 0. */
    def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] = None
    /** `cells` spectral band powers scaled to 0..255 by a MONOTONE
      * per-payload normalization (order between bands is the signal; a
      * gradient hash over this grid is gain-invariant) — the
      * frequency-domain fingerprint for modalities where the time/space
      * grid confuses layout with content (audio: a time-shifted clip has
      * a different energy envelope but the same spectrum). None when the
      * codec has no spectral story (images, undecodable bytes). */
    def spectralGrid(bytes: Array[Byte], cells: Int): Option[Array[Int]] = None
  }

  /** Fixed-point Goertzel band powers over an integer sample stream —
    * the shared core of the codecs' [[MediaCodec.spectralGrid]]s. Band k
    * resonates at normalized frequency `(k+1)/(2·(bands+1))`, coefficient
    * `round(2·cos(2πf)·2¹⁴)` (Q2.14), recurrence
    * `s₀ = x + c·s₁/2¹⁴ − s₂` with TRUNCATING division (Scala `/` ==
    * DuckDB `//` == Spark `DIV` on the same operands — an arithmetic
    * shift floors instead, and the two round differently on negative
    * products; the oracle replays this recurrence, so the division must
    * be the one both engines share). Power = `s₁² + s₂² − (c·s₁/2¹⁴)·s₂`,
    * clamped at 0 against truncation undershoot. Caller bounds `n` so
    * `|s| ≤ amp·n` keeps every product far from Long overflow. */
  private[functions] def goertzelPowers(sample: Int => Int, n: Int,
      bands: Int): Array[Long] =
    Array.tabulate(bands) { k =>
      val f = (k + 1).toDouble / (2.0 * (bands + 1))
      val c = math.round(2.0 * math.cos(2.0 * math.Pi * f) * 16384.0)
      var s1 = 0L
      var s2 = 0L
      var i = 0
      while (i < n) {
        val s0 = sample(i) + (c * s1) / 16384L - s2
        s2 = s1
        s1 = s0
        i += 1
      }
      math.max(0L, s1 * s1 + s2 * s2 - ((c * s1) / 16384L) * s2)
    }

  /** Band powers → 0..255 grid cells by integer division with a fixed
    * per-payload divisor (`max/255 + 1`) — MONOTONE, so the gradient
    * hash over the cells only sees band ORDER (the gain-invariant
    * signal), and exactly replayable by the oracle. */
  private[functions] def spectralCellsOf(powers: Array[Long]): Array[Int] = {
    val div = powers.max / 255L + 1L
    powers.map(p => (p / div).toInt)
  }

  /** View of a codec whose luma grid IS its spectral grid — plugs the
    * frequency-domain fingerprint into every `lumaGrid` consumer
    * ([[perceptualHashes]], [[perceptualDupGroups]],
    * [[perceptualNearPairs]], the streaming dedup faces) without a
    * second SPI: `spectralView(WavCodec)` with
    * [[PerceptualHash.Difference]] is the gain- and time-shift-robust
    * audio tier. */
  def spectralView(codec: MediaCodec): MediaCodec = new MediaCodec {
    override def name: String = codec.name + "_spectral"
    override def init(): Unit = codec.init()
    override def decode(bytes: Array[Byte], featDim: Int): Option[Row] =
      codec.decode(bytes, featDim)
    override def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] =
      codec.spectralGrid(bytes, grid * grid)
  }

  /** REAL image codec on the JVM's built-in ImageIO (PNG/JPEG/GIF/BMP —
    * nothing external to load): decodes to true pixel dimensions + channel
    * count, and a `featDim`-bucket luminance histogram as the feature
    * vector. Undecodable bytes → None (the row keeps null decode columns
    * instead of poisoning the batch). */
  object ImageIOCodec extends MediaCodec {
    override def name: String = "imageio"
    override def decode(bytes: Array[Byte], featDim: Int): Option[Row] = {
      val img =
        // ImageIO plugins throw RuntimeExceptions (IAE, IOOBE...) on
        // corrupt input, not just IOException — any of them means
        // "undecodable", never "fail the 100 TB decode job on one row"
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val hist = new Array[Long](featDim)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // integer Rec.601 luma, 0..255
            val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
            hist(math.min(featDim - 1, luma * featDim / 256)) += 1
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        Some(Row(name, w, h, img.getColorModel.getNumComponents,
          hist.map(_ / n)))
      }
    }

    /** True pixel luma grid: cell (gy, gx) floor-averages the integer
      * Rec.601 luma over pixel block [gy·h/g, (gy+1)·h/g) × [gx·w/g,
      * (gx+1)·w/g). Encoding-invariant by construction: PNG and BMP of
      * the same pixels decode to the same ARGB and hence the same grid —
      * which is exactly what makes the derived average-hash catch
      * re-encoded copies that [[binaryDupGroups]]' checksum misses. */
    override def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val sums = new Array[Long](grid * grid)
        val cnts = new Array[Long](grid * grid)
        var y = 0
        while (y < h) {
          val gy = (y.toLong * grid / h).toInt
          var x = 0
          while (x < w) {
            val gx = (x.toLong * grid / w).toInt
            val rgb = img.getRGB(x, y)
            val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
            sums(gy * grid + gx) += luma
            cnts(gy * grid + gx) += 1
            x += 1
          }
          y += 1
        }
        Some(Array.tabulate(grid * grid)(i =>
          if (cnts(i) == 0) 0 else (sums(i) / cnts(i)).toInt))
      }
    }
  }

  /** REAL audio codec on the JVM's built-in `javax.sound.sampled` (WAV/AU/
    * AIFF PCM — nothing external to load): decodes the actual sample stream.
    * [[DecodedSchema]] mapping for audio: `width` = sample rate (Hz),
    * `height` = duration in milliseconds, `n_channels` = channels, and the
    * feature vector is a `featDim`-bucket normalized amplitude histogram
    * over the first channel's samples. Undecodable bytes → None. */
  object WavCodec extends MediaCodec {
    override def name: String = "wav"

    /** Decoded PCM stream: (data, frameSize, bits, signed8, bigEndian,
      * channels, sampleRate). None for non-linear-PCM / undecodable. */
    private final case class Pcm(data: Array[Byte], frameSize: Int, bits: Int,
        signed8: Boolean, bigEndian: Boolean, channels: Int, rate: Int) {
      def nFrames: Int = if (frameSize > 0) data.length / frameSize else 0
      /** Channel-0 SIGNED integer sample of frame i, normalized to the
        * 16-bit range [-32768, 32767] (8-bit widths shift up by 8) —
        * the fixed-point Goertzel input. Container-invariant like
        * [[amp]]: byte order and 8-bit signedness normalize away. */
      def intSample(i: Int): Int = {
        val off = i * frameSize
        if (bits == 8) {
          if (signed8) data(off).toInt << 8
          else ((data(off) & 0xff) - 128) << 8
        } else {
          val (lo, hi) = if (bigEndian) (off + 1, off) else (off, off + 1)
          (data(hi) << 8 | (data(lo) & 0xff)).toShort.toInt
        }
      }
      /** Channel-0 normalized |amplitude| of frame i, in [0, 1]. */
      def amp(i: Int): Double = {
        val off = i * frameSize // channel 0 sample starts the frame
        if (bits == 8) {
          if (signed8) math.abs(data(off).toInt) / 128.0
          else math.abs((data(off) & 0xff) - 128) / 128.0
        } else {
          val (lo, hi) = if (bigEndian) (off + 1, off) else (off, off + 1)
          math.abs((data(hi) << 8 | (data(lo) & 0xff)).toShort / 32768.0)
        }
      }
    }

    private def readPcm(bytes: Array[Byte]): Option[Pcm] = {
      val stream =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => null
          case _: java.io.IOException => null
        }
      if (stream == null) return None
      try {
        val fmt = stream.getFormat
        val bits = fmt.getSampleSizeInBits
        val enc = fmt.getEncoding
        import javax.sound.sampled.AudioFormat.Encoding
        // linear PCM only: ULAW/ALAW pass the bit-width check but are
        // companded — histogramming their bytes as PCM would be silently
        // wrong, and 8-bit signed (AIFF/AU) differs from 8-bit unsigned
        // (WAV) by a 128 offset
        if (enc != Encoding.PCM_SIGNED && enc != Encoding.PCM_UNSIGNED) return None
        if (bits != 8 && bits != 16) return None // non-PCM widths out of scope
        if (bits == 16 && enc != Encoding.PCM_SIGNED) return None // 16-bit unsigned: out of scope
        Some(Pcm(stream.readAllBytes(), fmt.getFrameSize, bits,
          bits == 8 && enc == Encoding.PCM_SIGNED, fmt.isBigEndian,
          fmt.getChannels, math.round(fmt.getSampleRate)))
      } finally stream.close()
    }

    override def decode(bytes: Array[Byte], featDim: Int): Option[Row] =
      readPcm(bytes).map { pcm =>
        val nFrames = pcm.nFrames
        val hist = new Array[Long](featDim)
        var i = 0
        while (i < nFrames) {
          hist(math.min(featDim - 1, (pcm.amp(i) * featDim).toInt)) += 1
          i += 1
        }
        val durationMs =
          if (pcm.rate > 0 && nFrames > 0) math.round(nFrames * 1000.0 / pcm.rate).toInt else 0
        val denom = math.max(1L, nFrames).toFloat
        Row(name, pcm.rate, durationMs, pcm.channels, hist.map(_ / denom))
      }

    /** Audio "grid" for perceptual hashing: the ENERGY ENVELOPE — frames
      * segmented into grid² time cells (same floor binning as the image
      * cells), each the floor-average of channel-0 |amplitude| scaled to
      * 0..255. CONTAINER-invariant: WAV and AIFF/AU of the same PCM
      * samples decode to the same amplitudes (the byte-order and
      * signedness differences are normalized in [[Pcm.amp]]), so a
      * re-containerized clip average-hashes identically — the audio
      * mirror of the image codec's PNG↔BMP invariance. Gain edits
      * (volume scaling, companding, normalization) are monotone maps on
      * the envelope cells, so [[PerceptualHash.Difference]] over this
      * grid groups gain-edited clips too (spec-proven) — the same
      * division of labor as the image tier. A true spectral/chroma
      * fingerprint (pitch content, time-shift alignment) needs an FFT;
      * the envelope is the deterministic zero-dependency tier behind the
      * same SPI. */
    override def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] =
      readPcm(bytes).flatMap { pcm =>
        val n = pcm.nFrames
        if (n == 0) None
        else {
          val cells = grid * grid
          val sums = new Array[Long](cells)
          val cnts = new Array[Long](cells)
          var i = 0
          while (i < n) {
            val c = (i.toLong * cells / n).toInt
            val v = math.min(255, (pcm.amp(i) * 256.0).toInt)
            sums(c) += v
            cnts(c) += 1
            i += 1
          }
          Some(Array.tabulate(cells)(c =>
            if (cnts(c) == 0) 0 else (sums(c) / cnts(c)).toInt))
        }
      }

    /** SPECTRAL fingerprint grid: [[goertzelPowers]] over the channel-0
      * integer samples — all-integer, so the same PCM yields the same
      * grid on any JVM. Powers normalize via [[spectralCellsOf]]
      * (monotone), which makes a [[PerceptualHash.Difference]] gradient
      * over this grid invariant to uniform GAIN (every band power scales
      * together) and robust to TIME SHIFT (a circularly shifted clip has
      * the same global spectral content, while its energy ENVELOPE — the
      * [[lumaGrid]] tier — rearranges; spec-proven both ways). Analysis
      * window = first 8192 frames: bounds resonator magnitude (|s| ≤
      * amp·window < 2³⁰, so powers stay far from Long overflow) and makes
      * the fingerprint O(1) per clip regardless of duration — the same
      * bounded-work discipline as the envelope cells. A true chromaprint
      * adds octave folding and frame alignment; this is the deterministic
      * zero-dependency spectral tier behind the same SPI. */
    override def spectralGrid(bytes: Array[Byte], cells: Int): Option[Array[Int]] =
      readPcm(bytes).flatMap { pcm =>
        val n = math.min(pcm.nFrames, 8192)
        if (n == 0 || cells <= 0) None
        else Some(spectralCellsOf(goertzelPowers(pcm.intSample, n, cells)))
      }
  }

  /** REAL video codec for YUV4MPEG2 (`.y4m`) — the uncompressed planar
    * container every ffmpeg pipeline can emit, parseable with zero external
    * libraries: an ASCII header (`YUV4MPEG2 W<w> H<h> F<fps> [C<space>]`),
    * then `FRAME\n` + raw planes per frame. [[DecodedSchema]] mapping for
    * video: true `width`/`height`, `n_channels` = 3 (1 for Cmono), and the
    * feature vector is a `featDim`-bucket luminance histogram accumulated
    * over every frame's Y plane (the same feature the image codec computes
    * per still). Truncated trailing frames are ignored; non-Y4M bytes →
    * None. */
  object Y4mCodec extends MediaCodec {
    override def name: String = "y4m"
    private val Magic = "YUV4MPEG2 ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    /** Dimension cap: 32k x 32k (beyond 16K video) — also keeps every
      * size computation safely inside Int. */
    private val MaxDim = 32768
    override def decode(bytes: Array[Byte], featDim: Int): Option[Row] =
      // corrupt headers must mean "not decodable", never a crashed task:
      // a crafted W/H can overflow any size arithmetic
      try decodeUnsafe(bytes, featDim)
      catch { case scala.util.control.NonFatal(_) => None }

    /** Shared guarded header parse: (w, h, colorspace, ySize, frameSize,
      * header-newline index), or None for non-Y4M / corrupt headers. */
    private def parseHeader(bytes: Array[Byte]): Option[(Int, Int, String, Long, Long, Int)] = {
      if (bytes.length < Magic.length + 1 ||
        !java.util.Arrays.equals(bytes, 0, Magic.length, Magic, 0, Magic.length))
        return None
      val nl = bytes.indexOf('\n'.toByte)
      if (nl < 0) return None
      val header = new String(bytes, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      val params = header.split(' ').drop(1)
      def num(tag: Char): Option[Int] = params.collectFirst {
        // length cap: an 11+-digit value can't be a sane dimension and
        // would throw in toInt
        case p if p.length > 1 && p.length <= 10 && p.charAt(0) == tag &&
          p.drop(1).forall(_.isDigit) && p.drop(1).toLong <= Int.MaxValue =>
          p.drop(1).toInt
      }
      val (w, h) = (num('W').getOrElse(return None), num('H').getOrElse(return None))
      if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim) return None
      val colorspace = params.collectFirst {
        case p if p.startsWith("C") => p
      }.getOrElse("C420")
      // sizes in LONG: at MaxDim, C444's chroma total (2*w*h = 2^31) wraps a
      // 32-bit Int negative, and a negative frameSize would slip past the
      // truncation check below on a crafted >=1 GiB payload
      val ySize = w.toLong * h
      // chroma plane total per frame, by subsampling mode
      val chromaSize: Long = colorspace match {
        case c if c.startsWith("C420") => 2L * ((w / 2).toLong * (h / 2))
        case c if c.startsWith("C422") => 2L * ((w / 2).toLong * h)
        case c if c.startsWith("C444") => 2L * ySize
        case "Cmono"                   => 0L
        case _                         => return None
      }
      val frameSize = ySize + chromaSize
      if (frameSize <= 0L) return None // defensive: every mode yields >= 1 here
      Some((w, h, colorspace, ySize, frameSize, nl))
    }

    /** Per-frame temporal-average luma grid over every frame's Y plane —
      * the video face of perceptual hashing (an aHash of the clip's mean
      * frame; re-containerized or chroma-resampled copies with identical
      * Y planes hash identically). Same cell binning as the image codec. */
    override def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] =
      try {
        val (w, h, _, ySize, frameSize, nl) = parseHeader(bytes).getOrElse(return None)
        val sums = new Array[Long](grid * grid)
        val cnts = new Array[Long](grid * grid)
        var nFrames = 0
        var pos = nl + 1
        var done = false
        while (!done && pos < bytes.length) {
          val fnl = bytes.indexOf('\n'.toByte, pos)
          if (fnl < 0 || fnl - pos < 5 ||
            new String(bytes, pos, 5, java.nio.charset.StandardCharsets.US_ASCII) != "FRAME")
            done = true
          else {
            val dataStart = fnl + 1
            if (dataStart.toLong + frameSize > bytes.length) done = true // truncated tail
            else {
              var y = 0
              while (y < h) {
                val gy = (y.toLong * grid / h).toInt
                var x = 0
                while (x < w) {
                  val gx = (x.toLong * grid / w).toInt
                  sums(gy * grid + gx) += bytes(dataStart + y * w + x) & 0xff
                  cnts(gy * grid + gx) += 1
                  x += 1
                }
                y += 1
              }
              nFrames += 1
              pos = dataStart + frameSize.toInt
            }
          }
        }
        if (nFrames == 0) None
        else Some(Array.tabulate(grid * grid)(i =>
          if (cnts(i) == 0) 0 else (sums(i) / cnts(i)).toInt))
      } catch { case scala.util.control.NonFatal(_) => None }

    private def decodeUnsafe(bytes: Array[Byte], featDim: Int): Option[Row] = {
      val (w, h, colorspace, ySize, frameSize, nl) =
        parseHeader(bytes).getOrElse(return None)
      val hist = new Array[Long](featDim)
      var nFrames = 0
      var pos = nl + 1
      while (pos < bytes.length) {
        // each frame opens with "FRAME[ params]\n"
        val fnl = bytes.indexOf('\n'.toByte, pos)
        if (fnl < 0 || fnl - pos < 5 ||
          new String(bytes, pos, 5, java.nio.charset.StandardCharsets.US_ASCII) != "FRAME")
          return if (nFrames > 0) emit(w, h, colorspace, hist, nFrames, ySize) else None
        val dataStart = fnl + 1
        if (dataStart.toLong + frameSize > bytes.length) // truncated tail frame
          return if (nFrames > 0) emit(w, h, colorspace, hist, nFrames, ySize) else None
        var i = dataStart
        // frame fits in the array (checked above), so both ends are Int-safe
        val yEnd = dataStart + ySize.toInt
        while (i < yEnd) {
          val luma = bytes(i) & 0xff
          hist(math.min(featDim - 1, luma * featDim / 256)) += 1
          i += 1
        }
        nFrames += 1
        pos = dataStart + frameSize.toInt
      }
      if (nFrames > 0) emit(w, h, colorspace, hist, nFrames, ySize) else None
    }
    private def emit(w: Int, h: Int, colorspace: String, hist: Array[Long],
        nFrames: Int, ySize: Long): Option[Row] = {
      val n = nFrames * ySize
      Some(Row(name, w, h, if (colorspace == "Cmono") 1 else 3,
        hist.map(_ / n.toFloat)))
    }
  }

  /** Stub codec with the SPI face — byte histogramming, any bytes decode
    * (dimensions reported as 0×0). The default in this container. */
  object StubCodec extends MediaCodec {
    override def name: String = "stub"
    override def decode(bytes: Array[Byte], featDim: Int): Option[Row] = {
      val s = decodeStub(bytes, featDim)
      Some(Row(name, 0, 0, 0, s.getAs[Array[Float]](4)))
    }

    /** Deterministic stand-in grid: the payload's bytes as a 1-D "image",
      * segmented into grid² contiguous cells (byte i → cell i·g²/n, the
      * same floor binning the 2-D codecs use per axis), each cell the
      * floor-average unsigned byte value. Fully integer and byte-order
      * sensitive only WITHIN a cell — and, unlike the real codecs,
      * replayable cell-for-cell by the DuckDB oracle over the fake
      * payloads' source text (byte == codepoint on ASCII). Empty payload
      * → None (no content to hash). */
    override def lumaGrid(bytes: Array[Byte], grid: Int): Option[Array[Int]] = {
      val n = bytes.length
      if (n == 0) return None
      val cells = grid * grid
      val sums = new Array[Long](cells)
      val cnts = new Array[Long](cells)
      var i = 0
      while (i < n) {
        val c = (i.toLong * cells / n).toInt
        sums(c) += bytes(i) & 0xff
        cnts(c) += 1
        i += 1
      }
      Some(Array.tabulate(cells)(c => if (cnts(c) == 0) 0 else (sums(c) / cnts(c)).toInt))
    }

    /** Stub spectral grid: [[goertzelPowers]] over the payload's bytes as
      * centered 16-bit samples (`(b − 128)·256`), first 192 bytes (the
      * bounded-window discipline — and what keeps the DuckDB replay of
      * the per-sample recurrence cheap). Like [[lumaGrid]], the point is
      * that the oracle can replay it cell-for-cell over the fake
      * payloads' source text; the REAL spectral path is
      * [[WavCodec.spectralGrid]]. */
    override def spectralGrid(bytes: Array[Byte], cells: Int): Option[Array[Int]] = {
      val n = math.min(bytes.length, 192)
      if (n == 0 || cells <= 0) None
      else Some(spectralCellsOf(goertzelPowers(
        i => ((bytes(i) & 0xff) - 128) * 256, n, cells)))
    }
  }

  /** Partition-batched decode through a pluggable [[MediaCodec]] — same
    * batch shape as [[decodeFeatures]]; appends [[DecodedSchema]] columns
    * (null for payloads the codec can't read). */
  def decodeWith(df: DataFrame, payloadCol: String, codec: MediaCodec,
      featDim: Int = 8): DataFrame = {
    val idx = df.columns.indexOf(payloadCol)
    require(idx >= 0, s"no column $payloadCol")
    val outSchema = StructType(df.schema.fields ++ DecodedSchema.fields)
    val enc = Encoders.row(outSchema)
    val nulls = Seq(null, null, null, null, null)
    df.mapPartitions { it =>
      codec.init()
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val decoded = if (bytes == null) None else codec.decode(bytes, featDim)
        Row.fromSeq(r.toSeq ++ decoded.map(_.toSeq).getOrElse(nulls))
      }
    }(enc)
  }

  /** Signature-keyed (perceptual-hash-style) media dedup: duplicate groups
    * keyed by a decoder-derived CONTENT signature — here the stub decode's
    * `bins`-bucket byte-value histogram, all-integer — instead of the raw
    * checksum. [[binaryDupGroups]] catches byte-identical copies only; a
    * signature key also groups payloads whose bytes were reordered or
    * re-containerized but whose content statistics match — the stub
    * stand-in for a real pHash/chromaprint, with the grouping machinery
    * (signature in the scan stage, only (sig, id) shuffles) identical to
    * what the production hash drops into. Returns groups with >= 2
    * members: (sig, n_copies, canonical_id = min id).
    *
    * All-integer signature (counts, not normalized floats) so the output
    * is engine-exact — the float histogram of [[decodeStub]] is for ANN
    * tiers, not for exact grouping. */
  // ---- perceptual hashing (average-hash over codec luma grids) ----

  /** Average-hash bit vector from a luma grid (the aHash construction):
    * threshold = floor-mean of the grid cells, bit i = 1 iff cell i >
    * threshold. All-integer (cells are 0..255 floor-averages), so the
    * same grid yields the same bits in any engine — the stub codec's
    * grids are replayed cell-for-cell by the DuckDB oracle. */
  def averageHashBits(cells: Array[Int]): Array[Int] = {
    var s = 0L
    cells.foreach(s += _)
    val m = s / cells.length
    cells.map(c => if (c > m) 1 else 0)
  }

  /** Difference-hash (dHash) bit vector from a luma grid: bit (r, c) = 1
    * iff cell (r, c) < its row-circular right neighbor (r, (c+1) mod g).
    * Compares ADJACENT cells instead of cells-vs-global-mean, so the bits
    * are invariant under ANY monotone per-pixel intensity map — brightness
    * offsets, contrast stretches, gamma curves — the exact edits that
    * flip [[averageHashBits]] cells across the global mean (the classic
    * reason production perceptual dedup prefers dHash/pHash to aHash).
    * The row-circular wrap keeps g×g cells → g² bits on the SAME lumaGrid
    * SPI payload the other hashes use (classic dHash asks for a (g+1)×g
    * grid; the wrap variant trades its last column for SPI reuse). */
  def differenceHashBits(cells: Array[Int]): Array[Int] = {
    val g = math.sqrt(cells.length.toDouble).toInt
    require(g * g == cells.length, s"non-square grid of ${cells.length} cells")
    Array.tabulate(cells.length) { i =>
      val r = i / g
      val c = i % g
      if (cells(i) < cells(r * g + (c + 1) % g)) 1 else 0
    }
  }

  /** Q2.14 DCT-II basis table for a g-point axis:
    * `C[u][r] = round(cos(π·(2r+1)·u / (2g)) · 2¹⁴)` — StrictMath (pinned
    * fdlibm semantics, identical on every JVM) so the table is a CONSTANT
    * of the implementation, embeddable as literals in the DuckDB oracle
    * (the q180 Goertzel coefficient discipline; none of the irrational
    * cosines lands near a .5 rounding boundary). Cached per g. */
  private val dctTables = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
  private[functions] def dctTable(g: Int): Array[Array[Long]] =
    dctTables.computeIfAbsent(g, _ =>
      Array.tabulate(8, g) { (u, r) =>
        math.round(StrictMath.cos(
          math.Pi * (2 * r + 1) * u / (2.0 * g)) * 16384.0)
      })

  /** pHash (DCT) bit vector from a g×g luma grid, g ≥ 8: the 2-D DCT-II's
    * top-left 8×8 (lowest-frequency) block, each AC coefficient compared
    * to the block's AC median — the industry-default perceptual hash,
    * robust where [[averageHashBits]] and [[differenceHashBits]] degrade
    * (rescales and recompression perturb individual cells, which is
    * exactly the high-frequency content the 8×8 cut discards; the
    * mean-threshold and adjacent-gradient hashes read those cells
    * directly). Bit u·8+v = 1 iff D[u][v] > lower-median of the 63 AC
    * coefficients; bit 0 (DC — overall brightness, deliberately excluded)
    * is always 0.
    *
    * All-integer past the Q2.14 table: the separable two-stage sum
    * `T[r][v] = Σ_c x·C[v][c]`, `D[u][v] = Σ_r T·C[u][r]` never divides
    * and peaks ≈ g²·255·2²⁸ ≪ 2⁶³ for any plausible g, so the same grid
    * yields the same bits in any engine and the DuckDB oracle replays the
    * two stages verbatim. */
  def dctHashBits(cells: Array[Int]): Array[Int] = {
    val g = math.sqrt(cells.length.toDouble).toInt
    require(g * g == cells.length, s"non-square grid of ${cells.length} cells")
    require(g >= 8, s"DCT hash needs a grid of at least 8x8, got ${g}x$g")
    val c = dctTable(g)
    // stage 1: per row r, the 8 lowest-frequency column transforms
    val t = Array.ofDim[Long](g, 8)
    var r = 0
    while (r < g) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var k = 0
        while (k < g) { s += cells(r * g + k) * c(v)(k); k += 1 }
        t(r)(v) = s
        v += 1
      }
      r += 1
    }
    // stage 2: per output (u, v), the row transform
    val d = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var k = 0
        while (k < g) { s += t(k)(v) * c(u)(k); k += 1 }
        d(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val ac = d.drop(1).sorted
    val thr = ac(31) // lower median of the 63 AC coefficients
    Array.tabulate(64)(i => if (i > 0 && d(i) > thr) 1 else 0)
  }

  /** Hash choice for the perceptual tier: [[Average]] (aHash — the q171
    * judged face, replayed cell-for-cell by the DuckDB oracle),
    * [[Difference]] (dHash — robust to monotone brightness/gamma/contrast
    * edits; see [[differenceHashBits]]), or [[Dct]] (pHash — the
    * frequency-domain tier robust to rescales/recompression; see
    * [[dctHashBits]]; pair with grid = 32). */
  sealed trait PerceptualHash extends Serializable {
    def bits(cells: Array[Int]): Array[Int]
    /** Output bit count for a g×g grid — [[perceptualHashes]] checks it
      * fits the 64-bit hash. */
    def nBits(grid: Int): Int = grid * grid
  }
  object PerceptualHash {
    case object Average extends PerceptualHash {
      def bits(cells: Array[Int]): Array[Int] = averageHashBits(cells)
    }
    case object Difference extends PerceptualHash {
      def bits(cells: Array[Int]): Array[Int] = differenceHashBits(cells)
    }
    case object Dct extends PerceptualHash {
      def bits(cells: Array[Int]): Array[Int] = dctHashBits(cells)
      override def nBits(grid: Int): Int = { require(grid >= 8); 64 }
    }
  }

  /** Bits (LSB-first) packed into a signed 64-bit hash — the banding/
    * hamming representation. Bit 63 lands in the sign bit by design (the
    * value is an opaque bit bag, not a number). */
  def bitsToLong(bits: Array[Int]): Long = {
    require(bits.length <= 64, s"${bits.length} bits don't fit a long")
    var acc = 0L
    var i = 0
    while (i < bits.length) { if (bits(i) == 1) acc |= 1L << i; i += 1 }
    acc
  }

  /** Partition-batched perceptual hash over a binary column: appends
    * `phash` (64-bit average-hash, LSB = cell 0) and `phash_bits` (the
    * same bits as a '0'/'1' string — the oracle-friendly group key: a
    * 64-bit hash with bit 63 set is a NEGATIVE long, and DuckDB's `<<`
    * refuses `1::BIGINT << 63`, so cross-engine faces key on the string).
    * Both null when the codec can't grid the payload. Same mapPartitions
    * batch shape as [[decodeFeatures]] — the hash is computed in the scan
    * stage and payload bytes never shuffle. */
  def perceptualHashes(df: DataFrame, payloadCol: String,
      codec: MediaCodec = StubCodec, grid: Int = 8,
      hasher: PerceptualHash = PerceptualHash.Average): DataFrame = {
    require(grid > 0 && hasher.nBits(grid) <= 64,
      s"hasher output must fit 64 bits, got grid $grid")
    val idx = df.columns.indexOf(payloadCol)
    require(idx >= 0, s"no column $payloadCol")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("phash", LongType), StructField("phash_bits", StringType)))
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      codec.init()
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val hashed = if (bytes == null) None else codec.lumaGrid(bytes, grid)
          .map(hasher.bits)
          .map(bits => Seq(bitsToLong(bits), bits.mkString("")))
        Row.fromSeq(r.toSeq ++ hashed.getOrElse(Seq(null, null)))
      }
    }(enc)
  }

  /** Per-payload spectral fingerprint as (id, band, cell) rows — the
    * oracle-facing face of [[MediaCodec.spectralGrid]]: `bands` Goertzel
    * band powers normalized to 0..255 cells ([[spectralCellsOf]]).
    * Payloads the codec can't read emit no rows. Same mapPartitions
    * batch shape as [[perceptualHashes]]: the fingerprint is computed in
    * the scan stage over a bounded sample window, and only
    * (id, band, cell) longs ever leave the partition — payload bytes
    * never shuffle, the property that matters at media scale. For
    * grouping/dedup use [[spectralView]] + the perceptual faces; this
    * face exposes the raw grid a downstream ANN or audit reads. */
  def spectralCells(df: DataFrame, idCol: String, payloadCol: String,
      codec: MediaCodec = StubCodec, bands: Int = 8): DataFrame = {
    val idIdx = df.columns.indexOf(idCol)
    val pIdx = df.columns.indexOf(payloadCol)
    require(idIdx >= 0, s"no column $idCol")
    require(pIdx >= 0, s"no column $payloadCol")
    val outSchema = StructType(Seq(StructField(idCol, LongType),
      StructField("band", LongType), StructField("cell", LongType)))
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      codec.init()
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](pIdx)
        val id = r.getLong(idIdx)
        (if (bytes == null) None else codec.spectralGrid(bytes, bands))
          .iterator.flatMap(cells => cells.iterator.zipWithIndex.map {
            case (c, b) => Row(id, b.toLong, c.toLong) })
      }
    }(enc)
  }

  /** Perceptual-hash media dedup — the operator [[signatureDupGroups]]
    * stood in for until r8: duplicate groups keyed by the codec's
    * average-hash, so re-ENCODED copies (PNG↔BMP of the same pixels,
    * re-containerized video with identical Y planes) group together even
    * though their bytes — and hence [[binaryDupGroups]]' checksums —
    * differ. Group key = the bit STRING (engine-exact; see
    * [[perceptualHashes]]); returns groups with >= 2 members as
    * (sig, n_copies, canonical_id = min id). Near-miss variants (small
    * hamming distance, e.g. resized images) are [[perceptualNearPairs]]'
    * job — equality grouping keeps this face one hash aggregate.
    *
    * Scale shape: hash in the scan stage; only (sig ≤ 64 chars, id)
    * shuffles, payload bytes never leave their partition. */
  def perceptualDupGroups(df: DataFrame, idCol: String, payloadCol: String,
      codec: MediaCodec = StubCodec, grid: Int = 8,
      hasher: PerceptualHash = PerceptualHash.Average): DataFrame =
    perceptualHashes(df.select(F.col(idCol), F.col(payloadCol)),
        payloadCol, codec, grid, hasher)
      .where(F.col("phash_bits").isNotNull)
      .select(F.col("phash_bits").as("sig"), F.col(idCol))
      .groupBy("sig")
      .agg(F.count(F.lit(1)).as("n_copies"), F.min(idCol).as("canonical_id"))
      .where(F.col("n_copies") >= 2)

  /** Ingest-time perceptual media dedup — the STREAMING face of
    * [[perceptualDupGroups]]: the first payload per average-hash passes,
    * later re-encodes (same luma grid, different bytes) are dropped
    * across micro-batches, with the seen-hash set in the state store
    * keyed by the 64-cell bit string. For bounded state use
    * [[streamingPerceptualDedupBounded]] (the
    * [[graft.functions.Dedup.streamingExactDedupBounded]] trade on the
    * hash column). Payloads the codec can't grid pass through UN-deduped — a
    * blind `dropDuplicates` would collapse every undecodable payload
    * into one row because the state key treats nulls as equal; the
    * undecodable branch re-reads the source per trigger (two branches of
    * one stream), which is the price of keeping them. */
  def streamingPerceptualDedup(stream: DataFrame, payloadCol: String,
      codec: MediaCodec = StubCodec, grid: Int = 8,
      hasher: PerceptualHash = PerceptualHash.Average): DataFrame = {
    val hashed = perceptualHashes(stream, payloadCol, codec, grid, hasher)
    hashed.where(F.col("phash_bits").isNotNull).dropDuplicates("phash_bits")
      .unionByName(hashed.where(F.col("phash_bits").isNull))
      .drop("phash", "phash_bits")
  }

  /** [[streamingPerceptualDedup]] with BOUNDED state: re-encode hashes are
    * only tracked inside the watermark horizon
    * (`dropDuplicatesWithinWatermark` on the bit string), so the store
    * holds ~rate×delay hashes instead of all history — the 100 TB/day
    * ingest shape. A re-encode arriving after its original aged past
    * `delay` is re-admitted (the documented trade; run a batch
    * [[perceptualDupGroups]] pass downstream when global uniqueness
    * matters). Undecodable payloads pass through un-deduped, as in the
    * unbounded face. */
  def streamingPerceptualDedupBounded(stream: DataFrame, payloadCol: String,
      tsCol: String, delay: String,
      codec: MediaCodec = StubCodec, grid: Int = 8,
      hasher: PerceptualHash = PerceptualHash.Average): DataFrame = {
    val hashed = perceptualHashes(stream, payloadCol, codec, grid, hasher)
    hashed.where(F.col("phash_bits").isNotNull)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("phash_bits")
      .unionByName(hashed.where(F.col("phash_bits").isNull))
      .drop("phash", "phash_bits")
  }

  /** Near-duplicate media pairs at hamming distance <= `maxHamming` on the
    * 64-bit average-hash — the resized/slightly-edited tier that exact
    * [[perceptualDupGroups]] equality misses. Same provably-complete
    * pigeonhole banding as [[graft.functions.Dedup.simhashNearPairs]]
    * (maxHamming+1 disjoint bands over 64 bits; a pair within distance d
    * agrees exactly on some band), candidates through
    * [[graft.functions.Dedup.lshCandidatePairs]]' counted-cap bucket
    * machinery, exact hamming verify on the pair. Returns (a, b, hamming),
    * a < b. Hashes are computed once in the scan stage and lineage-cut —
    * payloads never shuffle.
    *
    * The cap default is DELIBERATELY tighter than the text-LSH tiers: a
    * 64-bit aHash has low entropy on degenerate inputs (payloads shorter
    * than the 64 cells hash by LENGTH PATTERN more than content, so
    * same-length shorts all share a hash), and a single surviving
    * b-member bucket expands to b²/2 candidate pairs — at the text tier's
    * 10k cap that is 5·10⁷ pairs per degenerate bucket (measured: OOM on
    * the 500k-doc drill). 1000 bounds any bucket at 5·10⁵ pairs; genuinely
    * oversize buckets drop WITH the counted WARN, and equality-dup volume
    * belongs to [[perceptualDupGroups]] anyway. */
  def perceptualNearPairs(df: DataFrame, idCol: String, payloadCol: String,
      codec: MediaCodec = StubCodec, maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      hasher: PerceptualHash = PerceptualHash.Average,
      grid: Int = 8): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && 64 % nBands == 0,
      s"maxHamming+1 must divide 64, got $maxHamming")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sigs = Lineage.cut(perceptualHashes(df.select(F.col(idCol), F.col(payloadCol)),
        payloadCol, codec, grid, hasher)
      .where(F.col("phash").isNotNull)
      .select(F.col(idCol).as("id"), F.col("phash").as("__sig")))
    val banded = sigs.withColumns((0 until nBands).map { i =>
      s"band$i" -> F.shiftrightunsigned(F.col("__sig"), i * width)
        .bitwiseAND(F.lit(mask))
    }.toMap)
    Dedup.lshCandidatePairs(banded, "id", nBands, maxBucketSize)
      .join(sigs.select(F.col("id").as("a"), F.col("__sig").as("__sa")), "a")
      .join(sigs.select(F.col("id").as("b"), F.col("__sig").as("__sb")), "b")
      .withColumn("hamming", Dedup.hamming64(F.col("__sa"), F.col("__sb")))
      .where(F.col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  def signatureDupGroups(df: DataFrame, idCol: String, payloadCol: String,
      bins: Int = 8): DataFrame = {
    // native single-pass histogram over the payload BYTES (the q146
    // lesson: a Column-tier formulation pays a regex char table per row
    // and O(bins) lambda evals per char — measured 1.6 s vs 0.3 s at
    // sf0.1). Byte==codepoint on ASCII payloads, which is what the
    // DuckDB oracle's unicode(c) face checks.
    val sig = F.array_join(
      graft.plans.Expressions.byteHistogram(F.col(payloadCol), bins), "_")
    df.select(F.col(idCol), sig.as("sig"))
      .groupBy("sig")
      .agg(F.count(F.lit(1)).as("n_copies"), F.min(idCol).as("canonical_id"))
      .where(F.col("n_copies") >= 2)
  }
}
