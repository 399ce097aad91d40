package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (driver north star: "multimodal columns") — the
  * Spark-side plumbing for opaque binary media with typed metadata.
  *
  * Design (see MULTIMODAL.md):
  *  - a multimodal value is `STRUCT(mime STRING, bytes BINARY,
  *    meta MAP<STRING,STRING>)` — the engine never interprets `bytes`
  *    except inside an explicit decode operator;
  *  - ingestion is `spark.read.format("binaryFile")` (streams file
  *    contents as BinaryType with path/length/modTime columns; splittable
  *    across executors by file);
  *  - decode / feature-extract run as `mapPartitions` over the binary
  *    column — iterator-streaming, one media library context per
  *    partition, never a whole-partition materialization. Image dimension
  *    decode is REAL via the in-JDK `javax.imageio` (PNG/GIF/BMP/JPEG);
  *    formats the JDK can't read and the feature extractor (no embedding
  *    model ships offline) remain DETERMINISTIC STUBS with real
  *    partitioning, schema, and batch shape.
  */
object Multimodal {

  /** The multimodal column type. */
  val mediaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("bytes", BinaryType),
    StructField("meta", MapType(StringType, StringType))))

  private val extToMime = Map(
    "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg", "png" -> "image/png",
    "wav" -> "audio/wav", "mp3" -> "audio/mpeg", "mp4" -> "video/mp4",
    "md" -> "text/markdown", "scala" -> "text/x-scala", "py" -> "text/x-python")

  /** Ingest a directory of media files as rows of (path, media struct).
    * binaryFile scans parallelize by file; filters on path/length push
    * down to the file listing. */
  def readDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        col("path"),
        struct(
          element_at(
            typedLit(extToMime),
            lower(element_at(split(col("path"), "\\."), -1)))
            .as("mime"),
          col("content").as("bytes"),
          map(
            lit("length"), col("length").cast("string"),
            lit("mtime"), col("modificationTime").cast("string"))
            .as("meta"))
          .as("media"))

  /** One-time conversion job: a binaryFile directory → a PACKED parquet
    * table (path, mime, meta, bytes) — MULTIMODAL.md's "better layout
    * for repeated scans". Why flat columns, not the media struct: each
    * top-level column gets its own parquet column chunks, so a
    * metadata-only query (count by mime, length histograms, path
    * filters) reads kilobytes of metadata chunks and NEVER touches the
    * payload chunks — no reliance on nested-schema pruning, and the
    * property is plan-asserted in MultimodalSpec. `filesOut` bounds the
    * output file count (many small media files pack into few row-group-
    * sized parquet files — the small-files fix that motivates packing);
    * at 100 TB run this once per ingest batch and size row groups so a
    * single payload row cannot blow a reader's batch memory.
    * [[readPacked]] restores the [[readDir]] struct view, so every
    * downstream decode/feature operator runs unchanged on either
    * source. */
  def packToParquet(spark: SparkSession, srcDir: String, destPath: String,
      glob: String = "*", filesOut: Int = 1): Unit =
    readDir(spark, srcDir, glob)
      .select(col("path"), col("media.mime").as("mime"),
        col("media.meta").as("meta"), col("media.bytes").as("bytes"))
      .repartition(filesOut)
      .write.mode("overwrite").parquet(destPath)

  /** Read a [[packToParquet]] table back as the [[readDir]]-shaped
    * (path, media struct) frame. */
  def readPacked(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("path"),
        struct(col("mime"), col("bytes"), col("meta")).as("media"))

  /** Image dimension decode. REAL for every format the JDK's `javax.imageio`
    * ships a reader for (PNG, GIF, BMP, JPEG — zero extra dependencies):
    * the reader parses only the header, so cost is O(header) not O(pixels).
    * Bytes no installed reader understands (audio/video/unknown) fall back
    * to a deterministic content-hash stub — the documented splice point for
    * a full codec stack (e.g. TwelveMonkeys, ffmpeg bindings); the
    * iterator-streaming partition contract is identical either way. */
  def decodeDims(df: DataFrame): DataFrame = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.tuple(
      Encoders.STRING, Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong)
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        // per-partition decoder init goes here for stateful codecs;
        // ImageIO's reader registry is static, nothing to set up
        it.map { case (path, bytes) =>
          decodeImageDims(bytes) match {
            case Some((w, ht)) => (path, w, ht, bytes.length.toLong)
            case None => // deterministic stub for non-image payloads
              val h = java.util.Arrays.hashCode(bytes)
              val w = 64 + math.abs(h % 1024)
              val ht = 64 + math.abs((h / 1024) % 1024)
              (path, w, ht, bytes.length.toLong)
          }
        }
      }(out)
      .toDF("path", "width", "height", "n_bytes")
  }

  /** Header-only (width, height) via the JDK's ImageIO reader registry;
    * None when no installed reader recognizes the bytes. */
  private[sources] def decodeImageDims(bytes: Array[Byte]): Option[(Int, Int)] =
    try {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (readers.hasNext) {
          val r = readers.next()
          try { r.setInput(in); Some((r.getWidth(0), r.getHeight(0))) }
          finally r.dispose()
        } else None
      } finally if (in != null) in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL image resize (binary in → binary out, the multimodal transform
    * contract): every JDK-decodable image is scaled to fit in a
    * `maxDim`-pixel box (aspect preserved, never upscaled) and re-encoded
    * as PNG (ARGB canvas when the source carries alpha); payloads no
    * reader understands pass through byte-identical as (-1, -1, false);
    * images already inside the box pass through byte-identical too but
    * report their REAL decoded (width, height) with `resized = false`, so
    * callers can tell "not an image" from "image that didn't need work" —
    * an untouched image is never decode/re-encode mangled. Pure in-JDK
    * (`ImageIO` + `Graphics2D`), zero
    * added dependencies. Partition-wise iterator streaming; the wide
    * bytes column never shuffles — callers project it away before any
    * join/agg (MULTIMODAL.md rule). */
  def resizeImages(df: DataFrame, maxDim: Int): DataFrame = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.tuple(Encoders.STRING, Encoders.BINARY,
      Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaBoolean)
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        it.map { case (path, bytes) =>
          resizeOne(bytes, maxDim) match {
            case Some((Some(outBytes), w, h)) => (path, outBytes, w, h, true)
            case Some((None, w, h))           => (path, bytes, w, h, false)
            case None                         => (path, bytes, -1, -1, false)
          }
        }
      }(out)
      .toDF("path", "bytes", "width", "height", "resized")
  }

  /** Decode → scale into a maxDim box → re-encode PNG. None when the JDK
    * has no reader for the bytes; Some((None, w, h)) when the image is
    * already inside the box — real decoded dims, caller passes the payload
    * through BYTE-IDENTICAL (an in-box image must not be decode/re-encode
    * mangled); Some((Some(png), w, h)) when it was actually scaled. Alpha
    * survives: the canvas is ARGB when the source has an alpha channel. */
  private[sources] def resizeOne(bytes: Array[Byte],
      maxDim: Int): Option[(Option[Array[Byte]], Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null)
        None
      else if (math.max(img.getWidth, img.getHeight) <= maxDim)
        Some((None, img.getWidth, img.getHeight))
      else {
        val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
        val (w, h) = (math.max(1, math.round(img.getWidth * scale).toInt),
          math.max(1, math.round(img.getHeight * scale).toInt))
        val kind =
          if (img.getColorModel.hasAlpha)
            java.awt.image.BufferedImage.TYPE_INT_ARGB
          else java.awt.image.BufferedImage.TYPE_INT_RGB
        val dst = new java.awt.image.BufferedImage(w, h, kind)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Some((Some(bos.toByteArray), w, h))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL frame sampling for multi-frame images (animated GIF — the one
    * multi-frame format the JDK reads natively): every `everyN`-th frame
    * decodes and re-encodes as PNG, one output row per sampled frame.
    * Single-frame images yield exactly frame 0; payloads with no reader
    * yield ZERO rows (no fake frames). Caveat: frames of delta-optimized
    * GIFs decode as the stored sub-region; full-frame compositing — like
    * video decode — belongs to an external codec at the same splice point
    * as extractFeatures. Partition-wise iterator; flatMap shape (row →
    * 0..n rows) mirrors the decode contract. */
  def sampleFrames(df: DataFrame, everyN: Int = 1): DataFrame = {
    require(everyN >= 1, "everyN must be >= 1")
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.tuple(Encoders.STRING, Encoders.scalaInt,
      Encoders.scalaInt, Encoders.scalaInt, Encoders.BINARY)
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          readFrames(bytes, everyN).map { case (idx, png, w, h) =>
            (path, idx, w, h, png)
          }
        }
      }(out)
      .toDF("path", "frame_idx", "width", "height", "frame_png")
  }

  /** Every `everyN`-th frame as (ordinal, png bytes, width, height);
    * empty when no installed reader recognizes the bytes. Each raster is
    * PNG-compressed INSIDE the loop so only one uncompressed frame is
    * live at a time — a long GIF must not hold all raw rasters at once. */
  private[sources] def readFrames(bytes: Array[Byte], everyN: Int)
      : Seq[(Int, Array[Byte], Int, Int)] =
    try {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) Seq.empty
        else {
          val r = readers.next()
          try {
            r.setInput(in)
            val n = r.getNumImages(true)
            (0 until n by everyN).map { i =>
              val img = r.read(i)
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              (i, bos.toByteArray, img.getWidth, img.getHeight)
            }
          } finally r.dispose()
        }
      } finally if (in != null) in.close()
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Feature extraction, the shape an ANN index ingests. REAL for every
    * JDK-decodable image: a `dims`-bin normalized grayscale histogram
    * (Rec.601 luma over actual pixels) — the classical pre-embedding
    * image feature, deterministic and comparable under cosine. Payloads
    * no reader decodes fall back to a content-hash-seeded stub vector;
    * a NEURAL embedding model is the documented swap-in at this exact
    * splice point (none ships offline). */
  def extractFeatures(df: DataFrame, dims: Int = 8): DataFrame = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.tuple(Encoders.STRING,
      org.apache.spark.sql.Encoders.product[Tuple1[Seq[Float]]])
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        it.map { case (path, bytes) =>
          val v = imageHistogram(bytes, dims).getOrElse {
            val h = java.util.Arrays.hashCode(bytes)
            (0 until dims).toSeq.map(i => (((h * (i + 1)) % 1000) / 1000.0f))
          }
          (path, Tuple1(v))
        }
      }(out)
      .toDF("path", "features")
      .select(col("path"), col("features._1").as("features"))
  }

  /** Audio header decode. REAL for every format the JDK's
    * `javax.sound.sampled` ships a provider for (WAV/AIFF/AU — zero extra
    * dependencies): sample rate, channels, bit depth, frame count and
    * duration parsed from the container header, O(header) not O(samples).
    * Bytes no installed provider understands (MP3/OGG/video/unknown)
    * return the (-1, …) sentinel row — the documented splice point for a
    * full codec stack, same contract as [[decodeDims]]. Partition-wise
    * iterator streaming; the payload column never shuffles. */
  def decodeAudio(df: DataFrame): DataFrame = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.product[(String, Int, Int, Int, Long, Long)]
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        it.map { case (path, bytes) =>
          decodeAudioHeader(bytes) match {
            case Some((rate, ch, bits, frames, durMs)) =>
              (path, rate, ch, bits, frames, durMs)
            case None => (path, -1, -1, -1, -1L, -1L)
          }
        }
      }(out)
      .toDF("path", "sample_rate", "channels", "bits", "n_frames",
        "duration_ms")
  }

  /** Audio FEATURE extraction — one streamed pass over the decoded PCM
    * samples (not just the header): RMS energy, peak amplitude, and
    * zero-crossing rate, the standard cheap speech/music/silence
    * discriminators (silence → low rms; speech → mid zcr; hiss/noise →
    * high zcr). REAL decode for every format the JDK ships a provider
    * for (PCM WAV/AIFF/AU); compressed formats return the sentinel row —
    * the same external-codec splice contract as [[decodeAudio]].
    *
    * Scale shape: samples stream through a fixed ~8 KiB buffer (floored
    * at one frame, so exotic high-channel-count frame sizes > 8 KiB
    * still read) inside one
    * `mapPartitions` task — O(samples) time, O(1) memory, no shuffle of
    * the payload column; features are 3 doubles + a long per file.
    * First channel only (channels are interleaved per frame): energy
    * stats on mixed-down stereo would double-count phase-correlated
    * channels. Amplitudes normalize to [-1, 1] by the sample bit depth
    * so rms/peak are comparable across 8/16-bit inputs. */
  def audioFeatures(df: DataFrame): DataFrame = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    val out = Encoders.product[(String, Long, Double, Double, Double, Double)]
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])](enc)
      .mapPartitions { it =>
        it.map { case (path, bytes) =>
          pcmFeatures(bytes) match {
            case Some((n, rms, peak, zcr, hz)) => (path, n, rms, peak, zcr, hz)
            case None => (path, -1L, -1.0, -1.0, -1.0, -1.0)
          }
        }
      }(out)
      .toDF("path", "n_samples", "rms", "peak", "zcr", "dominant_hz")
  }

  /** (n_samples, rms, peak, zero-crossing rate, dominant frequency Hz)
    * over channel-0 PCM; None when no provider decodes the bytes or the
    * frame layout is not integer PCM. Sums accumulate in double (a
    * single file's sample count keeps the error far below the 6-dp
    * display precision). The dominant frequency is a coarse 64-bin DFT
    * magnitude argmax over the first ≤8192 samples — the spectral peak
    * estimator a speech/music/tone classifier starts from; bounded work
    * per file regardless of duration (0 Hz for silence). */
  private[sources] def pcmFeatures(
      bytes: Array[Byte]): Option[(Long, Double, Double, Double, Double)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val f = in.getFormat
      val bits = f.getSampleSizeInBits
      val frameSize = f.getFrameSize
      val enc = f.getEncoding
      import javax.sound.sampled.AudioFormat.Encoding._
      if (frameSize <= 0 || bits % 8 != 0 ||
        (enc != PCM_SIGNED && enc != PCM_UNSIGNED)) { in.close(); None }
      else {
        val bytesPer = bits / 8
        val full = (1L << (bits - 1)).toDouble // normalizer to [-1, 1]
        // whole frames only, floored at 8 KiB — but never zero-length:
        // a frameSize > 8192 (high channel-count PCM) would make
        // 8192 - 8192 % frameSize = 0 and read() would loop returning 0,
        // reporting (0, 0, 0, 0, 0) indistinguishable from real silence
        val buf = new Array[Byte](
          math.max(frameSize, 8192 - 8192 % frameSize))
        var n = 0L; var sumSq = 0.0; var peak = 0.0; var crossings = 0L
        var prevNeg = false
        val dftCap = 8192
        val prefix = new Array[Double](dftCap)
        var read = in.read(buf)
        while (read > 0) {
          var off = 0
          while (off + frameSize <= read) {
            // channel 0 = first sample of the frame
            var raw = 0L
            if (f.isBigEndian) {
              var i = 0
              while (i < bytesPer) { raw = (raw << 8) | (buf(off + i) & 0xffL); i += 1 }
            } else {
              var i = bytesPer - 1
              while (i >= 0) { raw = (raw << 8) | (buf(off + i) & 0xffL); i -= 1 }
            }
            val v: Double =
              if (enc == PCM_UNSIGNED) raw - full // center at zero
              else { // sign-extend two's complement at `bits`
                val shift = 64 - bits
                ((raw << shift) >> shift).toDouble
              }
            val amp = v / full
            sumSq += amp * amp
            val ab = math.abs(amp)
            if (ab > peak) peak = ab
            val neg = amp < 0
            if (n > 0 && neg != prevNeg) crossings += 1
            prevNeg = neg
            if (n < dftCap) prefix(n.toInt) = amp
            n += 1
            off += frameSize
          }
          read = in.read(buf)
        }
        in.close()
        if (n == 0) Some((0L, 0.0, 0.0, 0.0, 0.0))
        else {
          // coarse spectrum: K magnitude probes uniformly spaced up to
          // Nyquist (Goertzel-style direct DFT, skipping DC); a silent
          // prefix reports 0 Hz rather than the arbitrary first bin
          val m = math.min(n, dftCap.toLong).toInt
          val rate = f.getSampleRate.toDouble
          val bins = 64
          var bestMag = 0.0; var bestHz = 0.0
          var k = 1
          while (k <= bins) {
            val hz = rate / 2.0 * k / bins
            val w = 2.0 * math.Pi * hz / rate
            var re = 0.0; var im = 0.0; var i = 0
            while (i < m) {
              re += prefix(i) * math.cos(w * i)
              im -= prefix(i) * math.sin(w * i)
              i += 1
            }
            val mag = re * re + im * im
            if (mag > bestMag) { bestMag = mag; bestHz = hz }
            k += 1
          }
          val dominant = if (bestMag < 1e-9) 0.0 else bestHz
          Some((n, math.sqrt(sumSq / n), peak,
            if (n > 1) crossings.toDouble / (n - 1) else 0.0, dominant))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Header-only (rate, channels, bits, frames, duration ms) via the
    * JDK's sampled-audio provider registry; None when unrecognized. */
  private[sources] def decodeAudioHeader(
      bytes: Array[Byte]): Option[(Int, Int, Int, Long, Long)] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val f = aff.getFormat
      val frames = aff.getFrameLength.toLong
      val rate = f.getSampleRate
      val durMs =
        if (frames >= 0 && rate > 0) math.round(frames * 1000.0 / rate)
        else -1L
      Some((math.round(rate), f.getChannels, f.getSampleSizeInBits,
        frames, durMs))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The 44-byte RIFF/WAVE header for 8-bit UNSIGNED mono PCM of exactly
    * `nSamples` samples — a pure driver-side function of (nSamples,
    * rate) inlined as a BINARY LITERAL into plans that synthesize
    * deterministic WAV payloads (the rpSignMatrix shared-codegen
    * discipline): with the data length fixed, the header is a plan
    * constant, so `concat(lit(header), dataBytes)` builds a real WAV the
    * javax.sound provider decodes while an oracle recomputes features
    * from the same data bytes. 8-bit WAV is unsigned by the RIFF spec —
    * this is the PCM_UNSIGNED branch of [[audioFeatures]]. */
  def wavPcm8Header(nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    require(nSamples > 0 && sampleRate > 0,
      s"need positive nSamples/sampleRate, got ($nSamples, $sampleRate)")
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + nSamples)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate) // byte rate = rate at 8-bit mono
      .putShort(1).putShort(8) // block align, bits per sample
      .put("data".getBytes("US-ASCII")).putInt(nSamples)
    b.array()
  }

  /** Normalized `dims`-bin grayscale histogram over REAL pixels; None
    * when no installed reader decodes the bytes. */
  private[sources] def imageHistogram(bytes: Array[Byte],
      dims: Int): Option[Seq[Float]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val bins = new Array[Long](dims)
        val w = img.getWidth
        // bulk row reads: one getRGB call per scanline, not per pixel —
        // per-pixel getRGB pays a ColorModel conversion PER CALL and is
        // ~10× slower on megapixel inputs; one row keeps memory bounded
        val row = new Array[Int](w)
        var y = 0
        while (y < img.getHeight) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            val luma = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            bins(math.min(dims - 1, luma * dims / 256)) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * img.getHeight
        Some(bins.toSeq.map(b => b.toFloat / n))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // === Payload-content near-dup (r9) ====================================
  // The first operator that looks INSIDE `bytes` beyond header decode /
  // length stats: perceptual-hash-style near-dup over BINARY payloads.
  // Re-encoded thumbnails, re-muxed audio, and byte-patched copies are
  // NOT byte-identical, so exact-hash dedup misses them; byte-shingle
  // MinHash catches payloads sharing most of their byte stream.

  /** Block-token rendering of a BINARY payload: lowercase hex split
    * into one token per `blockBytes`-byte block (a trailing partial
    * block is its own token) — the adapter that lets every text-side
    * shingle/minhash operator run over bytes. In-row, codegen'd
    * (hex + regexp_replace), engine-reproducible. `blockBytes = 1`
    * gives the per-byte stream; the default 16 is the fuzzy-hashing
    * granularity (ssdeep-style fixed blocks): a 1-byte patch dirties
    * ONE block, and shingle cost scales with payload/blockBytes, not
    * payload — per-byte stride-1 shingling measured 23 s at sf0.1 on
    * this module's own fixture vs ~1 s for 16-byte blocks, with the
    * same planted pairs caught. */
  def payloadBlockTokens(bytes: Column, blockBytes: Int = 16): Column = {
    require(blockBytes >= 1, s"blockBytes=$blockBytes must be >= 1")
    trim(regexp_replace(lower(hex(bytes)),
      s"(.{${2 * blockBytes}})", "$1 "))
  }

  /** Payload near-dup pairs: `shingleWidth`-BLOCK shingles over the
    * [[payloadBlockTokens]] stream, md5 MinHash signatures, band-bucket
    * candidate generation, exact block-shingle jaccard verify — the
    * whole [[graft.api.TextDedup.nearMinhashMd5]] band/bucket engine
    * applied to bytes, so the pair space stays LSH-bounded (never
    * |corpus|²) and every scale property of the text engine (hash-only
    * exchanges, candidate-side broadcasts) carries over unchanged.
    * Catches the copies exact hashing misses — byte-patched payloads,
    * re-muxed containers, truncated tails — as long as most BLOCKS
    * survive; re-ENCODED media (every byte changes) needs a decode-side
    * signature, the documented codec splice point. md5 family ⇒
    * engine-reproducible ⇒ DuckDB-oracle-checkable end to end; the
    * planted byte-flip recall pin lives in MultimodalSpec.
    *
    * Pinning: the engine pins its SHINGLE frame (three consumers —
    * band sigs + both verify sides), which already cuts the hex +
    * block-split recompute
    * over full payload bytes; the block-token frame itself has one
    * consumer and is deliberately NOT pinned (the r9 spelling
    * double-pinned). Caller owns the final pin's release, the
    * [[graft.api.TextDedup.winnowCandidates]] discipline. The pinned
    * frame is shingle-of-hex-sized — ~2 bytes per payload byte; project
    * payloads away before any OTHER join, as always.
    * Output: (doc_a, doc_b, jaccard 4 dp). */
  def payloadNearDups(df: DataFrame, id: Column, bytes: Column,
      blockBytes: Int = 16, shingleWidth: Int = 2, bands: Int = 4,
      rowsPerBand: Int = 4, minJaccard: Double = 0.8): DataFrame =
    // no pin here: the block-token frame has ONE consumer (the engine's
    // shingle builder) — the multi-consumer pin lives INSIDE
    // nearMinhashMd5 on its shingle frame (r9 ADVICE: the old spelling
    // double-pinned)
    graft.api.TextDedup.nearMinhashMd5(
      df.select(id.as("__pid"),
        payloadBlockTokens(bytes, blockBytes).as("__bt")),
      col("__pid"), col("__bt"), shingleWidth, bands, rowsPerBand,
      minJaccard)

  /** Cross-corpus payload near-dup — MEDIA DECONTAMINATION: training
    * payloads whose byte stream near-dups an EVAL-set payload (the
    * fuzzy-decontamination primitive over bytes; exact payload hashing
    * misses re-muxed or byte-patched leaks). Delegates to
    * [[graft.api.TextDedup.nearMinhashMd5Between]] over the two
    * [[payloadBlockTokens]] streams — candidates from a band-bucket
    * equi-join of the two signature sets (LSH-bounded, never |L|×|R|);
    * at scale the eval side is the small one and its SIGNATURE frame,
    * never its bytes, is what the join broadcasts. Output: (doc_a from
    * `train`, doc_b from `eval`, jaccard 4 dp). */
  def payloadNearDupsBetween(train: DataFrame, trainId: Column,
      trainBytes: Column, eval0: DataFrame, evalId: Column,
      evalBytes: Column, blockBytes: Int = 16, shingleWidth: Int = 2,
      bands: Int = 4, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8): DataFrame =
    graft.api.TextDedup.nearMinhashMd5Between(
      train.select(trainId.as("__pid"),
        payloadBlockTokens(trainBytes, blockBytes).as("__bt")),
      col("__pid"), col("__bt"),
      eval0.select(evalId.as("__pid"),
        payloadBlockTokens(evalBytes, blockBytes).as("__bt")),
      col("__pid"), col("__bt"),
      shingleWidth, bands, rowsPerBand, minJaccard)

  // === Perceptual-hash near-dup (dHash) =================================
  // payloadNearDups catches byte-level copies; a RE-ENCODED image shares
  // zero bytes with its original but (nearly) all of its PIXELS. dHash
  // (difference hash — public, e.g. the pHash/blockhash family) reduces
  // any image to 64 gradient-sign bits over a 9×8 grayscale thumbnail;
  // re-encodes, format changes, mild resizes and small edits move only a
  // few bits, so near-dup = small hamming distance. The decode step is
  // the usual splice point (real via javax.imageio where the JDK has a
  // reader, deterministic stub otherwise); everything AFTER the pixel
  // matrix is pure Catalyst arithmetic — engine-reproducible, so the
  // whole banded near-dup pipeline is DuckDB-oracle-checkable.

  /** Row-major 8×9 grayscale pixel matrix (72 ints, rows of 9) per
    * payload: REAL decode + 9×8 bilinear thumbnail + ITU-R BT.601
    * integer luminance for every JDK-readable image; other payloads get
    * the deterministic md5-expansion stub (real schema and partition
    * shape, the decodeDims convention). Partition-wise iterator
    * streaming; output is 72 ints — payload bytes never leave the map
    * side. */
  def imagePixels9x8(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("path"), col("media.bytes"))
      .as[(String, Array[Byte])]
      .mapPartitions(it => it.map { case (p, b) => (p, pixels9x8(b)) })
      .toDF("path", "pixels")
  }

  /** 9×8 grayscale thumbnail as 72 row-major ints — real decode when
    * the JDK can read the bytes, md5-expansion stub otherwise. */
  private[sources] def pixels9x8(bytes: Array[Byte]): Array[Int] =
    (try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
     catch { case scala.util.control.NonFatal(_) => None }) match {
      case Some(img) =>
        val dst = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, 9, 8, null)
        } finally g.dispose()
        val px = new Array[Int](72)
        var i = 0
        while (i < 72) {
          val rgb = dst.getRGB(i % 9, i / 9)
          // BT.601 integer luma: (299 R + 587 G + 114 B) / 1000
          px(i) = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          i += 1
        }
        px
      case None =>
        // deterministic stub: md5-chain expansion of the payload bytes
        val md = java.security.MessageDigest.getInstance("MD5")
        val px = new Array[Int](72)
        var block = md.digest(bytes)
        var i = 0
        while (i < 72) {
          if (i % 16 == 0 && i > 0) block = md.digest(block)
          px(i) = block(i % 16) & 0xff
          i += 1
        }
        px
    }

  /** dHash band signature from a row-major 8×9 pixel matrix
    * (array<int>, 72 values): bit (r, c) = pixel(r, c) > pixel(r, c+1),
    * 8 bits per row, packed as FOUR 16-bit values (rows 2k and 2k+1 →
    * band k) rather than one 64-bit word — the band values ARE the
    * hamming-LSH bucket keys, and 16-bit ints sidestep the 64-bit
    * overflow divergence (DuckDB errors on BIGINT overflow where Spark
    * wraps). Pure Catalyst comparisons + integer folds — codegen'd,
    * engine-reproducible. */
  def dhashBands(pixels: Column): Column = {
    val bands = (0 until 4).map { k =>
      (0 until 16).foldLeft(lit(0)) { (acc, j) =>
        val r = 2 * k + j / 8
        val c = j % 8
        val bit = when(element_at(pixels, r * 9 + c + 1) >
          element_at(pixels, r * 9 + c + 2), 1).otherwise(0)
        acc * 2 + bit
      }
    }
    array(bands: _*)
  }

  /** Perceptual near-dup pairs from pixel matrices: candidates are
    * pairs sharing at least one of the four 16-bit dHash bands (an
    * equi-join on (band, sig) — LSH-bounded, never |corpus|²), verified
    * by EXACT hamming distance over all 64 bits (Σ bit_count(xor) per
    * band). PIGEONHOLE GUARANTEE: a pair at hamming d ≤ 3 differs in at
    * most 3 of 4 bands, so at least one band matches — candidate recall
    * is exactly 1.0 for every pair the verify would keep, DETERMINISTIC
    * (MinHash's probabilistic S-curve has no analogue here; pinned in
    * MultimodalSpec). `maxDist` is capped at 3 for that reason — a
    * looser verify would silently lose the guarantee. The band frame is
    * pinned (4 ints + id per row; three consumers).
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  def phashNearDups(df: DataFrame, id: Column, pixels: Column,
      maxDist: Int = 3): DataFrame =
    // candidate/verify core shared with the md5-SimHash family
    // (TextDedup.bandedHammingPairs): collapse-guarded band equi-join +
    // exact Σ bit_count(xor) hamming, pigeonhole-complete at ≤ 3
    graft.api.TextDedup.bandedHammingPairs(graft.util.Pin(
      df.select(id.as("__id"), dhashBands(pixels).as("__bd"))), maxDist)

  /** Persist a dHash band index — the nightly form of perceptual dedup
    * (the writeSignatureIndex discipline applied to pixel space): the
    * accumulated corpus's band signatures land ONCE through
    * [[graft.api.TextDedup.writeBandIndex]] (the layout the md5-SimHash
    * index shares); each delta shard then screens with a band equi-join
    * instead of re-decoding anything. Signatures are deterministic per
    * payload, so accepting a screened shard = appending its 4-int rows
    * ([[appendToPhashIndex]]); rebuild only if the dHash geometry
    * changes. The index is ~20 bytes/doc regardless of media size — the
    * whole point at 100 TB of media. */
  def writePhashIndex(df: DataFrame, id: Column, pixels: Column,
      path: String): Unit =
    graft.api.TextDedup.writeBandIndex(
      df.select(id.as("__id"), dhashBands(pixels).as("__bd")), path)

  /** Append a screened shard's band rows to an existing
    * [[writePhashIndex]] index — the accept step of the nightly
    * perceptual cycle, mirroring [[TextDedup.appendToSignatureIndex]]
    * (r14 verdict #2: the one index family without an append cadence):
    * dHash signatures are deterministic per payload, so appending the
    * shard's 4-int rows grows an index bit-identical to one rebuilt
    * over the accepted corpus (append ≡ rebuild — ApiSpec pin) WITHOUT
    * re-decoding or re-signing anything already indexed; at 10⁹ docs
    * the nightly cost is |shard| band rows, not a full-corpus rebuild.
    * Caller guarantees the shard's ids are not already in the index
    * ([[phashDedupShardAgainstIndex]] survivors by construction);
    * rebuild only if the dHash geometry changes. */
  def appendToPhashIndex(df: DataFrame, id: Column, pixels: Column,
      path: String): Unit =
    df.select(id.as("__id"), dhashBands(pixels).as("__bd"))
      .write.mode("append").parquet(s"$path/bands")

  /** The complete nightly accept-screen for perceptual dedup: shard
    * members in the [[graft.api.TextDedup.bandDrops]] keep-min drop set
    * are dropped; survivors keep all original columns (the
    * dedupShardAgainstIndex contract over pixel space). ONE pinned band
    * frame feeds both screens (r12). */
  def phashDedupShardAgainstIndex(shard: DataFrame, id: Column,
      pixels: Column, path: String, maxDist: Int = 3): DataFrame =
    shard.join(graft.api.TextDedup.bandDrops(graft.util.Pin(
          shard.select(id.as("__id"), dhashBands(pixels).as("__bd"))),
        path, maxDist),
      id === col("__drop_id"), "left_anti")
}
