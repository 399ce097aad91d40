package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Multimodal

/** The multimodal plumbing is real even though the codec is stubbed: reads
  * actual files through binaryFile, checks the struct schema, metadata map,
  * and the partition-wise decode/feature shape (MULTIMODAL.md). */
class MultimodalSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private def media = Multimodal.readDir(
    spark, "/root/repo/src/main/scala/graft", "*.scala")

  private def tempDir(prefix: String): java.io.File =
    SparkFixture.tempDir(prefix)

  test("binaryFile ingest produces the typed media struct") {
    val df = media
    assert(df.count() > 0)
    val mediaField = df.schema("media").dataType.asInstanceOf[StructType]
    assert(mediaField("mime").dataType == StringType)
    assert(mediaField("bytes").dataType == BinaryType)
    assert(mediaField("meta").dataType ==
      MapType(StringType, StringType))
    val row = df.orderBy("path").head()
    val m = row.getStruct(1)
    assert(m.getAs[String]("mime") == "text/x-scala")
    assert(m.getAs[Array[Byte]]("bytes").nonEmpty)
    assert(m.getAs[Map[String, String]]("meta").contains("length"))
  }

  test("metadata-only query never needs the payload column") {
    val counts = media.groupBy(col("media.mime")).count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) > 0))
  }

  test("decode is partition-wise, deterministic, and typed") {
    val d1 = Multimodal.decodeDims(media).orderBy("path")
      .collect().map(_.toString).toSeq
    val d2 = Multimodal.decodeDims(media).orderBy("path")
      .collect().map(_.toString).toSeq
    assert(d1 == d2 && d1.nonEmpty)
  }

  test("PNG decode returns REAL width/height from real bytes") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = tempDir("graft_png_")
    val sizes = Seq(("a.png", 17, 31), ("b.png", 128, 64), ("c.png", 1, 1))
    sizes.foreach { case (name, w, h) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      ImageIO.write(img, "png", new java.io.File(dir, name))
    }
    val decoded = Multimodal
      .decodeDims(Multimodal.readDir(spark, dir.getAbsolutePath, "*.png"))
      .collect()
      .map(r => (r.getString(0).split('/').last,
        r.getInt(1), r.getInt(2))).toSet
    assert(decoded == sizes.toSet, s"decoded dims wrong: $decoded")
  }

  test("WAV decode returns REAL rate/channels/bits/frames from real " +
      "bytes; non-audio yields the sentinel row") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val dir = tempDir("graft_wav_")
    val specs = Seq(("a.wav", 8000f, 1, 16, 800L), ("b.wav", 44100f, 2, 16, 441L))
    specs.foreach { case (name, rate, ch, bits, frames) =>
      val fmt = new AudioFormat(rate, bits, ch, true, false)
      val pcm = new Array[Byte]((frames * fmt.getFrameSize).toInt)
      (0 until pcm.length).foreach(i => pcm(i) = ((i * 37) & 0x7f).toByte)
      val in = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames)
      AudioSystem.write(in, javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(dir, name))
    }
    // a non-audio payload must get the sentinel, not an exception
    java.nio.file.Files.write(new java.io.File(dir, "c.wav").toPath,
      Array[Byte](1, 2, 3, 4))
    val got = Multimodal
      .decodeAudio(Multimodal.readDir(spark, dir.getAbsolutePath, "*.wav"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      ("a.wav", 8000, 1, 16, 800L, 100L),   // 800 frames @ 8 kHz = 100 ms
      ("b.wav", 44100, 2, 16, 441L, 10L),   // 441 frames @ 44.1 kHz = 10 ms
      ("c.wav", -1, -1, -1, -1L, -1L)), s"got $got")
  }

  test("resizeImages REALLY resizes: aspect kept, box bound, no upscale; " +
      "non-images pass through byte-identical") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = tempDir("graft_rs_")
    Seq(("big.png", 200, 100), ("small.png", 20, 10)).foreach {
      case (name, w, h) =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        ImageIO.write(img, "png", new java.io.File(dir, name))
    }
    java.nio.file.Files.write(new java.io.File(dir, "not_image.txt").toPath,
      "plain text payload".getBytes)
    val out = Multimodal
      .resizeImages(Multimodal.readDir(spark, dir.getAbsolutePath), 50)
      .collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
      .toMap
    val (bigBytes, bw, bh, bres) = out("big.png")
    assert(bres && (bw, bh) == (50, 25), s"got ${(bw, bh)}")
    // the emitted bytes are a real PNG of the NEW size
    val re = ImageIO.read(new java.io.ByteArrayInputStream(bigBytes))
    assert(re.getWidth == 50 && re.getHeight == 25)
    // already inside the box → byte-identical passthrough, never a
    // decode/re-encode round trip (alpha/bit-depth must survive)
    val smallOriginal = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "small.png").toPath)
    val (sb, sw, sh, sres) = out("small.png")
    assert(!sres && sb.sameElements(smallOriginal),
      "in-box image must pass through byte-identical, not re-encoded")
    // ...but still reports its REAL decoded dims, so callers can tell
    // "image that needed no work" from "not an image at all"
    assert((sw, sh) == (20, 10), s"in-box image dims: got ${(sw, sh)}")
    val (tb, tw, th, tres) = out("not_image.txt")
    assert(!tres && new String(tb) == "plain text payload",
      "non-image payload must pass through byte-identical")
    assert((tw, th) == (-1, -1), "non-decodable payload dims must be -1")
  }

  test("sampleFrames extracts REAL animated-GIF frames; non-media yields " +
      "zero rows; single-frame images yield one") {
    import java.awt.image.BufferedImage
    import javax.imageio.{IIOImage, ImageIO}
    val dir = tempDir("graft_gif_")
    // 5-frame animated GIF, frame i painted with a distinct gray level
    val gifFile = new java.io.File(dir, "anim.gif")
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(gifFile)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 5).foreach { i =>
      val f = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
      val g = f.createGraphics()
      g.setColor(new java.awt.Color(i * 40, i * 40, i * 40))
      g.fillRect(0, 0, 8, 6); g.dispose()
      writer.writeToSequence(new IIOImage(f, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val single = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    ImageIO.write(single, "png", new java.io.File(dir, "one.png"))
    java.nio.file.Files.write(new java.io.File(dir, "noise.bin").toPath,
      Array[Byte](1, 2, 3, 4))
    val rows = Multimodal
      .sampleFrames(Multimodal.readDir(spark, dir.getAbsolutePath), 2)
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1),
        r.getInt(2), r.getInt(3)))
    val byFile = rows.groupBy(_._1)
    assert(byFile("anim.gif").map(_._2).sorted.toSeq == Seq(0, 2, 4),
      s"every-2nd of 5 frames must be 0,2,4: ${rows.toSeq}")
    assert(byFile("anim.gif").forall(r => r._3 == 8 && r._4 == 6))
    assert(byFile("one.png").toSeq == Seq(("one.png", 0, 4, 4)))
    assert(!byFile.contains("noise.bin"), "unreadable bytes → zero rows")
  }

  test("non-image bytes fall back to the deterministic stub, not an error") {
    // .scala files: no ImageIO reader claims them
    val d = Multimodal.decodeDims(media)
    assert(d.count() > 0)
    assert(d.filter(col("width") >= 64).count() == d.count())
  }

  test("extractFeatures computes a REAL pixel histogram for images") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = tempDir("graft_hist_")
    Seq(("black.png", 0x000000), ("white.png", 0xffffff)).foreach {
      case (name, rgb) =>
        val img = new BufferedImage(10, 10, BufferedImage.TYPE_INT_RGB)
        (0 until 10).foreach(x => (0 until 10).foreach(y =>
          img.setRGB(x, y, rgb)))
        ImageIO.write(img, "png", new java.io.File(dir, name))
    }
    val feats = Multimodal
      .extractFeatures(Multimodal.readDir(spark, dir.getAbsolutePath))
      .collect()
      .map(r => r.getString(0).split('/').last -> r.getSeq[Float](1)).toMap
    assert(feats("black.png").head == 1.0f &&
      feats("black.png").sum == 1.0f, "all-black mass must sit in bin 0")
    assert(feats("white.png").last == 1.0f &&
      feats("white.png").sum == 1.0f, "all-white mass must sit in the top bin")
  }

  test("stubbed feature extraction emits fixed-width float vectors") {
    val f = Multimodal.extractFeatures(media).orderBy("path").head()
    assert(f.getSeq[Float](1).length == 8)
  }

  test("audioFeatures computes REAL rms/peak/zcr from decoded PCM: a " +
      "1 kHz half-amplitude sine matches closed forms; silence is zero; " +
      "non-audio yields the sentinel") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val dir = tempDir("graft_sine_")
    val rate = 8000f; val n = 1600
    def writeWav(name: String, sample: Int => Double): Unit = {
      val fmt = new AudioFormat(rate, 16, 1, true, false) // 16-bit LE mono
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val s = math.max(-32767, math.min(32767,
          math.round(sample(i) * 32767).toInt))
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      AudioSystem.write(
        new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
        new java.io.File(dir, name))
    }
    // 1 kHz at half amplitude: rms = A/sqrt(2), zcr = 2f/rate, peak ≈ A
    writeWav("sine.wav",
      i => 0.5 * math.sin(2 * math.Pi * 1000.0 * i / rate))
    writeWav("silence.wav", _ => 0.0)
    java.nio.file.Files.write(new java.io.File(dir, "junk.wav").toPath,
      Array[Byte](9, 9, 9, 9))
    val got = Multimodal
      .audioFeatures(Multimodal.readDir(spark, dir.getAbsolutePath, "*.wav"))
      .collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))
      .toMap
    val (sn, srms, speak, szcr, shz) = got("sine.wav")
    assert(sn == n.toLong)
    assert(math.abs(srms - 0.5 / math.sqrt(2)) < 0.01,
      s"sine rms $srms != A/sqrt(2)")
    assert(math.abs(speak - 0.5) < 0.01, s"sine peak $speak != 0.5")
    assert(math.abs(szcr - 2 * 1000.0 / rate) < 0.02,
      s"sine zcr $szcr != 2f/rate")
    // 64 bins to Nyquist 4 kHz → 62.5 Hz spacing; the 1 kHz tone must
    // land on the nearest probe
    assert(math.abs(shz - 1000.0) <= 62.5, s"dominant $shz not ~1 kHz")
    assert(got("silence.wav") == ((n.toLong, 0.0, 0.0, 0.0, 0.0)))
    assert(got("junk.wav") == ((-1L, -1.0, -1.0, -1.0, -1.0)))
  }

  test("in-plan synthesized 8-bit unsigned WAV (wavPcm8Header + data " +
      "bytes) decodes through the real javax.sound path with EXACT " +
      "rms/peak/zcr — the llm_multimodal_audio_features pin") {
    import spark.implicits._
    // a hand-picked byte pattern exercising both extremes and the
    // zero-crossing edge (128 centers to exactly 0)
    val raw = Array(128, 255, 0, 128, 64, 192, 1, 254).map(_.toByte)
    val header = Multimodal.wavPcm8Header(raw.length)
    val media = Seq(("a", header ++ raw)).toDF("path", "bytes")
      .select(col("path"),
        struct(lit("audio/wav").as("mime"), col("bytes").as("bytes"),
          map(lit("synth"), lit("pcm8")).as("meta")).as("media"))
    // header decode: the literal header must read back as 8 kHz mono
    // 8-bit with the exact frame count
    val hd = Multimodal.decodeAudio(media).head()
    assert((hd.getInt(1), hd.getInt(2), hd.getInt(3), hd.getLong(4),
        hd.getLong(5)) == ((8000, 1, 8, raw.length.toLong, 1L)),
      s"header decode mismatch: $hd")
    // features: the 8-bit unsigned branch centers v = byte − 128 and
    // normalizes by 128 — every expected value is a pure-Scala mirror
    // of the same dyadic arithmetic, compared EXACTLY (no tolerance)
    val v = raw.map(b => (b & 0xff) - 128)
    val expRms = math.sqrt(v.map(x => (x / 128.0) * (x / 128.0)).sum
      / raw.length)
    val expPeak = v.map(x => math.abs(x / 128.0)).max
    val expZcr = v.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      .toDouble / (raw.length - 1)
    val r = Multimodal.audioFeatures(media).head()
    assert(r.getLong(1) == raw.length.toLong, s"n_samples: $r")
    assert(r.getDouble(2) == expRms, s"rms ${r.getDouble(2)} != $expRms")
    assert(r.getDouble(3) == expPeak, s"peak ${r.getDouble(3)} != $expPeak")
    assert(r.getDouble(4) == expZcr, s"zcr ${r.getDouble(4)} != $expZcr")
  }

  test("packToParquet round-trips the media table; metadata-only queries " +
      "over the packed layout prune the payload column at the scan") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    val dir = tempDir("graft_pack_src_")
    Seq(("x.png", 10, 8), ("y.png", 4, 4)).foreach { case (name, w, h) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      ImageIO.write(img, "png", new java.io.File(dir, name))
    }
    val dest = new java.io.File(tempDir("graft_pack_dst_"), "packed")
      .getAbsolutePath
    Multimodal.packToParquet(spark, dir.getAbsolutePath, dest, "*.png")
    // struct view round-trips: same paths, same byte payloads
    val orig = Multimodal.readDir(spark, dir.getAbsolutePath, "*.png")
      .select(col("path"), col("media.bytes")).collect()
      .map(r => new java.io.File(r.getString(0)).getName ->
        r.getAs[Array[Byte]](1).toSeq).toMap
    val packed = Multimodal.readPacked(spark, dest)
      .select(col("path"), col("media.bytes")).collect()
      .map(r => new java.io.File(r.getString(0)).getName ->
        r.getAs[Array[Byte]](1).toSeq).toMap
    assert(packed == orig, "packed payloads diverge from source")
    // decode operators run unchanged on the packed view
    val dims = Multimodal.decodeDims(Multimodal.readPacked(spark, dest))
      .collect().map(r => new java.io.File(r.getString(0)).getName ->
        (r.getInt(1), r.getInt(2))).toMap
    assert(dims("x.png") == ((10, 8)) && dims("y.png") == ((4, 4)))
    // THE point of the flat layout: a metadata-only plan's parquet scan
    // must not read the bytes column chunks
    val metaOnly = spark.read.parquet(dest)
      .groupBy("mime").count()
    val scan = metaOnly.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("mime") && !scan.contains("bytes"),
      s"payload column not pruned from the packed scan:\n$scan")
  }

  test("llm_multimodal_packed: the metadata-only aggregate prunes the " +
      "payload column even through readPacked's struct view") {
    // the declared key packs fixture-derived payloads then aggregates
    // metadata through the (mime, bytes, meta) struct — nested-schema
    // pruning must keep the bytes chunks out of the packed scan
    val frame = SparkEntry
      .queries("llm_multimodal_packed")(spark, SparkFixture.sf0001)
    val leaves = frame.queryExecution.executedPlan.collectLeaves()
      .map(_.toString)
    val packedScans = leaves.filter(_.contains("graft_multimodal_packed"))
    assert(packedScans.nonEmpty,
      s"no packed-table scan in the plan leaves:\n${leaves.mkString("\n")}")
    assert(packedScans.forall(s => !s.contains("bytes")),
      s"payload column read by a metadata-only query through the struct " +
        s"view:\n${packedScans.mkString("\n")}")
    // and the key itself returns the three fixture mimes
    val rows = frame.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("audio/wav", "image/png", "text/plain"), rows.mkString(","))
  }

  test("phashNearDups on REAL decoded images: a re-rendered half-size " +
      "copy lands at small hamming and is caught; an inverted-gradient " +
      "image is not") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val dir = tempDir("graft_ph_")
    def gradient(w: Int, h: Int, invert: Boolean): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val v0 = ((x * 255) / w + (y * 128) / h) % 256
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    ImageIO.write(gradient(180, 120, invert = false), "png",
      new java.io.File(dir, "orig.png"))
    // the SAME scene re-rendered at half size: zero shared bytes with
    // orig.png, (nearly) identical 9x8 thumbnail — the case byte-level
    // dedup (payloadNearDups) provably cannot catch
    ImageIO.write(gradient(90, 60, invert = false), "png",
      new java.io.File(dir, "resized.png"))
    ImageIO.write(gradient(180, 120, invert = true), "png",
      new java.io.File(dir, "inverted.png"))
    val px = Multimodal.imagePixels9x8(
      Multimodal.readDir(spark, dir.getAbsolutePath, "*.png"))
    def nm(p: String) = p.split('/').last
    val pairs = Multimodal
      .phashNearDups(px, col("path"), col("pixels"))
      .collect()
      .map(r => Set(nm(r.getString(0)), nm(r.getString(1))) -> r.getInt(2))
      .toMap
    assert(pairs.contains(Set("orig.png", "resized.png")),
      s"re-rendered copy missed: $pairs")
    assert(pairs(Set("orig.png", "resized.png")) <= 3)
    assert(!pairs.keys.exists(_.contains("inverted.png")),
      s"inverted gradient wrongly matched: $pairs")
  }

  test("phashNearDups pigeonhole guarantee: a pair at EXACTLY hamming 3 " +
      "spread over three different bands is still caught (deterministic " +
      "recall, no LSH dice); maxDist > 3 is rejected") {
    import spark.implicits._
    // ascending base matrix: every gradient bit is 0; raising pixel at
    // 0-based column index c flips ONLY bit (r, c) — three raises in
    // bands 0, 1, 3 give hamming exactly 3 with band 2 untouched
    val base = Array.tabulate(72)(identity)
    val mod = base.clone()
    mod(2) = 1000   // row 0 -> band 0
    mod(20) = 1000  // row 2 -> band 1
    mod(56) = 1000  // row 6 -> band 3
    val df = Seq((1L, base), (2L, mod)).toDF("id", "px")
    val out = Multimodal.phashNearDups(df, col("id"), col("px")).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L
      && out.head.getLong(1) == 2L && out.head.getInt(2) == 3,
      out.mkString(","))
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDups(df, col("id"), col("px"), maxDist = 4)
    }
  }

  test("llm_multimodal_phash_dedup: a document shorter than the 9-token " +
      "pixel lattice pads with pad:c like its oracle, instead of " +
      "throwing") {
    import spark.implicits._
    val dir = tempDir("graft_phash_short_").toString
    // doc 2 spells doc 1's padding out, so their pixel matrices (and
    // dHash bits) are identical only if the short doc pads with pad:c
    Seq((1L, "a", "alpha beta gamma"),
      (2L, "b", "alpha beta gamma pad:3 pad:4 pad:5 pad:6 pad:7 pad:8"),
      (3L, "c", "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("llm_multimodal_phash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs.contains((1L, 2L, 0)), pairs.mkString(","))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.mkString(","))
  }

  test("payloadNearDups: planted byte-flip copy caught, exact copy at " +
      "jaccard 1, unrelated payload screened out") {
    import spark.implicits._
    // deterministic 256-byte payloads: base; a copy with ONE byte
    // flipped (the patch exact-hash dedup misses); an exact copy; and
    // an unrelated payload — all as raw BINARY, no fixture derivation
    val rnd = new scala.util.Random(7)
    val base = Array.fill[Byte](1024)(0); rnd.nextBytes(base)
    val flipped = base.clone(); flipped(517) = (flipped(517) ^ 0x5a).toByte
    val other = Array.fill[Byte](1024)(0)
    new scala.util.Random(99).nextBytes(other)
    val df = Seq((1L, base), (2L, flipped), (3L, base.clone()),
      (4L, other)).toDF("id", "payload")
    // 64 blocks, width-2 shingles = 63 windows; one flipped byte
    // dirties ONE block = 2 windows: jaccard 61/65 ≈ 0.9385 — the flip
    // pair must clear a 0.8 gate but not 0.95; the exact pair sits at
    // 1.0 everywhere (recall pin: the band screen caught both)
    val strict = Multimodal
      .payloadNearDups(df, col("id"), col("payload"), minJaccard = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(strict.contains((1L, 3L)) && strict((1L, 3L)) == 1.0, strict)
    assert(!strict.contains((1L, 2L)),
      s"0.94-jaccard pair above 0.95: $strict")
    assert(strict.keys.forall { case (a, b) =>
      Set(a, b).subsetOf(Set(1L, 3L)) },
      s"unrelated payload survived the screen: $strict")
    val out = Multimodal
      .payloadNearDups(df, col("id"), col("payload"), minJaccard = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)) && out.contains((2L, 3L)),
      s"byte-flip near-dup pair missed at 0.8: $out")
    assert(math.abs(out((1L, 2L)) - 61.0 / 65.0) < 1e-3, out)
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated payload matched: $out")
  }

  test("multimodal training export: media refs resolve 1:1 to " +
      "surviving payload digests and lead every doc's sequence") {
    val sf = SparkFixture.sf0001
    val rows = SparkEntry
      .queries("llm_multimodal_training_export")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // independent payload-digest derivation: md5 of the concatenated
    // md5 chunk stream over the first 24 whitespace tokens, recomputed
    // in plain JVM code from the raw fixture text
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ph = r.getString(1).split(" ").take(24).map(md5hex).mkString
        r.getLong(0) -> md5hex(ph)
      }.toMap
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      val media = rs.filter(_.getString(4) == "media")
      // exactly ONE media ref per surviving doc, at the head of the
      // doc's chunk sequence, carrying ITS OWN payload digest
      assert(media.length == 1, s"doc $doc: ${media.length} media rows")
      assert(media.head.getInt(1) == 0 &&
        rs.map(_.getInt(1)).min == 0, s"doc $doc: media must lead")
      assert(media.head.getString(6) == expected(doc),
        s"doc $doc: ref does not resolve to its payload digest")
      assert(rs.filter(_.getString(4) == "text")
        .forall(_.getString(6).isEmpty))
    }
    // and the screens really dropped something at sf0.001 (planted
    // text dups ⇒ identical payloads AND identical pixel lattices)
    assert(byDoc.size < expected.size,
      "no doc was screened — the planted duplicates must drop")
  }

  test("appendToPhashIndex: grown index ≡ rebuilt index (screen-identical " +
      "and row-identical), and appended rows are really screened") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    def img() = Array.fill(72)(rnd.nextInt(256))
    val day0 = (0L until 8L).map(i => (i, img()))
    val day1 = (8L until 14L).map(i => (i, img()))
    val root = tempDir("graft_phash_append_")
    val grown = new java.io.File(root, "grown").getAbsolutePath
    val rebuilt = new java.io.File(root, "rebuilt").getAbsolutePath
    Multimodal.writePhashIndex(day0.toDF("doc_id", "px"),
      col("doc_id"), col("px"), grown)
    Multimodal.appendToPhashIndex(day1.toDF("doc_id", "px"),
      col("doc_id"), col("px"), grown)
    Multimodal.writePhashIndex((day0 ++ day1).toDF("doc_id", "px"),
      col("doc_id"), col("px"), rebuilt)
    // dHash rows are deterministic per payload ⇒ the grown band table
    // must be ROW-identical to the rebuilt one (append ≡ rebuild, the
    // signature-index certificate applied to pixel space)
    def bands(p: String) = spark.read.parquet(s"$p/bands")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toList)).toSet
    assert(bands(grown) == bands(rebuilt),
      "grown band table diverges from rebuilt")
    // and a shard screens identically against either index; the variant
    // targets doc 10 — an APPENDED row — so the screen provably reads
    // the appended part (single-pixel edit ⇒ hamming ≤ 2, pigeonhole-
    // guaranteed candidate)
    val variant = day1(2)._2.clone()
    variant(40) = (variant(40) + 97) % 256
    val shard = Seq((100L, variant), (101L, img())).toDF("doc_id", "px")
    def survivors(p: String) = Multimodal
      .phashDedupShardAgainstIndex(shard, col("doc_id"), col("px"), p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val g = survivors(grown)
    assert(g == survivors(rebuilt), "screen diverges grown vs rebuilt")
    assert(g == Set(101L),
      s"variant of an APPENDED doc must be dropped, fresh kept: got $g")
  }
}
