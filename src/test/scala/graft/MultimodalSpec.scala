package graft

import graft.multimodal.{MediaRow, Multimodal}

/** The Spark-side multimodal plumbing is real even though the codec is
  * a stub: schemas, batch shape, partition-count independence, and
  * deterministic decode all verified here.
  */
class MultimodalSpec extends SparkSpec {

  private def blob(id: Long, w: Int, h: Int, payload: Array[Byte]): MediaRow = {
    val header = Array[Byte]('F', 'I',
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte)
    MediaRow(id, "image", header ++ payload)
  }

  private lazy val rows = (1L to 50L).map(i =>
    blob(i, 640, 480, Array.tabulate(100)(j => ((i * 7 + j) % 256).toByte)))

  test("typed metadata parses the binary header") {
    import spark.implicits._
    val meta = Multimodal.imageMeta(rows.toDS()).collect().sortBy(_.media_id)
    assert(meta.length === 50)
    assert(meta.forall(m => m.format == "fimg" && m.width == 640 && m.height == 480))
    assert(meta.head.byte_len === 106L)
  }

  test("binaryStats stays a native columnar plan (no serializeFromObject)") {
    import spark.implicits._
    val df = Multimodal.binaryStats(rows.toDF())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("MapElements"), s"typed map leaked into plan:\n$plan")
    assert(df.collect().forall(_.getLong(2) === 106L))
  }

  test("feature extraction is deterministic and batch/partition independent") {
    import spark.implicits._
    val a = Multimodal.imageFeatures(rows.toDS(), dim = 8, batchSize = 7, parallelism = 5)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    val b = Multimodal.imageFeatures(rows.toDS(), dim = 8, batchSize = 64, parallelism = 2)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(a === b, "features must not depend on batch size or partitioning")
    assert(a.values.forall(_.length == 8))
    // same content → same features; different content → different
    assert(a(1L) !== a(2L))
  }

  test("resize halves the feature dimension") {
    import spark.implicits._
    val feats = Multimodal.imageFeatures(rows.take(3).toDS(), dim = 8)
    val small = Multimodal.resizeFeatures(feats).collect()
    assert(small.forall(_.dim === 4))
  }

  test("a second codec swaps in through the Codec seam — nothing else changes") {
    import spark.implicits._
    // A byte-exact alternative decoder: same header contract, but
    // features = raw first-dim payload bytes scaled to [0, 1). Proves
    // the real-codec swap is ONE trait implementation: identical
    // schema, batch shape, and partition independence, different
    // decoded values.
    object AltCodec extends Multimodal.Codec {
      def headerLen: Int = Multimodal.FakeCodec.HeaderLen
      def format(b: Array[Byte]): String = Multimodal.FakeCodec.format(b)
      def width(b: Array[Byte]): Int = Multimodal.FakeCodec.width(b)
      def height(b: Array[Byte]): Int = Multimodal.FakeCodec.height(b)
      def features(b: Array[Byte], dim: Int): Array[Float] =
        Array.tabulate(dim)(j =>
          if (headerLen + j < b.length) (b(headerLen + j) & 0xff) / 256.0f else 0f)
    }
    val alt = Multimodal.imageFeatures(rows.toDS(), dim = 8, batchSize = 7,
      parallelism = 5, codec = AltCodec)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    val alt2 = Multimodal.imageFeatures(rows.toDS(), dim = 8, batchSize = 64,
      parallelism = 2, codec = AltCodec)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    val fake = Multimodal.imageFeatures(rows.toDS(), dim = 8)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(alt === alt2, "alt codec must stay batch/partition independent")
    assert(alt.keySet === fake.keySet && alt.values.forall(_.length == 8))
    assert(alt(1L) !== fake(1L), "different decoder, different values")
    // expected first feature of doc 1: payload byte 0 = (1*7+0)%256 = 7
    assert(math.abs(alt(1L).head - 7 / 256.0f) < 1e-6)
    // metadata path takes the same seam
    val meta = Multimodal.imageMeta(rows.take(2).toDS(), AltCodec).collect()
    assert(meta.forall(m => m.format == "fimg" && m.width == 640))
  }

  test("ImageIoCodec decodes REAL PNGs end-to-end through the pipeline") {
    import spark.implicits._
    // Round-trip genuine PNG bytes (encoded with the same JDK ImageIO
    // the codec decodes with): 20 images, each w=16+i, h=8+i, filled
    // with a single gray level g=i*12 — so the luminance histogram has
    // all mass in exactly one known bucket, and metadata must read the
    // true container header (no fake 6-byte magic involved).
    def png(i: Int): MediaRow = {
      val (w, h, g) = (16 + i, 8 + i, i * 12)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(i.toLong, "image", bos.toByteArray)
    }
    val pngs = (1 to 20).map(png)

    val meta = Multimodal.imageMeta(pngs.toDS(), Multimodal.ImageIoCodec)
      .collect().sortBy(_.media_id)
    meta.foreach { m =>
      val i = m.media_id.toInt
      assert(m.format === "png" && m.width === 16 + i && m.height === 8 + i,
        s"image $i: real PNG header misread as (${m.format}, ${m.width}, ${m.height})")
    }

    val dim = 8
    val feats = Multimodal.imageFeatures(pngs.toDS(), dim = dim,
      batchSize = 7, parallelism = 3, codec = Multimodal.ImageIoCodec)
      .collect().map(f => f.media_id -> f.features).toMap
    (1 to 20).foreach { i =>
      val lum = i * 12 // R=G=B=g ⇒ BT.601 luminance = g exactly
      val bucket = math.min(dim - 1, lum * dim / 256)
      val f = feats(i.toLong)
      assert(math.abs(f(bucket) - 1.0f) < 1e-6,
        s"image $i: uniform gray $lum must land all mass in bucket $bucket, got ${f.toSeq}")
      assert(math.abs(f.map(_.toDouble).sum - 1.0) < 1e-6, "histogram must normalize to 1")
    }
    // partition/batch independence holds for the real codec too
    val again = Multimodal.imageFeatures(pngs.toDS(), dim = dim,
      batchSize = 64, parallelism = 1, codec = Multimodal.ImageIoCodec)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(again === feats.map { case (k, v) => k -> v.toSeq })
  }

  test("WavCodec round-trips REAL WAV bytes losslessly through the pipeline") {
    import spark.implicits._
    // Synthesize genuine RIFF/WAVE containers (encoded with the same
    // javax.sound.sampled the codec decodes with): 16-bit PCM mono is
    // lossless, so the decoded stream must be bit-identical to the
    // synthesized integers — the property multimodal_audio_stats'
    // hash-grade rests on.
    def wav(id: Long, n: Int): MediaRow = {
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val v = ((id * 31 + i * 7) % 2001 - 1000).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      MediaRow(id, "audio", bos.toByteArray)
    }

    // direct codec check: exact samples + container metadata
    val one = wav(3L, 700)
    assert(Multimodal.WavCodec.sampleRate(one.content) === 8000f)
    assert(Multimodal.WavCodec.channels(one.content) === 1)
    val got = Multimodal.WavCodec.samples(one.content)
    assert(got.toSeq === (0 until 700).map(i => ((3L * 31 + i * 7) % 2001 - 1000).toInt))

    // pipeline check: per-window integer stats, hand-computed fixture,
    // batch/partition independence like every other multimodal stage
    val wavs = (0L until 12L).map(id => wav(id, 500 + id.toInt * 10))
    val stats = Multimodal.audioWindowStats(wavs.toDS(), windowSamples = 256,
      batchSize = 5, parallelism = 3).collect()
    val byKey = stats.map(s => (s.media_id, s.win_no) -> s).toMap
    (0L until 12L).foreach { id =>
      val n = 500 + id.toInt * 10
      val samples = (0 until n).map(i => ((id * 31 + i * 7) % 2001 - 1000).toInt)
      samples.grouped(256).zipWithIndex.foreach { case (w, k) =>
        val s = byKey((id, k.toLong))
        assert(s.n_samples === w.length.toLong)
        assert(s.sum_sq === w.map(v => v.toLong * v).sum)
        assert(s.peak_abs === w.map(v => math.abs(v).toLong).max)
        assert(s.sample_rate === 8000L && s.channels === 1L)
      }
    }
    val again = Multimodal.audioWindowStats(wavs.toDS(), windowSamples = 256,
      batchSize = 64, parallelism = 1).collect()
      .map(s => (s.media_id, s.win_no) -> (s.n_samples, s.sum_sq, s.peak_abs)).toMap
    assert(again === byKey.map { case (k, s) => k -> (s.n_samples, s.sum_sq, s.peak_abs) })
  }

  test("frame sampling emits every nth fixed-size window") {
    import spark.implicits._
    // payload 100 bytes, frame 10 bytes → 10 frames, every 3rd → 0,3,6,9
    val frames = Multimodal.sampleFrames(rows.take(2).toDS(), frameBytes = 10, everyNth = 3)
      .collect().groupBy(_.media_id)
    frames.values.foreach { fs =>
      assert(fs.map(_.frame_no).sorted.toSeq === Seq(0, 3, 6, 9))
      assert(fs.forall(_.frame.length === 10))
    }
  }

  test("a zero-padded PNG frame slot decodes identically to the bare PNG") {
    // The video container packs each REAL PNG into a fixed-size slot
    // with zero padding (frame slots must be fixed-width for the
    // sampler's offset arithmetic); a PNG reader stops at IEND, so the
    // padding must be invisible to both the metadata path and the full
    // pixel decode. This is the container contract
    // multimodal_video_decode's grading rests on.
    val img = new java.awt.image.BufferedImage(
      9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 9) {
      val g = (x * 3 + y * 5) % 256
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(png.length <= 1024, s"slot overflow: ${png.length}")
    val padded = png ++ new Array[Byte](1024 - png.length)
    val c = Multimodal.ImageIoCodec
    assert(c.format(padded) === c.format(png))
    assert(c.width(padded) === 9 && c.height(padded) === 7)
    assert(c.features(padded, 8).toSeq === c.features(png, 8).toSeq)
  }

  test("worst-case synthesized video frame fits the 1024-byte slot") {
    // The r10 container drops the query-time slot require (r9 advice
    // #3: an executor-side require would abort the whole query on a
    // future JDK whose PNG encoder emits larger output); the bound
    // moves HERE. The synthesized frame space is finite: dims cycle
    // (w, h) ∈ {8..12}×{6..8} and pixel content depends only on the
    // offset (id·7 + f·11) mod 256 — sweep ALL 256·15 combinations
    // and pin the max encoded size with 2× headroom against the
    // 1024-byte slot.
    var maxLen = 0
    for (off <- 0 until 256; w <- 8 to 12; h <- 6 to 8) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = (off + x * 3 + y * 5) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      maxLen = math.max(maxLen, bos.size())
    }
    assert(maxLen * 2 <= 1024,
      s"worst-case frame ${maxLen}B leaves <2x headroom in the 1024B slot")
  }

  test("imageAHash matches the hand-computed hash on real decoded PNGs") {
    import spark.implicits._
    // Same synthesis as multimodal_ahash_dedup; pins computed by hand
    // from the pixel formula (g = (id·7 + x·3 + y·5) mod 256, integer
    // mean, first-64 row-major threshold bits, two 32-bit words).
    val media = spark.createDataset(Seq(0L, 7L)).map { id =>
      val wpx = 8 + (id % 5).toInt
      val hpx = 6 + (id % 3).toInt
      val img = new java.awt.image.BufferedImage(
        wpx, hpx, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until hpx; x <- 0 until wpx) {
        val g = ((id * 7 + x * 3 + y * 5) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(id, "image", bos.toByteArray)
    }
    val got = Multimodal.imageAHash(media).collect()
      .map(a => a.media_id -> a).toMap
    assert(got(0L) === graft.multimodal.ImageAHash(0L, 8, 6, 23L,
      4175462400L, 65532L))
    assert(got(7L) === graft.multimodal.ImageAHash(7L, 10, 7, 77L,
      940310528L, 4294179064L))
  }

  test("multimodal_video_decode grades real pixels on every sampled frame") {
    // End-to-end on the graded query at the smoke SF: row spine =
    // every-2nd frame × 8 buckets for each doc < 32, per-frame pixel
    // counts sum to the frame's full raster (the decode saw ALL
    // pixels, not a truncated or padding-polluted raster).
    val rows = graft.SparkEntry.queries("multimodal_video_decode")(
      spark, Fixtures.testdata("0.001")).collect()
    val byFrame = rows.groupBy(r => (r.getLong(0), r.getLong(1)))
    (0L until 32L).foreach { id =>
      val k = 4 + (id % 3).toInt
      val expectFrames = (0 until k).filter(_ % 2 == 0).map(_.toLong)
      val got = byFrame.keys.filter(_._1 == id).map(_._2).toSeq.sorted
      assert(got === expectFrames, s"doc $id sampled frames: $got")
      expectFrames.foreach { f =>
        val cells = byFrame((id, f))
        assert(cells.length === 8)
        val w = 8 + (id % 5); val h = 6 + (id % 3)
        assert(cells.map(_.getLong(6)).sum === w * h,
          s"doc $id frame $f: pixel counts must cover the $w x $h raster")
        assert(cells.forall(r => r.getString(2) == "png" &&
          r.getLong(3) == w && r.getLong(4) == h))
      }
    }
  }
}
