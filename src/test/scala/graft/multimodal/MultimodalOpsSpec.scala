package graft.multimodal

import graft.GraftSuite
import org.apache.spark.sql.functions._

/** DataFrame-level specs for the real-decode multimodal operators: the
  * distributed plumbing (schemas, mapPartitions batch shape, drop-vs-keep
  * semantics) over real PNG/JPEG/WAV bytes. */
class MultimodalOpsSpec extends GraftSuite {

  private def corpus = {
    import spark.implicits._
    Seq(
      ("p0.png", ImageCodec.encode(ImageCodec.testPattern(64, 48, 0), "png")),
      ("p1.png", ImageCodec.encode(ImageCodec.testPattern(80, 56, 1), "png")),
      ("j0.jpg", ImageCodec.encode(ImageCodec.testPattern(64, 48, 0), "jpg")),
      ("w0.wav", AudioCodec.pcm16Wav(1, 8000,
        Array.tabulate(4000)(i => ((i * 37) % 4001 - 2000).toShort))),
      ("b0.bin", "just opaque bytes".getBytes("UTF-8"))
    ).toDF("path", "content")
  }

  test("decodePixels: real raster facts for images, undecodable rows dropped") {
    val out = Multimodal.decodePixels(corpus).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("p0.png", "p1.png", "j0.jpg"))
    val p0 = out("p0.png")
    assert(p0.getString(1) === "png")
    assert(p0.getInt(2) === 64 && p0.getInt(3) === 48 && p0.getInt(4) === 3)
    val (er, eg, eb) = ImageCodec.expectedPatternSums(64, 48, 0)
    assert((p0.getLong(6), p0.getLong(7), p0.getLong(8)) === ((er, eg, eb)))
    // perceptual: PNG and JPEG of the SAME pattern hash near each other
    val j0 = out("j0.jpg")
    assert(ImageCodec.hamming(p0.getLong(10), j0.getLong(10)) <= 5) // dhash
    // and a different pattern hashes far away
    assert(ImageCodec.hamming(p0.getLong(10), out("p1.png").getLong(10)) > 5)
  }

  test("decodeAudio: real waveform stats, non-audio dropped") {
    val rows = Multimodal.decodeAudio(corpus).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("w0.wav"))
    val r = rows.head
    assert(r.getInt(1) === 1 && r.getInt(2) === 8000)
    assert(r.getLong(4) === 4000L)
    assert(r.getDouble(5) === 0.5) // 4000 frames / 8000 Hz
    val expected = (0 until 4000).map(i => ((i * 37) % 4001 - 2000).toLong).sum
    assert(r.getLong(6) === expected)
  }

  test("resizeImages: thumbnails re-decode at target dims with conserved brightness") {
    val thumbs = Multimodal.resizeImages(corpus, 16, 12)
    val decoded = Multimodal.decodePixels(thumbs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(decoded.keySet === Set("p0.png", "p1.png", "j0.jpg"))
    val t = decoded("p0.png")
    assert(t.getInt(2) === 16 && t.getInt(3) === 12)
    // box resize preserves the mean up to integer truncation per output px
    val (er, _, _) = ImageCodec.expectedPatternSums(64, 48, 0)
    val fullMean = er.toDouble / (64 * 48)
    val thumbMean = t.getLong(6).toDouble / t.getLong(5)
    assert(math.abs(thumbMean - fullMean) < 1.5)
  }

  /** p0/j0 are the SAME pattern as PNG and JPEG (bytes totally different);
    * tiny0 is a downscaled copy of the same pattern (content survives);
    * p1/p9 are different patterns. */
  private def nearDupCorpus = {
    import spark.implicits._
    val tiny = ImageCodec.boxResize(ImageCodec.testPattern(64, 48, 0), 32, 24)
    Seq(
      ("p0.png", ImageCodec.encode(ImageCodec.testPattern(64, 48, 0), "png")),
      ("j0.jpg", ImageCodec.encode(ImageCodec.testPattern(64, 48, 0), "jpg")),
      ("tiny0.png", ImageCodec.encode(tiny, "png")),
      ("p1.png", ImageCodec.encode(ImageCodec.testPattern(64, 48, 1), "png")),
      ("p9.png", ImageCodec.encode(ImageCodec.testPattern(64, 48, 9), "png"))
    ).toDF("path", "content")
  }

  test("imageNearDupPairs: re-encoded copies pair by perceptual hash, distinct images don't") {
    import spark.implicits._
    val pairs = Multimodal.imageNearDupPairs(nearDupCorpus, maxHamming = 5)
      .select("patha", "pathb").as[(String, String)].collect().toSet
    val dupGroup = Set("p0.png", "j0.jpg", "tiny0.png")
    // all three re-encodings of pattern 0 pair with each other...
    for (a <- dupGroup; b <- dupGroup if a < b)
      assert(pairs.contains((a, b)) || pairs.contains((b, a)), s"missing pair ($a,$b)")
    // ...and no distinct pattern joins the group
    assert(pairs.forall { case (a, b) => dupGroup(a) == dupGroup(b) },
      s"false positive among $pairs")
  }

  test("imageNearDupPairs collects in at most 3 Spark jobs") {
    // decode and bucket exchange, in-bucket verification and distinct
    // exchange, result: no bucket-count, broadcast or self-join jobs
    val (pairs, jobs) = jobsOf(3) {
      Multimodal.imageNearDupPairs(nearDupCorpus, maxHamming = 5).collect()
    }
    assert(pairs.length === 3)
    assert(jobs <= 3, s"imageNearDupPairs ran $jobs jobs")
  }

  test("sampleFrames: real frames from animated GIF, byte-slice fallback elsewhere") {
    import spark.implicits._
    // 6-frame animated GIF; each frame is a constant-color image with a
    // palette-exact level so the PNG re-encode is checkable per frame
    def flat(level: Int) = {
      val img = new java.awt.image.BufferedImage(20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 10; x <- 0 until 20) img.setRGB(x, y, level << 16)
      img
    }
    val gif = ImageCodec.encodeGif((0 until 6).map(k => flat(40 * k)))
    val df = Seq(
      ("anim.gif", gif),
      ("still.png", ImageCodec.encode(flat(200), "png")),
      ("blob.bin", Array.tabulate(300)(_.toByte))
    ).toDF("path", "content")
    val media = Multimodal.decode(df, "video")
    // header fast path knows GIF dims now
    val meta = media.collect().map(r => r.getString(0) -> r.getStruct(3)).toMap
    assert(meta("anim.gif").getString(0) === "gif")
    assert(meta("anim.gif").getInt(1) === 20 && meta("anim.gif").getInt(2) === 10)

    val frames = Multimodal.sampleFrames(media, 3).collect()
      .groupBy(_.getString(0))
    assert(frames("anim.gif").length === 3 && frames("blob.bin").length === 3)
    // a decodable single-frame image yields its ONE real frame, not n
    // pseudo-frames — every frame from a decodable input is a real raster
    assert(frames("still.png").length === 1)
    val still = ImageCodec.decode(frames("still.png").head.getAs[Array[Byte]](2)).get
    assert(((still.img.getRGB(5, 5) >> 16) & 0xFF) === 200)
    // sampled GIF frames are REAL decodable rasters: stride 0,2,4 of the
    // 6-frame sequence, red level 0/80/160
    val levels = frames("anim.gif").sortBy(_.getInt(1)).map { r =>
      val d = ImageCodec.decode(r.getAs[Array[Byte]](2)).get
      assert(d.width === 20 && d.height === 10)
      (d.img.getRGB(5, 5) >> 16) & 0xFF
    }
    assert(levels.toSeq === Seq(0, 80, 160))
  }

  test("extractFeatures embeds real pixels for images (re-encode invariant)") {
    import spark.implicits._
    val media = corpus.withColumn("media_type", lit("image"))
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    assert(f.values.forall(_.size === 16))
    assert(f.values.forall(e => math.abs(e.sum - 1.0f) < 1e-3))
    // content feature: PNG and JPEG encodings of the same pattern are close
    // in L1 even though their BYTES are completely different
    def l1(a: scala.collection.Seq[Float], b: scala.collection.Seq[Float]) =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(l1(f("p0.png"), f("j0.jpg")) < 0.1)
    // a byte-level feature could never do that — and different patterns stay apart
    assert(l1(f("p0.png"), f("p1.png")) > 0.05)
  }
}
