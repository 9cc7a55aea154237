package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def blobs = {
    val docs = spark.read.parquet(sf() + "/documents.parquet").limit(50)
    Multimodal.blobsFromTable(docs, "doc_id")
  }

  test("blobsFromTable produces binary content rows") {
    val b = blobs.cache()
    assert(b.count() == 50)
    assert(b.schema("content").dataType.typeName == "binary")
    val first = b.orderBy("blob_id").head()
    assert(new String(first.getAs[Array[Byte]]("content"), "UTF-8").startsWith("{"))
    b.unpersist()
  }

  test("real decode: ImageIO reads every fixture format to its arithmetic truth") {
    // all 4 format lanes (gray-PNG, RGB-PNG, RGBA-PNG, BMP) × several ids
    (0L until 16L).foreach { id =>
      val truth = Multimodal.fixtureTruth(id)
      val decoded = Multimodal.decodeImageMeta(Multimodal.imageFixture(id))
      assert(decoded.contains(truth), s"id=$id: decoded $decoded != truth $truth")
    }
  }

  test("real decode: non-image and truncated blobs fall back to the stub") {
    assert(Multimodal.decodeImageMeta("{\"not\": \"an image\"}".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageMeta(null).isEmpty)
    val truncated = Multimodal.imageFixture(1L).take(12) // PNG magic, no body
    assert(Multimodal.decodeImageMeta(truncated).isEmpty)
    // dispatch falls back deterministically
    val viaDispatch = Multimodal.decodeMeta(truncated)
    assert(viaDispatch == Multimodal.decodeMetaStub(truncated))
  }

  test("enrich over an image corpus carries real decoded dimensions") {
    val spark2 = spark
    import spark2.implicits._
    val ids = (0L until 20L).toDF("id")
    val e = Multimodal.enrich(Multimodal.imageBlobs(ids, "id"), "blob_id", "content")
      .orderBy("blob_id").collect()
    assert(e.length == 20)
    e.foreach { r =>
      val truth = Multimodal.fixtureTruth(r.getAs[Long]("blob_id"))
      assert(r.getAs[Int]("width") == truth.width)
      assert(r.getAs[Int]("height") == truth.height)
      assert(r.getAs[Int]("channels") == truth.channels)
      assert(r.getAs[Long]("duration_ms") == 0L)
    }
  }

  test("enrich: deterministic stub metadata + real histogram features") {
    val e = Multimodal.enrich(blobs, "blob_id", "content").cache()
    assert(e.count() == 50)
    val row = e.orderBy("blob_id").head()
    assert(row.getAs[Int]("width") >= 1 && row.getAs[Int]("width") <= 1920)
    val feats = row.getAs[scala.collection.Seq[Float]]("features")
    assert(feats.length == 64)
    assert(math.abs(feats.sum - 1.0f) < 1e-3, "histogram must be L1-normalized")
    // deterministic: re-running yields identical rows
    val again = Multimodal.enrich(blobs, "blob_id", "content").orderBy("blob_id").head()
    assert(again == row)
    e.unpersist()
  }

  test("sampleFrames: one row per frame, bounded by maxFrames") {
    val f = Multimodal.sampleFrames(blobs, "blob_id", "content", strideBytes = 128, maxFrames = 4)
    val counts = f.groupBy("blob_id").count().collect()
    assert(counts.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 4))
    val frame = f.filter(col("frame_idx") === 0).head()
    assert(frame.getAs[Array[Byte]]("frame_bytes").length <= 128)
  }

  test("resize stub: fixed target size, deterministic, passthrough for small blobs") {
    val r = Multimodal.resize(blobs, "blob_id", "content", targetBytes = 64).cache()
    assert(r.count() == 50)
    r.collect().foreach(row => assert(row.getAs[Array[Byte]]("thumb").length <= 64))
    val a = Multimodal.resize(blobs, "blob_id", "content", 64).orderBy("blob_id").head()
    val b = Multimodal.resize(blobs, "blob_id", "content", 64).orderBy("blob_id").head()
    assert(java.util.Arrays.equals(a.getAs[Array[Byte]]("thumb"), b.getAs[Array[Byte]]("thumb")))
    assert(java.util.Arrays.equals(
      Multimodal.resizeStub("tiny".getBytes, 64), "tiny".getBytes))
    r.unpersist()
  }

  test("features feed the similarity operator end-to-end") {
    val e = Multimodal.enrich(blobs, "blob_id", "content")
    val topk = Similarity.bruteForceTopK(e, "blob_id", "features", Seq(0L), k = 3)
    assert(topk.count() == 3)
  }

  test("real decode: javax.sound reads every WAV fixture to its arithmetic truth") {
    // mono and stereo ids, frame-exact duration — no codec in the truth
    for (id <- 0L until 12L) {
      val want = Multimodal.audioFixtureTruth(id)
      val got = Multimodal.decodeAudioMeta(Multimodal.audioFixture(id))
      assert(got.contains(
        Multimodal.MediaMeta(0, 0, want.channels, want.durationMs)),
        s"id=$id: $got vs $want")
      // the dispatch must route WAV bytes to the audio codec, not the stub
      val dispatched = Multimodal.decodeMeta(Multimodal.audioFixture(id))
      assert(dispatched.channels == want.channels &&
        dispatched.durationMs == want.durationMs)
    }
  }

  test("audio decode: image and junk blobs return None") {
    assert(Multimodal.decodeAudioMeta(Multimodal.imageFixture(3L)).isEmpty)
    assert(Multimodal.decodeAudioMeta(Array.fill[Byte](64)(7)).isEmpty)
    assert(Multimodal.decodeAudioMeta(null).isEmpty)
  }

  test("phash: PNG and BMP re-encodes of one image hash identically, bytes differ") {
    for (seed <- 0L until 6L) {
      val png = Multimodal.reencodedImageFixture(seed * 4)     // even: PNG
      val bmp = Multimodal.reencodedImageFixture(seed * 4 + 1) // odd: BMP
      assert(!java.util.Arrays.equals(png, bmp),
        s"seed=$seed: containers must differ at the byte level")
      assert(Multimodal.dHash64(Multimodal.grayThumb(png)) ==
        Multimodal.dHash64(Multimodal.grayThumb(bmp)),
        s"seed=$seed: perceptual hash must see through the re-encode")
    }
    // distinct seeds (different dims AND pixels) must not collide here
    val hashes = (0L until 24L by 4L)
      .map(id => Multimodal.dHash64(Multimodal.grayThumb(
        Multimodal.reencodedImageFixture(id))))
    assert(hashes.distinct.size == hashes.size, s"collisions in $hashes")
  }

  test("phash near-dup: jittered variant lands a few bits away, pigeonhole finds it") {
    import spark.implicits._
    // seed 10 → w=14, h=4+(70%23)=4+1=5... use a seed with w≥9 AND h≥8 so
    // the white corner touches exactly one thumbnail cell: seed 13 →
    // w=4+13=17, h=4+(91%23)=4+22=26 — hamming to the group must be ≤ 1
    val ids = Seq(52L, 53L, 54L, 55L).toDF("doc_id") // seed 13 group
    val sigs = Multimodal.phashRelation(
      Multimodal.jitteredBlobs(ids, "doc_id"), "blob_id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(52L) == sigs(53L) && sigs(52L) == sigs(54L),
      "unjittered re-encodes must hash identically")
    val d = java.lang.Long.bitCount(sigs(52L) ^ sigs(55L))
    assert(d >= 0 && d <= 1, s"corner-pixel jitter flipped $d bits (want <=1)")
    // the generic hamming machinery (shared with text simhash) finds the
    // jittered pair without any n^2 join
    val pairs = Dedupe.hammingPairs(
        Multimodal.phashRelation(
          Multimodal.jitteredBlobs(ids, "doc_id"), "blob_id", "content"),
        maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((52L, 55L)), s"jittered pair missing from $pairs")
    assert(pairs.contains((52L, 53L)) && pairs.contains((53L, 54L)))
  }

  test("audio fingerprint: click edit lands at hamming <=1, groups separate") {
    import spark.implicits._
    val ids = (0L until 20L).toDF("doc_id") // 10 signal groups
    val sigs = Multimodal.audioFpRelation(
        Multimodal.audioFpBlobs(ids, "doc_id"), "blob_id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (g <- 0L until 10L) {
      val d = java.lang.Long.bitCount(sigs(2 * g) ^ sigs(2 * g + 1))
      assert(d <= 1, s"group $g: click moved $d bits (one energy window => <=1)")
    }
    // the f^2 envelope term keeps distinct groups out of the hamming ball
    val pairs = Dedupe.hammingPairs(
        Multimodal.audioFpRelation(
          Multimodal.audioFpBlobs(ids, "doc_id"), "blob_id", "content"),
        maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0L until 10L).map(g => (2 * g, 2 * g + 1)).toSet,
      s"expected exactly the 10 planted pairs, got $pairs")
  }

  test("decodePcm16 round-trips the written samples exactly") {
    // frame 0 of an odd id is the click; everything else is the formula —
    // a REAL javax.sound decode must reproduce both verbatim
    val (ch, samples) = Multimodal.decodePcm16(Multimodal.audioFpFixture(7L))
    assert(ch == 2) // g=3, channels = 1 + 3%2
    assert(samples(0) == 32767 && samples(1) == 32767)
    val g = 3L
    for (f <- 1 until 10; c <- 0 until ch) {
      val want = ((g * 1000003L + f.toLong * f * 7L + f * 911L + c * 977L)
        % 65536L - 32768L).toShort
      assert(samples(f * ch + c) == want, s"f=$f c=$c")
    }
  }

  test("decodeY4M reads every video fixture back to its arithmetic truth") {
    for (id <- 0L until 40L) {
      val (w, h, nf) = Multimodal.videoFixtureTruth(id)
      val v = Multimodal.decodeY4M(Multimodal.y4mFixture(id)).get
      assert(v.width == w && v.height == h && v.frames.length == nf)
      assert(v.fpsNum == 25 && v.fpsDen == 1)
      // sample-exact luma: every pixel of every frame equals the formula
      val g = id / 2
      for (f <- 0 until nf; py <- 0 until h; px <- 0 until w) {
        val want =
          if (id % 2 == 1 && f == 0 && px == 0 && py == 0) 255
          else Multimodal.videoLuma(g, f, px, py)
        assert((v.frames(f)(py * w + px) & 0xff) == want,
          s"id=$id f=$f ($px,$py)")
      }
    }
  }

  test("decodeY4M: C420 plane layout, defaults, and loud failures") {
    // hand-built 4x2 C420 stream, 2 frames: luma 0..7 then 8..15, chroma
    // quarter-size (2x1 per plane); no C tag => 420jpeg default
    val hdr = "YUV4MPEG2 W4 H2 F30:1\n".getBytes("US-ASCII")
    val fm = "FRAME\n".getBytes("US-ASCII")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(hdr)
    for (f <- 0 until 2) {
      bos.write(fm)
      bos.write(Array.tabulate[Byte](8)(i => (f * 8 + i).toByte)) // Y
      bos.write(Array[Byte](1, 2)) // U (4/2 * 2/2)
      bos.write(Array[Byte](3, 4)) // V
    }
    val v = Multimodal.decodeY4M(bos.toByteArray).get
    assert(v.width == 4 && v.height == 2 && v.fpsNum == 30)
    assert(v.frames.length == 2)
    assert(v.frames(0).toSeq == (0 until 8).map(_.toByte))
    assert(v.frames(1).toSeq == (8 until 16).map(_.toByte))
    // non-Y4M => None (falls through to the container stub)
    assert(Multimodal.decodeY4M("not a video".getBytes).isEmpty)
    assert(Multimodal.decodeY4M(Multimodal.imageFixture(3L)).isEmpty)
    // truncated payload => loud failure, never a silent partial decode
    val full = Multimodal.y4mFixture(0L)
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4M(java.util.Arrays.copyOf(full, full.length - 5))
    }
    // unsupported chroma => loud failure
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4M("YUV4MPEG2 W2 H2 C411\nFRAME\nxxxx".getBytes)
    }
  }

  test("decodeMeta: Y4M video is REAL now — geometry + duration, not the stub") {
    val id = 6L
    val (w, h, nf) = Multimodal.videoFixtureTruth(id)
    val m = Multimodal.decodeMeta(Multimodal.y4mFixture(id))
    assert(m.width == w && m.height == h && m.channels == 3)
    assert(m.durationMs == math.round(nf * 1000.0 / 25.0))
  }

  test("video keyframe fingerprints: jitter lands a few bits off slot 0 only") {
    // even/odd of one group: identical video except frame 0's corner
    val a = Multimodal.decodeY4M(Multimodal.y4mFixture(10L)).get
    val b = Multimodal.decodeY4M(Multimodal.y4mFixture(11L)).get
    val ha = Multimodal.videoKeyframeHashes(a).toMap
    val hb = Multimodal.videoKeyframeHashes(b).toMap
    for (s <- 1 until 4) assert(ha(s) == hb(s), s"slot $s must match exactly")
    val d0 = java.lang.Long.bitCount(ha(0) ^ hb(0))
    assert(d0 >= 1 && d0 <= 3, s"slot-0 hamming $d0 out of the planted range")
    // different groups: far apart at slot 0
    val c = Multimodal.decodeY4M(Multimodal.y4mFixture(20L)).get
    val hc = Multimodal.videoKeyframeHashes(c).toMap
    assert(java.lang.Long.bitCount(ha(0) ^ hc(0)) > 3)
  }

  test("video dedup decision: keyframe evidence folds to blob-level clusters") {
    import spark.implicits._
    val ids = (0L until 12L).toDF("doc_id")
    val pairs = Dedupe.hammingPairs(
      Multimodal.videoFpRelation(
        Multimodal.videoBlobs(ids, "doc_id"), "blob_id", "content"),
      maxDistance = 3, maxBucketSize = Int.MaxValue)
    val edges = pairs
      .select(org.apache.spark.sql.functions.floor(col("id_a") / 4)
          .cast("long").as("id_a"),
        org.apache.spark.sql.functions.floor(col("id_b") / 4)
          .cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val clusters = Dedupe.duplicateClusters(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SessionCaches.release()
    // each (2g, 2g+1) pair shares a video => one cluster with min-id
    // canonical; no cross-group merge among the 6 planted groups
    for (g <- 0L until 6L) {
      assert(clusters(2 * g) == 2 * g && clusters(2 * g + 1) == 2 * g,
        s"group $g: ${clusters.filterKeys(k => k / 2 == g)}")
    }
  }

  test("perceptualDedup collapses each 4-id re-encode group to its min id") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val out = Multimodal.perceptualDedup(
        Multimodal.reencodedBlobs(ids, "doc_id"), "blob_id", "content")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size == 40)
    out.foreach { case (id, (canonical, isDup)) =>
      assert(canonical == (id / 4) * 4, s"id=$id canonical=$canonical")
      assert(isDup == (id % 4 != 0), s"id=$id isDup=$isDup")
    }
  }
}
