package graft

/** Round-11 pins (VERDICT r10 items).
  *
  * #4 real PNG decode: the multimodal chain's last in-container stub
  * falls — PNG payloads decode through javax.imageio (dims + the same
  * 16-bin luminance histogram as PPM/BMP), pinned against a PPM
  * encoding of the SAME pixels (PNG is lossless, so the Features rows
  * must be identical).
  */
class Round11Spec extends SparkTestBase {
  import graft.operators.{MultimodalOps, PayloadDecoders, PngDecoder, PpmDecoder}

  /** deterministic 8×4 RGB test card: full-range gradient + primaries */
  private def testPixels(w: Int, h: Int): Array[Array[(Int, Int, Int)]] =
    Array.tabulate(h, w) { (y, x) =>
      (y * w + x) % 5 match {
        case 0 => (x * 255 / math.max(w - 1, 1), 0, 0)
        case 1 => (0, y * 255 / math.max(h - 1, 1), 0)
        case 2 => (0, 0, (x + y) * 255 / math.max(w + h - 2, 1))
        case 3 => (255, 255, 255)
        case _ => (x * 31 % 256, y * 67 % 256, (x * y) % 256)
      }
    }

  private def pngBytes(px: Array[Array[(Int, Int, Int)]]): Array[Byte] = {
    val h = px.length; val w = px(0).length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(y)(x)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def ppmBytes(px: Array[Array[(Int, Int, Int)]]): Array[Byte] = {
    val h = px.length; val w = px(0).length
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
      px.flatten.flatMap { case (r, g, b) =>
        Array(r.toByte, g.toByte, b.toByte) }
  }

  test("PNG decodes for real: dims + luminance histogram identical to the " +
      "PPM encoding of the same pixels") {
    val px = testPixels(8, 4)
    val png = MultimodalOps.Payload(1L, pngBytes(px), "img")
    val ppm = MultimodalOps.Payload(2L, ppmBytes(px), "img")
    assert(PngDecoder.accepts(png.payload), "PNG magic must sniff")
    assert(!PngDecoder.accepts(ppm.payload))
    assert(PpmDecoder.accepts(ppm.payload))
    val fPng = PayloadDecoders.decode(png)
    val fPpm = PayloadDecoders.decode(ppm)
    assert(fPng.width == 8 && fPng.height == 4,
      s"real dims from the PNG header, got ${fPng.width}x${fPng.height}")
    assert(fPng.feat.sameElements(fPpm.feat),
      s"lossless round trip must produce the identical histogram: " +
        s"png=${fPng.feat.toSeq} ppm=${fPpm.feat.toSeq}")
    assert(math.abs(fPng.feat.sum - 1.0) < 1e-3)
    // n_bytes stays the CONTAINER size (payload column semantics), so
    // the two encodings legitimately differ there
    assert(fPng.n_bytes == png.payload.length)
  }

  test("truncated PNG behind a valid magic degrades to opaque, never throws") {
    import graft.operators.OpaqueDecoder
    val whole = pngBytes(testPixels(8, 4))
    val cut = MultimodalOps.Payload(3L, whole.take(whole.length / 2), "img")
    assert(PngDecoder.accepts(cut.payload))
    val f = PayloadDecoders.decode(cut)
    val o = OpaqueDecoder.decode(cut)
    assert(f.width == o.width && f.height == o.height &&
      f.feat.sameElements(o.feat), "truncated PNG must fall back to opaque")
  }

  test("memo_build attribution: a fresh walk-memo build logs under its label " +
      "(VERDICT r10 #7)") {
    SessionMemo.clear(spark)
    SessionMemo.drainBuildTimes()
    SparkEntry.queries("graph_walk_sample")(spark, sf001).count()
    SparkEntry.queries("dedup_cluster_canonical")(spark, sf001).count()
    val built = SessionMemo.drainBuildTimes()
    assert(built.contains("walk"),
      s"walk memo build must log its seconds, got ${built.keySet}")
    assert(built.contains("dedupCanon"),
      s"cross-module (DedupOps) labels must log too, got ${built.keySet}")
    assert(built("walk") >= 0.0)
    // drained — a second read is empty until the next build
    assert(SessionMemo.drainBuildTimes().isEmpty)
    SessionMemo.clear(spark)
  }

  test("embedding-LSH candidate-mass guard: refuses loudly past the cap, " +
      "naming the knob; result unchanged when legal (r11 scale-probe fix)") {
    import graft.operators.DedupOps
    def run() = SparkEntry.queries("dedup_embedding_cluster")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    SessionMemo.clear(spark)
    val baseline = run()
    // a negative cap must trip on ANY corpus (mass ≥ 0 can never be
    // legal) — r12's adaptive re-banding means a cap of 0 may now
    // legitimately PASS at the widest banding when no two vectors
    // share a full 32-bit signature, so the unconditional-refusal pin
    // uses -1; Round12Spec pins the density-driven refusal separately
    spark.conf.set(DedupOps.EmbCandidateMaxPairsKey, "-1")
    val e = intercept[IllegalArgumentException] { run() }
    spark.conf.unset(DedupOps.EmbCandidateMaxPairsKey)
    assert(e.getMessage.contains("candidate mass") &&
      e.getMessage.contains(DedupOps.EmbCandidateMaxPairsKey),
      s"refusal must name the contract and the knob: ${e.getMessage}")
    // a legal cap changes nothing (guard is a count, not a filter)
    spark.conf.set(DedupOps.EmbCandidateMaxPairsKey, Long.MaxValue.toString)
    val relaxed = run()
    spark.conf.unset(DedupOps.EmbCandidateMaxPairsKey)
    assert(relaxed == baseline, "guard altered the result set")
  }

  test("PNG payloads flow through the partition-batched decode operator") {
    import spark.implicits._
    val px = testPixels(8, 4)
    val rows = Seq(
      MultimodalOps.Payload(1L, pngBytes(px), "png_src"),
      MultimodalOps.Payload(2L, ppmBytes(px), "ppm_src"),
      MultimodalOps.Payload(3L, "not an image".getBytes, "txt_src"))
    val out = MultimodalOps.decodePayloads(rows.toDS()).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).width == 8 && out(1L).height == 4)
    assert(out(1L).feat.sameElements(out(2L).feat),
      "PNG and PPM of the same pixels must agree through the operator too")
    assert(out(3L).width >= 64, "non-image still routes to the stub")
  }
}
