package graft

import graft.functions.CosineSimilarity
import graft.operators.MultimodalOps
import org.apache.spark.sql.functions._

/** CosineSimilarity expression (interpreted + codegen paths) and the
  * multimodal decode plumbing. */
class VectorMultimodalSpec extends SparkTestBase {

  private def vecDf(rows: (Long, Seq[Float], Int)*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("cosine_sim: orthogonal=0, parallel=1, antiparallel=-1") {
    CosineSimilarity.register(spark)
    val d = vecDf(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (3L, Seq(2f, 0f), 0), (4L, Seq(-1f, 0f), 0))
    val base = d.filter(col("vec_id") === 1).select(col("embedding").as("a"))
    val res = d.crossJoin(base)
      .select(col("vec_id"), expr("cosine_sim(a, embedding)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(res(1L) == 1.0 && res(3L) == 1.0)
    assert(res(2L) == 0.0)
    assert(res(4L) == -1.0)
  }

  test("cosine_sim codegen and interpreted evaluation agree") {
    CosineSimilarity.register(spark)
    val d = vecDf((1L, Seq(0.3f, -0.7f, 0.11f, 9.5f), 0),
      (2L, Seq(1.2f, 0.4f, -3.3f, 0.01f), 0))
    val pair = d.filter(col("vec_id") === 1).select(col("embedding").as("a"))
      .crossJoin(d.filter(col("vec_id") === 2).select(col("embedding").as("b")))
    val viaCodegen = pair.select(expr("cosine_sim(a, b)")).head.getDouble(0)
    // force the interpreted path through a non-codegen context: eval on
    // a literal-bound copy of the expression
    val expected = {
      val x = Seq(0.3f, -0.7f, 0.11f, 9.5f).map(_.toDouble)
      val y = Seq(1.2f, 0.4f, -3.3f, 0.01f).map(_.toDouble)
      val dot = x.zip(y).map { case (a, b) => a * b }.sum
      dot / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
    }
    assert(math.abs(viaCodegen - expected) < 1e-12)
  }

  test("vec_cosine_topk self-excluded and correctly ranked on a planted corpus") {
    val dir = tempDir()
    // probe 0 = e1; 1 = near-parallel to e1; 2 = orthogonal; 3 = opposite
    writeFixture(dir, "embeddings", vecDf(
      (0L, Seq(1f, 0f, 0f), 0), (1L, Seq(0.9f, 0.1f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 1), (3L, Seq(-1f, 0f, 0f), 1)))
    val rows = operators.VectorOps.queries("vec_cosine_topk")(spark, dir)
      .filter(col("probe_id") === 0).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(rows.head == (1L, 1), s"nearest to e1 must be the near-parallel: ${rows.toSeq}")
    assert(rows.map(_._1).toSet == Set(1L, 2L, 3L)) // self excluded
  }

  test("multimodal decode stub: histogram sums to ~1, metadata deterministic") {
    val p = MultimodalOps.Payload(7L, "abcdefgh".getBytes("UTF-8"), "src0")
    val f1 = MultimodalOps.decodeStub(p)
    val f2 = MultimodalOps.decodeStub(p)
    assert(f1 == f2 || (f1.doc_id == f2.doc_id && f1.feat.sameElements(f2.feat)
      && f1.width == f2.width && f1.height == f2.height))
    assert(f1.n_bytes == 8)
    assert(math.abs(f1.feat.sum - 1.0) < 1e-6)
    assert(f1.width >= 64 && f1.width < 128 && f1.height >= 64 && f1.height < 128)
  }

  test("PPM decoder: real header dims and pixel luminance histogram") {
    import graft.operators.{PayloadDecoders, PpmDecoder}
    // 2×2 P6: black, white, red, blue — luma 0, 255, 76, 29 → bins 0, 15, 4, 1
    val pixels = Array[Int](0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255)
    val payload = "P6\n# fixture\n2 2\n255\n".getBytes("US-ASCII") ++
      pixels.map(_.toByte)
    val p = MultimodalOps.Payload(1L, payload, "img")
    assert(PpmDecoder.accepts(payload))
    val f = PayloadDecoders.decode(p)
    assert(f.width == 2 && f.height == 2)
    assert(f.n_bytes == payload.length)
    assert(f.feat(0) == 0.25 && f.feat(1) == 0.25 && f.feat(4) == 0.25 &&
      f.feat(15) == 0.25, f.feat.toSeq)
    assert(f.feat.sum == 1.0)
  }

  test("BMP decoder: 24bpp uncompressed, padded rows, BGR order") {
    import graft.operators.{BmpDecoder, PayloadDecoders}
    // 2×1 image, one white + one black pixel; row padded 6 → 8 bytes
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val header = "BM".getBytes("US-ASCII") ++ le32(62) ++ le32(0) ++ le32(54) ++ // file header
      le32(40) ++ le32(2) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++        // info header
      le32(8) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    val row = Array[Byte](255.toByte, 255.toByte, 255.toByte, 0, 0, 0, 0, 0) // BGR BGR pad pad
    val payload = header ++ row
    assert(payload.length == 62)
    val p = MultimodalOps.Payload(2L, payload, "img")
    assert(BmpDecoder.accepts(payload))
    val f = PayloadDecoders.decode(p)
    assert(f.width == 2 && f.height == 1)
    assert(f.feat(15) == 0.5 && f.feat(0) == 0.5, f.feat.toSeq)
  }

  test("decoder dispatch: non-image bytes and malformed magic fall back to opaque") {
    import graft.operators.PayloadDecoders
    val text = MultimodalOps.Payload(3L, "plain text payload".getBytes, "txt")
    val ft = PayloadDecoders.decode(text)
    assert(ft.width >= 64 && ft.width < 128) // hash-derived stub dims
    // starts with the PPM magic but is not a PPM — must degrade, not throw
    val trap = MultimodalOps.Payload(4L, "P6 is my favorite chord".getBytes, "txt")
    val fr = PayloadDecoders.decode(trap)
    assert(fr.n_bytes == trap.payload.length)
    // each of 16 bins rounds to 4dp → the sum can drift by ≤ 16·5e-5
    assert(math.abs(fr.feat.sum - 1.0) < 1e-3)
  }

  test("decoder header-arithmetic attacks degrade to opaque, never garbage") {
    import graft.operators.{OpaqueDecoder, PayloadDecoders}
    // 65536×65536 PPM: w*h*3 wraps to 0 in Int — must NOT return a
    // Features row claiming those dimensions
    val ppmBomb = MultimodalOps.Payload(9L,
      "P6\n65536 65536\n255\n".getBytes("US-ASCII") ++ Array.fill(16)(1.toByte), "img")
    val fp = PayloadDecoders.decode(ppmBomb)
    val op = OpaqueDecoder.decode(ppmBomb)
    assert(fp.width == op.width && fp.height == op.height &&
      fp.feat.sameElements(op.feat), "PPM dimension bomb must fall back")
    // BMP with sign-bit width: pixel loops would skip and return
    // negative width without the Long-validated header guard
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bmpBomb = MultimodalOps.Payload(10L,
      "BM".getBytes("US-ASCII") ++ le32(62) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(0x80000001) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(8) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ Array.fill(8)(0.toByte),
      "img")
    val fb = PayloadDecoders.decode(bmpBomb)
    val ob = OpaqueDecoder.decode(bmpBomb)
    assert(fb.width == ob.width && fb.height == ob.height &&
      fb.feat.sameElements(ob.feat), "BMP sign-bit width must fall back")
    assert(fb.width >= 64 && fb.width < 128) // opaque stub dims, not -2147483647
  }

  test("vec_kmeans_cells recovers two planted direction clusters deterministically") {
    val dir = tempDir()
    // 4 vectors, ids interleaved so the lowest-sqrt(4)=2 ids seed one
    // centroid per true cluster: A ≈ +x (ids 0, 2), B ≈ +y (ids 1, 3)
    writeFixture(dir, "embeddings", vecDf(
      (0L, Seq(1f, 0.05f, 0f, 0f), 0),
      (1L, Seq(0.05f, 1f, 0f, 0f), 0),
      (2L, Seq(1f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0.1f, 1f, 0f, 0f), 0)))
    val run1 = operators.VectorOps.queries("vec_kmeans_cells")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // both cells keep their two members, tightly clustered around the
    // trained centroid
    assert(run1.map(t => (t._1, t._2)) == Seq((0, 2L), (1, 2L)), s"got $run1")
    assert(run1.forall(_._3 >= 0.99), s"expected tight cells, got $run1")
    // the decimal-exact updates make the whole iteration reproducible:
    // drop the codebook memo first so run2 RE-TRAINS rather than
    // reading run1's cached result (a memo hit would make this vacuous)
    SessionMemo.clear(spark)
    val run2 = operators.VectorOps.queries("vec_kmeans_cells")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(run2 == run1)
  }

  test("vec_mips_topk ranks by raw dot product, not cosine") {
    val dir = tempDir()
    // probe 1 = (1,0). Vector 3 = (10,0) dominates by DOT (10) though
    // all three have perfect cosine with the probe direction;
    // vector 2 = (2,0) ranks second.
    writeFixture(dir, "embeddings", vecDf(
      (1L, Seq(1f, 0f), 0), (2L, Seq(2f, 0f), 0), (3L, Seq(10f, 0f), 0)))
    val got = operators.VectorOps.queries("vec_mips_topk")(spark, dir)
      .filter(col("probe_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == Seq((3L, 10.0, 1), (2L, 2.0, 2)), s"got $got")
  }

  test("vec_gram_matrix is symmetric with non-negative diagonal on a planted corpus") {
    val dir = tempDir()
    writeFixture(dir, "embeddings", vecDf(
      (0L, Seq(1f, 2f, 0f), 0), (1L, Seq(-1f, 0.5f, 3f), 0),
      (2L, Seq(0.25f, -2f, 1f), 1)))
    val g = operators.VectorOps.queries("vec_gram_matrix")(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(g.size == 9) // full 3×3
    for (((i, j), v) <- g) assert(g((j, i)) == v, s"asymmetry at ($i,$j)")
    for (i <- 1 to 3) assert(g((i, i)) >= 0.0)
    // hand value: G(1,1) = 1 + 1 + 0.0625
    assert(math.abs(g((1, 1)) - 2.0625) < 1e-9, s"G11=${g((1, 1))}")
  }

  test("vec_pca_power recovers the dominant planted axis with a +1 peak") {
    val dir = tempDir()
    // variance concentrated on axis 2; peak component converges to +1
    // by the signed max-abs normalizer even though the raw vectors
    // point in NEGATIVE axis-2 directions (second moments are
    // sign-free)
    writeFixture(dir, "embeddings", vecDf(
      (0L, Seq(0.1f, -5f, 0f, 0f), 0), (1L, Seq(-0.2f, -4f, 0.1f, 0f), 0),
      (2L, Seq(0.15f, -6f, 0f, 0.1f), 0), (3L, Seq(0f, -5f, -0.1f, 0f), 0)))
    val v = operators.VectorOps.queries("vec_pca_power")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(v.size == 4)
    assert(v(2) == 1.0, s"peak must be +1 at the dominant axis: $v")
    assert((Set(1, 3, 4) - 2).forall(i => math.abs(v(i)) < 0.1),
      s"off-axis components must be small: $v")
  }

  test("multimodal_phash_pairs: byte-identical payloads pair at hamming 0, disjoint ones don't") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "en", "web"),
      (2L, "the quick brown fox jumps over the lazy dog again", "en", "crawl"),
      // letters live in high-nibble bins 6-7 of the opaque stub's
      // byte histogram; digits in bin 3 — a genuinely different byte
      // distribution, not merely different words
      (3L, "0123456789 0123456789 0123456789 0123456789 012345", "en", "web"))
      .toDF("doc_id", "text", "lang", "source"))
    val pairs = MultimodalOps.queries("multimodal_phash_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)), s"identical payloads must pair: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"disjoint payload must not pair: ${pairs.toSeq}")
  }

  test("vec_ann_ivf_trained: within-cluster neighbors match brute force on planted clusters") {
    val dir = tempDir()
    writeFixture(dir, "embeddings", vecDf(
      (0L, Seq(1f, 0.05f, 0f, 0f), 0),
      (1L, Seq(0.05f, 1f, 0f, 0f), 0),
      (2L, Seq(1f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0.1f, 1f, 0f, 0f), 0)))
    val nn = operators.VectorOps.queries("vec_ann_ivf_trained")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the trained cells separate +x from +y, so each vector's top-1 is
    // its same-cluster partner — which is also the brute-force answer
    assert(nn == Map(0L -> 2L, 2L -> 0L, 1L -> 3L, 3L -> 1L), s"got $nn")
  }

  test("multimodal_features runs the typed mapPartitions pipeline end-to-end") {
    val out = operators.MultimodalOps.queries("multimodal_features")(spark, sf001)
    assert(out.count() == 500)
    assert(out.columns.toSeq ==
      Seq("doc_id", "source", "n_bytes", "width", "height", "f0", "f6"))
  }
}
