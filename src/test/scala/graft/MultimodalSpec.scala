package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal.{FakeCodec, Media}

/** Contract of the stub codec that a real decoder must also satisfy —
  * these properties are what the Spark-side plumbing (q90/q91)
  * depends on, independent of the decode implementation.
  */
class MultimodalSpec extends AnyFunSuite {

  private def blob(n: Int): Array[Byte] = Array.tabulate(n)(i => ((i * 37 + 11) % 251).toByte)

  test("features: histogram mass equals byte count, mean in [0, 255]") {
    val m = Media(1L, "png", 16, 12, blob(1000))
    val f = FakeCodec.features(m)
    assert(f.n_bytes == 1000)
    assert(f.histogram.sum == 1000L, "every byte lands in exactly one bin")
    assert(f.mean_byte >= 0.0 && f.mean_byte <= 255.0)
    // deterministic: same blob -> identical features
    assert(FakeCodec.features(m).histogram.toSeq == f.histogram.toSeq)
  }

  test("resize: exact output length, deterministic, endpoints preserved") {
    val b = blob(1000)
    val r = FakeCodec.resize(b, 128)
    assert(r.length == 128)
    assert(r.head == b.head, "first sample anchors the plane")
    assert(FakeCodec.resize(b, 128).toSeq == r.toSeq)
    assert(FakeCodec.resize(Array.emptyByteArray, 64).length == 64)
    // upsampling also yields the requested length
    assert(FakeCodec.resize(blob(10), 40).length == 40)
  }

  test("frame sampling: count follows the stride formula, frames are windows") {
    val b = blob(128)
    val frames = FakeCodec.sampleFrames(b, frameLen = 32, stride = 24)
    val expected = (0 until math.max(0, b.length - 32 + 1) by 24).size
    assert(frames.length == expected)
    assert(frames.forall(_.length == 32))
    assert(frames.head.toSeq == b.slice(0, 32).toSeq)
    // blob shorter than a frame -> no frames, not an exception
    assert(FakeCodec.sampleFrames(blob(10), 32, 24).isEmpty)
  }

  private lazy val spark = Sessions.local(4)

  private def planesDf(rows: (Long, Seq[Int])*) = {
    import spark.implicits._
    rows.map { case (id, p) => (id, p) }.toDF("media_id", "plane")
  }

  // plane 0..63: sum 2016, threshold p*64 > 2016 -> bits 1 at 32..63
  private val asc: Seq[Int] = 0 until 64

  test("phash: identical planes pair at hamming 0; disjoint-band planes don't pair") {
    import graft.operators.Multimodal.perceptualHashPairs
    val got = perceptualHashPairs(
      planesDf(1L -> asc, 2L -> asc, 3L -> asc.reverse))
      .orderBy("media_a", "media_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1-2 identical (hamming 0); 3's bit pattern is 1's complement so
    // no band key collides with 1 or 2 and the pair never forms
    assert(got.toSeq == Seq((1L, 2L, 0L)))
  }

  test("phash: band collision is a recall channel, exact hamming is the gate") {
    import graft.operators.Multimodal.perceptualHashPairs
    // zero out values 32..43: the plane's own threshold drops to 25, so
    // bits flip at 25..31 (7) and 32..43 (12) -> hamming 19 vs asc;
    // band 0 (positions 0..15, all zero bits) still collides, so the
    // pair IS a candidate — the exact check must reject it at the
    // default max and report exactly 19 when allowed through
    val mod = asc.zipWithIndex.map { case (v, i) => if (i >= 32 && i <= 43) 0 else v }
    val df = planesDf(1L -> asc, 4L -> mod)
    assert(perceptualHashPairs(df).count() == 0, "hamming 19 > default max 8")
    val loose = perceptualHashPairs(df, hammingMax = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(loose.toSeq == Seq((1L, 4L, 19L)))
  }

  test("phash: degenerate buckets are capped, never quadratic") {
    import graft.operators.Multimodal.perceptualHashPairs
    val many = planesDf((1L to 5L).map(i => i -> asc): _*)
    // 5 identical planes: 10 pairs under the default cap...
    assert(perceptualHashPairs(many).count() == 10)
    // ...but a cap of 4 drops every (band, key) bucket they share
    assert(perceptualHashPairs(many, maxBucket = 4).count() == 0)
  }

  test("cross-modal seam: the stub aligns media with its caption's text " +
      "vector; a typo'd backend property fails fast") {
    import graft.operators.Multimodal.MediaEmbed
    val caption = "a chart of quarterly aggregation throughput"
    val blob = caption.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val viaTower = MediaEmbed.CaptionRecoveryStub.embed("png", blob, 64)
    val viaText = graft.functions.Embed.embed(caption, 64)
    assert(viaTower.toSeq == viaText.toSeq,
      "the stub's image embedding must equal the text tower's on the caption")
    // fail-fast loader: never silently fall back to the stub's vectors
    val e = intercept[IllegalArgumentException] {
      MediaEmbed.loadBackend("graft.NoSuchTower")
    }
    assert(e.getMessage.contains("graft.media.embed.backend"))
    // a wrong-type class is rejected too
    val e2 = intercept[IllegalArgumentException] {
      MediaEmbed.loadBackend("graft.functions.Embed")
    }
    assert(e2.getMessage.contains("does not"))
  }
}
