package graft.multimodal

import graft.SparkSpecBase
import graft.multimodal.Multimodal.ImageHeader
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import java.awt.image.BufferedImage

class ImageHeaderSpec extends SparkSpecBase {

  private def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("header parse recovers dimensions from real encoded bytes") {
    for (fmt <- Seq("png", "gif", "bmp", "jpg")) {
      val bytes = encode(fmt, 31, 17)
      val meta = ImageHeader.parse(bytes)
      assert(meta.isDefined, s"$fmt: no header parsed")
      assert(meta.get.width == 31 && meta.get.height == 17,
        s"$fmt: got ${meta.get}")
    }
  }

  test("non-image bytes parse to None, not garbage") {
    assert(ImageHeader.parse("just some text".getBytes).isEmpty)
    assert(ImageHeader.parse(Array[Byte]()).isEmpty)
    assert(ImageHeader.parse(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
  }

  test("distributed header extraction over a binary column") {
    import spark.implicits._
    val rows = Seq(
      (1L, encode("png", 8, 4)),
      (2L, encode("gif", 5, 5)),
      (3L, "not an image".getBytes))
    val df = rows.toDF("id", "payload")
    val out = df.map { r =>
      val m = ImageHeader.parse(r.getAs[Array[Byte]]("payload"))
      (r.getLong(0), m.map(_.format).getOrElse("unknown"),
        m.map(_.width).getOrElse(-1))
    }.collect().sortBy(_._1)
    assert(out.toList == List((1L, "png", 8), (2L, "gif", 5), (3L, "unknown", -1)))
  }

  test("aHash64: deterministic, identical payloads collide, empty hashes to 0") {
    val a = "the quick brown fox jumps over the lazy dog, twice over".getBytes
    assert(Multimodal.aHash64(a) == Multimodal.aHash64(a.clone()))
    assert(Multimodal.aHash64(Array.empty[Byte]) == 0L)
    // a constant payload sits exactly at its mean -> all bits set
    assert(Multimodal.aHash64(Array.fill[Byte](100)(7)) == -1L)
  }

  test("hammingPairs: banded candidates verify exactly, low-hamming recall holds") {
    import spark.implicits._
    // hand-built signatures: 1-2 differ in 2 bits (share 3 bands),
    // 3 is the complement of 1 (hamming 64), 4 equals 1 (hamming 0)
    val s1 = 0x0123456789abcdefL
    val s2 = s1 ^ 0x3L
    val s3 = ~s1
    val s4 = s1
    val sig = Seq((1L, s1), (2L, s2), (3L, s3), (4L, s4)).toDF("doc_id", "sig")
    val got = Multimodal.hammingPairs(sig, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 2L), (1L, 4L, 0L), (2L, 4L, 2L)), s"got $got")
  }

  test("hammingPairsCollapsed: degenerate corpus bounded, clusters equal the full enumeration") {
    import spark.implicits._
    // the corpus that breaks the pair contract itself: 5000
    // byte-identical sigs whose full enumeration is ~12.5M hamming-0
    // pairs. The collapse must keep output ∝ distinct sigs + members.
    val hot = (0L until 5000L).map(i => (i, -1L))
    val near = Seq((9000L, -4L)) // 2 bits off the hot sig
    val bg = (6000L until 6100L).map(i => (i, i * 0x9e3779b97f4a7c15L))
    val sig = (hot ++ near ++ bg).toDF("doc_id", "sig")
    val (repPairs, edges) = Multimodal.hammingPairsCollapsed(sig, maxHamming = 10)
    val p = repPairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(p.size < 1000, s"collapse did not bound pair output: ${p.size}")
    // the hot group collapsed to its min doc_id, which still pairs out
    assert(p.contains((0L, 9000L, 2L)), s"rep lost its near pair: $p")
    assert(edges.count() == 4999L, "every non-representative emits one edge")
    assert(edges.filter("rep != 0").isEmpty)

    // dd06-style cluster equivalence on a small corpus: connected
    // components over (rep-pairs ∪ collapse edges) must equal the
    // full enumeration's components — the lazy-expansion contract
    val sSmall = ((0L until 40L).map(i => (i, -1L)) ++
      Seq((50L, -4L), (51L, -4L)) ++
      (60L until 70L).map(i => (i, (i * 0x9e3779b97f4a7c15L) | 1L)))
    val sigSmall = sSmall.toDF("doc_id", "sig")
    def components(edgeList: Seq[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map(sSmall.map(_._1 -> -1L): _*)
      def find(x: Long): Long =
        if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      sSmall.map(_._1).groupBy(find).values.map(_.toSet).toSet
    }
    val full = Multimodal.hammingPairs(sigSmall, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (rp, ed) = Multimodal.hammingPairsCollapsed(sigSmall, maxHamming = 10)
    val lazyEdges = rp.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ++
      ed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(components(lazyEdges) == components(full),
      "collapsed clusters diverge from the full enumeration's")
  }

  test("mm04 pairs are exact-hamming-verified and ordered") {
    val rows = Multimodal.mm04_phash_neardup(spark, sfDir).collect()
    assert(rows.nonEmpty, "no near-dup payload pairs at spec scale")
    rows.foreach { r =>
      assert(r.getLong(2) <= 10 && r.getLong(0) < r.getLong(1))
    }
  }
}
