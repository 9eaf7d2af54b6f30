package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based monoid laws — the soundness condition for bolt
  * state merging (reference Processor.hs:49 mergeFn must be an
  * associative, commutative merge with an identity for snapshots and
  * partial aggregation to be order-insensitive).
  */
class MonoidLawsSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val entry = for {
    k <- Gen.oneOf("a", "b", "c", "d", "e", "f", "g")
    v <- Gen.chooseNum(0L, 1000L)
  } yield (k, v)
  private val state: Gen[Map[String, Long]] =
    Gen.chooseNum(0, 8).flatMap(n => Gen.mapOfN(n, entry))

  test("LongSum: identity, associativity, commutativity") {
    for (Seq(a, b, c) <- samples(Gen.listOfN(3, Gen.chooseNum(-1000L, 1000L)), 200)) {
      assert(LongSum.combine(a, LongSum.empty) == a)
      assert(LongSum.combine(LongSum.combine(a, b), c) ==
        LongSum.combine(a, LongSum.combine(b, c)))
      assert(LongSum.combine(a, b) == LongSum.combine(b, a))
    }
  }

  test("bloom merge: identity, associativity, commutativity, membership union") {
    import graft.functions.GraftHashOps._
    val m = 1 << 10
    val keySet: Gen[Seq[Long]] =
      Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 500L)))
    def build(keys: Seq[Long]): Array[Long] = {
      val bits = new Array[Long](m / 64)
      keys.foreach(k => bloomSet(bits, k, 5))
      bits
    }
    def or(a: Array[Long], b: Array[Long]): Array[Long] =
      a.zip(b).map { case (x, y) => x | y }
    for (Seq(ka, kb, kc) <- samples(Gen.listOfN(3, keySet), 200)) {
      val (a, b, c) = (build(ka), build(kb), build(kc))
      assert(or(or(a, b), c).toSeq == or(a, or(b, c)).toSeq, "associativity")
      assert(or(a, b).toSeq == or(b, a).toSeq, "commutativity")
      assert(or(a, new Array[Long](m / 64)).toSeq == a.toSeq, "identity")
      // the merged filter answers membership for the UNION of inputs
      // (no false negatives survive a merge)
      val merged = bloomBytesWithHeader(or(a, b), 5)
      (ka ++ kb).foreach(k =>
        assert(bloomMightContain(merged, k, 5), s"merge lost key $k"))
      // and a merge is exactly the filter built from the union
      assert(or(a, b).toSeq == build(ka ++ kb).toSeq, "merge != union build")
    }
  }

  test("bottom-k sketch merge: lossless vs building from the union (q52's law)") {
    import graft.functions.TopKBuffer
    val pair: Gen[(Double, Long)] = for {
      s <- Gen.chooseNum(-1000, 1000)
      id <- Gen.chooseNum(0L, 100L)
    } yield (s.toDouble, id)
    val pairSet: Gen[Seq[(Double, Long)]] =
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, pair))
    def build(ps: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      val b = new TopKBuffer(8)
      ps.foreach { case (s, id) => b.insert(s, id) }
      (0 until b.n).map(i => (b.scores(i), b.ids(i)))
    }
    def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
      build(x ++ y)
    for (Seq(pa, pb, pc) <- samples(Gen.listOfN(3, pairSet), 200)) {
      val (a, b, c) = (build(pa), build(pb), build(pc))
      assert(merge(merge(a, b), c) == merge(a, merge(b, c)), "associativity")
      assert(merge(a, b) == merge(b, a), "commutativity")
      assert(merge(a, Seq.empty) == a, "identity")
      // THE bottom-k law: merging the parts' sketches equals
      // sketching the concatenated input directly
      assert(merge(a, b) == build(pa ++ pb), "merge diverges from direct build")
    }
  }

  test("sparse bitmap OR: monoid laws + canonical bytes under any merge shape (q58's law)") {
    import graft.functions.SparseBitmap
    // key generator spanning the container regimes: isolated 64-bit
    // keys (array form), runs of consecutive keys (run form), and
    // dense strided blocks (bitmap form once unions cross the cap)
    val keySet: Gen[Seq[Long]] = for {
      n <- Gen.chooseNum(0, 12)
      ks <- Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(Long.MinValue, Long.MaxValue),
        Gen.chooseNum(0L, 300L).map(s => (7L << 33) + s),       // shared run region
        Gen.chooseNum(0L, 200L).map(s => (9L << 33) + s * 2))) // shared strided region
    } yield ks
    def build(keys: Seq[Long]): SparseBitmap = {
      val sb = new SparseBitmap
      keys.foreach(sb.add)
      sb
    }
    def or(a: SparseBitmap, b: SparseBitmap): SparseBitmap = {
      val m = SparseBitmap.deserialize(a.serialize) // fresh copy — OR mutates
      m.or(b)
      m
    }
    def bytes(sb: SparseBitmap): Seq[Byte] = sb.serialize.toSeq
    for (Seq(ka, kb, kc) <- samples(Gen.listOfN(3, keySet), 200)) {
      val (a, b, c) = (build(ka), build(kb), build(kc))
      assert(bytes(or(or(a, b), c)) == bytes(or(a, or(b, c))), "associativity")
      assert(bytes(or(a, b)) == bytes(or(b, a)), "commutativity")
      assert(bytes(or(a, new SparseBitmap)) == bytes(a), "identity")
      // THE canonical-form law: any merge shape serializes bit-equal
      // to building from the union, and counts stay exact
      val merged = or(a, b)
      assert(bytes(merged) == bytes(build(ka ++ kb)), "merge diverges from direct build")
      assert(merged.cardinality == (ka ++ kb).distinct.size.toLong, "cardinality drifted")
      assert(SparseBitmap.countSerialized(merged.serialize) == merged.cardinality)
    }
  }

  test("TopN: identity, commutativity, boundedness, max-merge") {
    val m = TopN(3)
    for (Seq(a, b) <- samples(Gen.listOfN(2, state), 300)) {
      val ab = m.combine(a, b)
      assert(ab == m.combine(b, a))
      assert(ab.size <= 3)
      assert(m.combine(m.empty, m.empty) == m.empty)
      // every surviving value is the max across both inputs for its key
      ab.foreach { case (k, v) =>
        assert(v == math.max(a.getOrElse(k, Long.MinValue), b.getOrElse(k, Long.MinValue)))
      }
      // merging with empty only truncates, never alters survivors' values
      m.combine(a, m.empty).foreach { case (k, v) => assert(a(k) == v) }
    }
  }
}
