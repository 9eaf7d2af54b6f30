package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Edge cases for the native expressions: empty arrays, nulls,
  * degenerate widths — both interpreted eval and the codegen path
  * (exercised through real queries).
  */
class ExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("dot/l2norm: empty arrays and nulls") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(), array()) AS d0,
        |       graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS dn,
        |       graft_l2norm(array()) AS n0,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D)) AS dshort
        |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("d0") == 0.0)
    assert(r.isNullAt(r.fieldIndex("dn")))
    assert(r.getAs[Double]("n0") == 0.0)
    assert(r.getAs[Double]("dshort") == 3.0) // min-length semantics
  }

  test("simhash/rolling/minhash: empty and short token arrays") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash64(array()) AS s0,
        |       graft_rolling_hashes(array('a'), 5) AS r0,
        |       graft_simhash64(array('x')) AS s1
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("s0") == 0L) // all counters 0 -> all bits 0
    assert(r.getAs[collection.Seq[Long]]("r0").isEmpty)
    assert(r.getAs[Long]("s1") != 0L)
  }

  test("nearestCells: tie-break, partial fill, and codegen/eval agreement") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // ties break toward the lower cell index
    val twin = Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val v = new GenericArrayData(Array(1.0, 0.0))
    assert(GraftHashOps.nearestCells(v, twin, 2).toIntArray().toSeq == Seq(0, 1))
    // n > k returns all k cells, best first
    assert(GraftHashOps.nearestCells(v, twin, 9).toIntArray().toSeq == Seq(0, 1, 2))
    // ordering: descending dot product
    val spread = Array(Array(0.1, 0.0), Array(0.9, 0.0), Array(0.5, 0.0))
    assert(GraftHashOps.nearestCells(v, spread, 3).toIntArray().toSeq == Seq(1, 2, 0))
    // the codegen'd DataFrame path agrees with direct eval
    val df = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("vec_id", "v")
    val got = graft.similarity.Similarity.assignCells(df, spread)
      .orderBy("vec_id").select("cell").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 0)) // (0,1) dots are all 0.0: tie -> cell 0
  }

  test("expressions survive both eval paths with identical results") {
    // codegen path (whole-stage) vs interpreted (after collect_list
    // boundary) must agree
    val df = Seq((1L, Array(1.0, 2.0, 3.0)), (2L, Array(0.5, -1.0, 2.5)))
      .toDF("id", "v")
    df.createOrReplaceTempView("vecs")
    GraftExtensions.register(spark)
    val codegen = spark.sql("SELECT id, graft_l2norm(v) AS n FROM vecs ORDER BY id")
      .collect().map(_.getDouble(1)).toSeq
    val expected = Seq(math.sqrt(1 + 4 + 9), math.sqrt(0.25 + 1 + 6.25))
    assert(codegen == expected)
  }

  test("TopKBuffer is a bounded commutative monoid (order-independent)") {
    val items = Seq((3.0, 1L), (5.0, 2L), (5.0, 3L), (1.0, 4L), (4.0, 5L),
      (5.0, 0L), (2.0, 6L))
    def result(order: Seq[(Double, Long)], splits: Int): Seq[(Double, Long)] = {
      // split into `splits` partial buffers, merge — the partial-agg path
      val bufs = order.grouped(math.max(1, order.size / splits)).map { g =>
        val b = new TopKBuffer(3)
        g.foreach { case (s, id) => b.insert(s, id) }
        b
      }.toSeq
      val acc = new TopKBuffer(3)
      bufs.foreach(acc.mergeFrom)
      (0 until acc.n).map(i => (acc.scores(i), acc.ids(i)))
    }
    val expected = Seq((5.0, 0L), (5.0, 2L), (5.0, 3L)) // score desc, id asc
    for (perm <- items.permutations.take(50); splits <- Seq(1, 2, 3))
      assert(result(perm, splits) == expected, s"perm=$perm splits=$splits")
  }

  test("TopKBuffer distinct mode: duplicates occupy one slot, monoid holds") {
    // with duplicates across partial buffers, distinct mode must equal
    // the non-distinct result over the de-duplicated input
    val items = Seq((3.0, 1L), (5.0, 2L), (3.0, 1L), (1.0, 4L), (5.0, 2L),
      (4.0, 5L), (2.0, 6L), (4.0, 5L), (5.0, 2L))
    def result(order: Seq[(Double, Long)], splits: Int): Seq[(Double, Long)] = {
      val bufs = order.grouped(math.max(1, order.size / splits)).map { g =>
        val b = new TopKBuffer(3, distinct = true)
        g.foreach { case (s, id) => b.insert(s, id) }
        b
      }.toSeq
      val acc = new TopKBuffer(3, distinct = true)
      bufs.foreach(acc.mergeFrom)
      (0 until acc.n).map(i => (acc.scores(i), acc.ids(i)))
    }
    val expected = Seq((5.0, 2L), (4.0, 5L), (3.0, 1L))
    for (perm <- items.permutations.take(50); splits <- Seq(1, 2, 3))
      assert(result(perm, splits) == expected, s"perm=$perm splits=$splits")
  }

  test("TopKBuffer distinct: equals the set-model under random duplicate-heavy input") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // narrow domains guarantee heavy duplication and score ties
    val pair = for {
      sc <- Gen.chooseNum(0, 12); id <- Gen.chooseNum(0L, 25L)
    } yield (sc.toDouble, id)
    val input = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, pair))
    for (i <- 0 until 300; items <- input(Gen.Parameters.default, Seed(i.toLong))) {
      val k = 1 + i % 7
      val expected = items.distinct.sortBy { case (s, id) => (-s, id) }.take(k)
      val splits = 1 + i % 4
      val bufs = items.grouped(math.max(1, items.size / splits + 1)).map { g =>
        val b = new TopKBuffer(k, distinct = true)
        g.foreach { case (s, id) => b.insert(s, id) }
        b
      }
      val acc = new TopKBuffer(k, distinct = true)
      bufs.foreach(acc.mergeFrom)
      val got = (0 until acc.n).map(j => (acc.scores(j), acc.ids(j))).toList
      assert(got == expected, s"seed=$i k=$k items=$items")
    }
  }

  test("topKDistinct over a duplicated stream equals topK over distinct input") {
    import spark.implicits._
    val rows = (1 to 500).flatMap { i =>
      val h = (i * 2654435761L) % 1000
      Seq.fill(1 + i % 4)(("g" + (i % 3), -h.toDouble, h))
    }
    val df = rows.toDF("g", "nsh", "sh")
    val viaDistinct = df.distinct()
      .groupBy("g").agg(GraftFunctions.topK("nsh", "sh", 16).as("sig"))
      .orderBy("g").collect().map(_.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getDouble(0), r.getLong(1))))
    val viaSetHeap = df
      .groupBy("g").agg(GraftFunctions.topKDistinct("nsh", "sh", 16).as("sig"))
      .orderBy("g").collect().map(_.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getDouble(0), r.getLong(1))))
    assert(viaSetHeap.toSeq == viaDistinct.toSeq)
    // the whole point: the set-heap plan has ONE exchange (partial agg
    // → final agg), not the distinct-then-agg plan's two
    val exchanges = df.groupBy("g")
      .agg(GraftFunctions.topKDistinct("nsh", "sh", 16))
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, saw $exchanges")
  }

  test("graft_topk via SQL: bounded result, ordered, null-safe") {
    GraftExtensions.register(spark)
    Seq(("a", 1.0, 10L), ("a", 3.0, 11L), ("a", 2.0, 12L), ("a", 3.0, 9L),
      ("b", 7.0, 20L)).toDF("k", "s", "id").createOrReplaceTempView("tk")
    val rows = spark.sql(
      "SELECT k, graft_topk(s, id, 2) AS top FROM tk GROUP BY k ORDER BY k")
      .collect()
    val a = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(a == Seq((3.0, 9L), (3.0, 11L)), s"got $a")
    val b = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(b == Seq((7.0, 20L)))
  }

  test("graft_topk via SQL coerces int score/id columns (no runtime CCE)") {
    GraftExtensions.register(spark)
    Seq((1, 10), (3, 11), (2, 12)).toDF("s", "id").createOrReplaceTempView("tki")
    val top = spark.sql("SELECT graft_topk(s, id, 2) AS top FROM tki")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(top == Seq((3.0, 11L), (2.0, 12L)), s"got $top")
  }

  test("graft_bitmap via SQL: exact distinct through sketch, union, count") {
    GraftExtensions.register(spark)
    Seq((2024, 1, 10L), (2024, 1, 11L), (2024, 2, 10L), (2024, 2, 12L),
      (2025, 1, 10L), (2025, 1, 10L)).toDF("y", "m", "k")
      .createOrReplaceTempView("bm")
    val rows = spark.sql(
      """SELECT y, graft_bitmap_count(graft_bitmap_union(sk)) AS d FROM (
        |  SELECT y, m, graft_bitmap(k, 1024) AS sk FROM bm GROUP BY y, m)
        |GROUP BY y ORDER BY y""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // 2024: {10,11,12} across months (10 overlaps — OR dedups); 2025: {10}
    assert(rows.toSeq == Seq((2024, 3L), (2025, 1L)), s"got ${rows.toSeq}")
  }

  test("graft_bitmap64 via SQL: sparse 64-bit domain, negative keys, union, count") {
    GraftExtensions.register(spark)
    // keys span the signed 64-bit domain — far past any dense maxKey —
    // including negatives and two keys sharing one 65 536-value chunk
    Seq((2024, 1, Long.MaxValue - 7), (2024, 1, -42L), (2024, 2, Long.MaxValue - 7),
      (2024, 2, Long.MinValue + 1), (2025, 1, 1L), (2025, 1, 2L), (2025, 1, 1L))
      .toDF("y", "m", "k").createOrReplaceTempView("bm64")
    val rows = spark.sql(
      """SELECT y, graft_bitmap64_count(graft_bitmap64_union(sk)) AS d FROM (
        |  SELECT y, m, graft_bitmap64(k) AS sk FROM bm64 GROUP BY y, m)
        |GROUP BY y ORDER BY y""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.toSeq == Seq((2024, 3L), (2025, 2L)), s"got ${rows.toSeq}")
  }

  test("SparseBitmap: canonical bytes, array->bitmap promotion, dense-format rejection") {
    // cardinality matches a reference Set across chunk-local density,
    // chunk spread, and sign; serialized bytes are a pure function of
    // the key SET regardless of insertion/merge order. The key mix
    // exercises all three canonical container forms: a contiguous
    // block (runs), single spread keys (arrays), and a dense
    // alternating block past the array cap (bitmap).
    val keys = (0L until 5000L) ++ // contiguous past ArrayCap → run container
      (0L until 100L).map(_ * 1000003L) ++ // spread across chunks (array containers)
      (0L until 7000L).map(i => (1L << 16) + 2 * i) ++ // alternating: runs=n, 2n>8KiB → bitmap container
      Seq(-1L, -70000L, Long.MinValue, Long.MaxValue, 0L)
    val a = new SparseBitmap
    keys.foreach(a.add)
    assert(a.cardinality == keys.distinct.size.toLong)
    // reversed insertion + a split/merge build must serialize bit-equal
    val b = new SparseBitmap
    keys.reverse.foreach(b.add)
    val (h1, h2) = keys.splitAt(keys.length / 3)
    val c1 = new SparseBitmap; h1.foreach(c1.add)
    val c2 = new SparseBitmap; h2.foreach(c2.add)
    c1.or(c2)
    assert(java.util.Arrays.equals(a.serialize, b.serialize),
      "serialization depends on insertion order")
    assert(java.util.Arrays.equals(a.serialize, c1.serialize),
      "serialization depends on merge shape")
    // round trip preserves bytes and count
    val rt = SparseBitmap.deserialize(a.serialize)
    assert(rt.cardinality == a.cardinality)
    assert(java.util.Arrays.equals(rt.serialize, a.serialize))
    assert(SparseBitmap.countSerialized(a.serialize) == a.cardinality)
    // run containers earn their keep: a 60k-key CONTIGUOUS range is
    // one chunk run + a header each — bytes, not the 8 KiB/chunk the
    // bitmap form (or 2 B/key the array form) would pay
    val contig = new SparseBitmap
    (0L until 60000L).foreach(contig.add)
    val cb = contig.serialize
    assert(cb.length < 64, s"contiguous 60k keys serialized to ${cb.length} B")
    assert(SparseBitmap.countSerialized(cb) == 60000L)
    val crt = SparseBitmap.deserialize(cb)
    assert(crt.cardinality == 60000L && java.util.Arrays.equals(crt.serialize, cb))
    // dense graft_bitmap bytes must fail the magic check loudly, not
    // popcount into a wrong "exact" answer
    val dense = new java.util.BitSet(); dense.set(3); dense.set(99)
    intercept[IllegalArgumentException] {
      SparseBitmap.countSerialized(dense.toByteArray)
    }
    // and the REVERSE mixup fails loudly too: the dense count given
    // sparse bytes would otherwise popcount headers into a plausible
    // wrong answer
    intercept[IllegalArgumentException] {
      GraftHashOps.bitmapCount(a.serialize)
    }
    // while genuine dense bytes still count fine through the guard
    assert(GraftHashOps.bitmapCount(dense.toByteArray) == 2L)
    // the PRE-run-container wire form (GBS6, no form tag) must fail
    // loudly EVERYWHERE — sparse readers say "rebuild", dense guards
    // still classify it as sparse — never popcount as garbage
    val gbs6 = java.nio.ByteBuffer.allocate(8 + 12 + 4)
    gbs6.putInt(0x47425336).putInt(1) // old magic, one container
    gbs6.putLong(3L).putInt(2).putChar(5.toChar).putChar(9.toChar)
    val oldBytes = gbs6.array()
    val e1 = intercept[IllegalArgumentException] {
      SparseBitmap.deserialize(oldBytes)
    }
    assert(e1.getMessage.contains("rebuild"), e1.getMessage)
    intercept[IllegalArgumentException] {
      SparseBitmap.countSerialized(oldBytes)
    }
    intercept[IllegalArgumentException] {
      GraftHashOps.bitmapCount(oldBytes)
    }
  }

  test("graft_bitmap64_contains: EXACT membership probe across all container forms") {
    // driver-side sketch over the three-regime key mix, probed from a
    // DataFrame filter — exact membership, no false positives OR
    // negatives (the property the bloom probe cannot give)
    val present = (0L until 5000L) ++                      // run container
      (0L until 50L).map(_ * 1000003L) ++                  // array containers
      (0L until 7000L).map(i => (1L << 16) + 2 * i) ++     // bitmap container
      Seq(-1L, Long.MinValue, Long.MaxValue)
    val absent = Seq(5000L, -2L, 999L * 1000003L, (1L << 16) + 1L,
      Long.MinValue + 1, 12345678901L)
    val sb = new SparseBitmap
    present.foreach(sb.add)
    val bytes = sb.serialize
    val probeKeys = (present.take(40) ++ absent)
    val got = probeKeys.toDF("k")
      .filter(GraftFunctions.bitmap64Contains("k", bytes))
      .collect().map(_.getLong(0)).toSet
    assert(got == present.take(40).toSet, s"probe diverged: $got")
    // SQL path: build in one branch, probe in the filter (q53's shape
    // with exact answers — no verify join needed behind it)
    GraftExtensions.register(spark)
    Seq(10L, 11L, 1L << 40).toDF("k").createOrReplaceTempView("b64_dim")
    Seq(10L, 11L, 12L, 1L << 40, (1L << 40) + 1).toDF("k")
      .createOrReplaceTempView("b64_facts")
    val rows = spark.sql(
      """SELECT f.k FROM b64_facts f
        |CROSS JOIN (SELECT graft_bitmap64(k) AS sk FROM b64_dim) d
        |WHERE graft_bitmap64_contains(d.sk, f.k)
        |ORDER BY f.k""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(10L, 11L, 1L << 40), s"SQL probe diverged: $rows")
  }

  test("graft_bloom via SQL: build then probe, no false negatives in-query") {
    GraftExtensions.register(spark)
    Seq(10L, 11L, 12L).toDF("k").createOrReplaceTempView("bf_dim")
    Seq(10L, 11L, 12L, 13L, 5000L).toDF("k").createOrReplaceTempView("bf_facts")
    // build + probe entirely in SQL: the sketch joins in as a column
    val rows = spark.sql(
      """SELECT f.k FROM bf_facts f
        |CROSS JOIN (SELECT graft_bloom(k, 1024, 5) AS bf FROM bf_dim) d
        |WHERE graft_bloom_might_contain(d.bf, f.k, 5)
        |ORDER BY f.k""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(Set(10L, 11L, 12L).subsetOf(rows), s"false negative: got $rows")
    // at 1024 bits / 3 keys the fp probability is ~1e-10 — the two
    // foreign keys must be rejected
    assert(rows == Set(10L, 11L, 12L), s"unexpected fp at tiny load: $rows")
  }

  test("r18 hardening: null tokens, NaN routing, bigram boundaries, wrong-k bloom probes") {
    GraftExtensions.register(spark)
    // registered SQL functions must not NPE on null array elements
    val r = spark.sql(
      """SELECT graft_simhash64(array('a', NULL, 'b')) AS s,
        |       graft_rolling_hashes(array('a', NULL, 'b'), 2) AS rh,
        |       graft_token_stats(array('x', 'y z', 'x y', 'z')) AS ts
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("s") == spark.sql(
      "SELECT graft_simhash64(array('a', 'b'))").collect()(0).getLong(0),
      "null token must hash as absent, like tokenStats")
    assert(r.getAs[collection.Seq[Long]]("rh").size == 2)
    // bigram identity pins the pair boundary: ("x","y z") != ("x y","z")
    assert(r.getStruct(r.fieldIndex("ts")).getAs[Long]("n_big_uniq") == 3L,
      "space-containing tokens collided in the bigram identity")
    // NaN centroid must rank LAST in routing, not hijack every row
    val nanCents = Array(Array(Double.NaN, Double.NaN), Array(1.0, 0.0))
    val routed = GraftHashOps.nearestCells(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(2.0, 0.0)),
      nanCents, 1)
    assert(routed.getInt(0) == 1, s"NaN centroid won the routing: $routed")
    // wrong-k bloom probe fails LOUDLY (the header carries built-k),
    // and so does a headerless raw-word byte string; the matching k
    // probes fine
    val sketch = spark.sql(
      "SELECT graft_bloom(id, 1024, 5) FROM range(100)").collect()(0).getAs[Array[Byte]](0)
    assert(GraftHashOps.bloomHeaderHashes(sketch).contains(5))
    assert(GraftHashOps.bloomMightContain(sketch, 42L, 5))
    intercept[IllegalArgumentException](
      GraftHashOps.bloomMightContain(sketch, 42L, 7))
    val raw = java.util.Arrays.copyOfRange(sketch, 9, sketch.length)
    assert(GraftHashOps.bloomHeaderHashes(raw).isEmpty)
    intercept[IllegalArgumentException](
      GraftHashOps.bloomMightContain(raw, 42L, 5))
    // builder hygiene: uniform arity errors, total width parse,
    // BIGINT literals accepted where siblings accept them
    intercept[IllegalArgumentException](spark.sql("SELECT graft_dot(array(1.0D))").collect())
    intercept[Exception](spark.sql("SELECT graft_rolling_hashes(array('a'), 0)").collect())
    assert(spark.sql("SELECT graft_bloom(id, 1024L, 5) FROM range(10)")
      .collect().nonEmpty) // BIGINT literal, like graft_bitmap accepts
  }

  test("graft_topk excludes NaN and null scores (monoid order-independence holds)") {
    GraftExtensions.register(spark)
    Seq((Some(Double.NaN), 1L), (Some(5.0), 2L), (Some(Double.NaN), 3L),
      (None, 4L), (Some(7.0), 5L)).toDF("s", "id").createOrReplaceTempView("tkn")
    val top = spark.sql("SELECT graft_topk(s, id, 3) AS top FROM tkn")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(top == Seq((7.0, 5L), (5.0, 2L)), s"got $top")
  }

  test("struct-returning expressions survive whole-stage codegen with fallback disabled") {
    // Regression guard: a JVM-side return type of Object (instead of
    // InternalRow) makes the generated assignment a Janino compile
    // error, and Spark SILENTLY drops the whole fused stage to
    // interpreted execution — every test stays green while the
    // expression's reason to exist (stay inside codegen) is defeated.
    // Disabling the fallback turns that miscompile into a hard error.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    strict.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val chars = graft.Tables.documents(strict, sfDir)
      .select(GraftFunctions.charStats("text").as("cs"))
      .select(col("cs.n_chars"), col("cs.entropy"))
    val toks = graft.Tables.documents(strict, sfDir)
      .select(expr(graft.text.TextAnalysis.toksExpr).as("t"))
      .select(GraftFunctions.tokenStats("t").as("ts"))
      .select(col("ts.n_tokens"), col("ts.n_uniq"))
    assert(chars.collect().nonEmpty && toks.collect().nonEmpty)
  }

  test("q43 bounded-heap top-N equals q03's window formulation, without a Window") {
    val viaWindow = graft.operators.Relational.q03_topn_group(spark, sfDir).collect().toSeq
    val viaHeap = graft.operators.Relational.q43_topn_heap(spark, sfDir).collect().toSeq
    assert(viaHeap == viaWindow)
    val plan = graft.operators.Relational.q43_topn_heap(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "heap top-N must not plan a Window")
    assert(plan.contains("partial_graft_topk"),
      "map-side partial aggregation missing from the heap top-N plan")
  }
}
