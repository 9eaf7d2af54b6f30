package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Direct properties of the staged range write: the manifest-stats
  * split points ([[MergeTable.statsSplitPoints]]), the bucket shuffle
  * they feed ([[SessionBridge.repartitionByBucket]]), and the band
  * layout [[MergeTable.stageRangeWrite]] leaves on disk on both its
  * explicit-bounds and sampled paths. Seeded, so a failure reproduces.
  */
class RangeWriteSpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val manSchema = StructType(Seq(
    StructField("path", StringType), StructField("min_k", LongType),
    StructField("max_k", LongType), StructField("n_rows", LongType)))

  /** One manifest row per file: (path, min, max, n_rows); null = no stat. */
  private def man(files: Seq[(String, Any, Any, Any)]): Seq[Row] =
    files.map { case (p, lo, hi, n) => Row(p, lo, hi, n) }

  private def splits(rows: Seq[Row], paths: Seq[String], nOut: Int,
                     schema: StructType = manSchema): Option[IndexedSeq[Any]] =
    MergeTable.statsSplitPoints(spark, schema, rows, paths, "k", nOut)

  /** A clean ascending band chain: per-file row counts, disjoint
    * ascending [min, max] spans, listed in shuffled manifest order. */
  private val chain: Gen[(Seq[(String, Long, Long, Long)], Int)] = for {
    nFiles <- Gen.chooseNum(2, 12)
    // tiny row counts land cumulative counts exactly on quantile
    // boundaries, where a floor-vs-ceil slip would show
    maxRows <- Gen.oneOf(4L, 1000L)
    sizes <- Gen.listOfN(nFiles, Gen.chooseNum(1L, maxRows))
    widths <- Gen.listOfN(nFiles, Gen.chooseNum(0L, 50L))
    gaps <- Gen.listOfN(nFiles, Gen.chooseNum(1L, 20L))
    nOut <- Gen.chooseNum(2, nFiles + 3)
    order <- Gen.pick(nFiles, 0 until nFiles)
  } yield {
    val starts = gaps.zip(widths).scanLeft(0L) { case (s, (g, w)) => s + w + g }
    val files = sizes.indices.map(i =>
      (s"f$i", starts(i), starts(i) + widths(i), sizes(i)))
    (order.toSeq.map(files), nOut)
  }

  test("statsSplitPoints places equi-depth splits on a clean band chain") {
    for ((files, nOut) <- samples(chain, 300)) {
      val sorted = files.sortBy(_._2)
      val total = sorted.map(_._4).sum
      val n = math.min(nOut, sorted.size)
      val got = splits(man(files), files.map(_._1), nOut)
      val sp = got.getOrElse(IndexedSeq.empty).map(_.asInstanceOf[Long])
      assert(got.forall(_.nonEmpty), "Some(empty) must be None")
      assert(sp.size <= n - 1, s"${sp.size} splits for $n buckets")
      assert(sp == sp.sorted && sp.distinct == sp, s"splits not ascending: $sp")
      // each split is a file max (never the last file's: its max
      // closes the open top bucket), the j-th placed at the EARLIEST
      // file after split j-1 whose cumulative rows reach ceil(j·total/n)
      val maxes = sorted.init.map(_._3)
      val cum = sorted.map(_._4).scanLeft(0L)(_ + _).tail
      var prev = -1
      sp.zipWithIndex.foreach { case (v, j0) =>
        val f = maxes.indexOf(v)
        assert(f > prev, s"split $v is not a later file max (files $sorted)")
        val need = ((j0 + 1) * total + n - 1) / n
        assert(cum(f) >= need, s"split ${j0 + 1} at cum ${cum(f)} < $need")
        assert(f == prev + 1 || cum(f - 1) < need,
          s"split ${j0 + 1} placed past the first file reaching $need")
        prev = f
      }
      // a split is missing only when no later file reaches its
      // quantile (one file absorbs at most one split)
      if (sp.size < n - 1) {
        val need = ((sp.size + 1) * total + n - 1) / n
        assert(maxes.indices.drop(prev + 1).forall(f => cum(f) < need),
          s"split ${sp.size + 1} (quantile $need) missing over $sorted")
      }
    }
  }

  test("statsSplitPoints: equal-sized files with nOut == files give one band per file") {
    for (nFiles <- 2 to 9) {
      val files = (0 until nFiles).map(i => (s"f$i", i * 100L, i * 100L + 50, 10L))
      val got = splits(man(files.reverse), files.map(_._1), nFiles)
      assert(got.contains((0 until nFiles - 1).map(i => i * 100L + 50)), s"got $got")
    }
    // three one-row files into two buckets: the first bucket takes
    // ceil(3/2) = 2 rows, so the split is the SECOND file's max
    val three = (0 until 3).map(i => (s"f$i", i * 100L, i * 100L + 50, 1L))
    assert(splits(man(three), three.map(_._1), 2).contains(IndexedSeq(150L)))
  }

  test("statsSplitPoints is None for overlap, null or missing stats, unknown paths") {
    val ok: Seq[(String, Any, Any, Any)] =
      Seq(("a", 0L, 9L, 5L), ("b", 10L, 19L, 5L), ("c", 20L, 29L, 5L))
    val paths = ok.map(_._1)
    assert(splits(man(ok), paths, 3).nonEmpty, "the clean chain itself must split")
    // overlapping spans (a z-ordered rewrite's layout), and touching
    // ones: a shared boundary value cannot be a strict bound
    assert(splits(man(ok.updated(1, ("b", 5L, 19L, 5L))), paths, 3).isEmpty)
    assert(splits(man(ok.updated(1, ("b", 9L, 19L, 5L))), paths, 3).isEmpty)
    // a null min, max or n_rows on any rewritten file
    for (i <- ok.indices; field <- 1 to 3) {
      val r = ok(i)
      val nulled = field match {
        case 1 => r.copy(_2 = null)
        case 2 => r.copy(_3 = null)
        case _ => r.copy(_4 = null)
      }
      assert(splits(man(ok.updated(i, nulled)), paths, 3).isEmpty, s"null field $field of $r")
    }
    // the key's stat columns absent from the manifest
    val noMax = StructType(manSchema.filterNot(_.name == "max_k"))
    assert(splits(ok.map { case (p, lo, _, n) => Row(p, lo, n) }, paths, 3, noMax).isEmpty)
    val noRows = StructType(manSchema.filterNot(_.name == "n_rows"))
    assert(splits(ok.map { case (p, lo, hi, _) => Row(p, lo, hi) }, paths, 3, noRows).isEmpty)
    // a rewritten path the manifest doesn't list
    assert(splits(man(ok), paths :+ "zz", 3).isEmpty)
    // one bucket or one file: no bounds needed
    assert(splits(man(ok), paths, 1).isEmpty)
    assert(splits(man(ok), Seq("a"), 3).isEmpty)
    // past the row gate the sampled plan wins
    val big = ok.map { case (p, lo, hi, _) => (p, lo, hi, 2000000L) }
    assert(splits(man(big), paths, 3).isEmpty)
  }

  test("repartitionByBucket keeps the row multiset and routes rows to [0, n)") {
    for (n <- Seq(1, 3, 16, 201, 257)) {
      val rows = samples(Gen.zip(Gen.chooseNum(-2, n + 2), Gen.alphaStr.map(_.take(6))), 400)
        .zipWithIndex.map { case ((b, s), i) => (i.toLong, b, s) }
      val df = rows.toDF("id", "b", "s")
      val parted = SessionBridge.repartitionByBucket(df, "b", n)
      assert(parted.rdd.getNumPartitions == n)
      val got = parted.withColumn("pid", spark_partition_id())
        .as[(Long, Int, String, Int)].collect().toSeq
      assert(got.map(r => (r._1, r._2, r._3)).sorted == rows.sorted, s"n=$n: rows changed")
      got.foreach { case (id, b, _, pid) =>
        assert(pid >= 0 && pid < n, s"n=$n: row $id in partition $pid")
        assert(pid == math.min(math.max(b, 0), n - 1), s"n=$n: bucket $b in partition $pid")
      }
    }
  }

  /** (min, max) of `k` per written parquet file under `dir`. */
  private def fileSpans(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(dir).groupBy(input_file_name())
      .agg(min("k"), max("k")).as[(String, Long, Long)].collect().map(r => (r._2, r._3))
      .toSeq.sortBy(_._1)

  test("stageRangeWrite lays out disjoint key bands on both its paths") {
    val df = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 7 % 13).as("v"), lit("x").as("junk"))
    // explicit bounds: every file lies inside one bucket of the splits
    val dir = tmpDir("rangewrite-bounds")
    val sp = IndexedSeq[Any](99L, 399L, 749L)
    MergeTable.stageRangeWrite(df, 4, Seq(col("k")), s"$dir/out",
      dropCols = Seq("junk"), splits = Some(sp))
    val back = spark.read.parquet(s"$dir/out")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.as[(Long, Long)].collect().sorted.toSeq ==
      df.select("k", "v").as[(Long, Long)].collect().sorted.toSeq)
    val bands = Seq(Long.MinValue) ++ sp.map(_.asInstanceOf[Long]) :+ Long.MaxValue
    fileSpans(s"$dir/out").foreach { case (lo, hi) =>
      assert(bands.sliding(2).exists { case Seq(a, b) =>
        (a == Long.MinValue || lo > a) && hi <= b }, s"file [$lo, $hi] straddles a split")
    }
    // sampled path: ≤ nFiles files whose spans never overlap
    val dir2 = tmpDir("rangewrite-sampled")
    MergeTable.stageRangeWrite(df, 4, Seq(col("k")), s"$dir2/out")
    val spans = fileSpans(s"$dir2/out")
    assert(spans.nonEmpty && spans.size <= 4)
    assert(spans.zip(spans.tail).forall { case (a, b) => a._2 < b._1 }, s"overlap: $spans")
    assert(spark.read.parquet(s"$dir2/out").count() == 1000L)
    graft.IndexLifecycle.deleteRecursively(dir)
    graft.IndexLifecycle.deleteRecursively(dir2)
  }
}
