package graft.operators

import graft.SparkSpecBase

/** The resample pin gate's input sizing ([[Relational.dataBytes]])
  * reads through Hadoop `FileSystem`: a `file:` URI must size the
  * same as the plain local path it names (a `java.io.File` stat reads
  * 0 for the URI, and the pin would never engage).
  */
class DataBytesSpec extends SparkSpecBase {

  test("dataBytes sums part-file bytes for a local path and its file: URI") {
    val dir = tmpDir("databytes")
    val out = s"$dir/events.parquet"
    spark.range(0, 5000).selectExpr("id", "cast(id * 3 as string) AS s")
      .repartition(3).write.parquet(out)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 3)
    val want = parts.map(_.length()).sum
    val uri = new java.io.File(out).toURI.toString
    assert(uri.startsWith("file:"))
    assert(Relational.dataBytes(spark, out) == want)
    assert(Relational.dataBytes(spark, uri) == want)
    // a single data file sizes as itself, either way it is named
    val one = parts.head
    assert(Relational.dataBytes(spark, one.getPath) == one.length())
    assert(Relational.dataBytes(spark, one.toURI.toString) == one.length())
    // nothing there reads as 0 rather than throwing
    assert(Relational.dataBytes(spark, s"$dir/missing.parquet") == 0L)
    graft.IndexLifecycle.deleteRecursively(dir)
  }
}
