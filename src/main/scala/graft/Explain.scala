package graft

/** Plan-audit main: prints the formatted physical plan for the named
  * queries (or every registered query, in sorted order) so pushdown /
  * broadcast / whole-stage-codegen posture can be inspected per
  * operator. Usage: Explain <sfDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = HarnessSession("4", "ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      println("---- simple (codegen spans marked *) ----")
      df.explain()
    }
    operators.MergeTable.cleanupFixtures() // tmp fixture tables (q59-q68)
    spark.stop()
  }
}
