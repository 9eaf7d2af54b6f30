package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a corpus `copies`× the size of a test-data directory by
  * key-offset replication, for scaling runs past the shipped SFs.
  * Referential integrity holds per copy (order/part/supplier/customer
  * keys offset consistently); document texts are vowel-rotated and
  * embeddings perturbed per copy so the near-dup operators don't face
  * a cross-copy duplicate explosion no real larger corpus would have.
  * Usage: SPARK_GRAFT_SF_DIR=<srcDir> GenCorpus <outDir> [copies]
  * (copies defaults to 10).
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("GenCorpus: set SPARK_GRAFT_SF_DIR to the source test-data directory"))
    val out = args.headOption.getOrElse(
      sys.error("usage: GenCorpus <outDir> [copies]"))
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-copy key offsets, each above the source's key range
    val (kC, kS, kP, kO, kD, kV, kE) =
      (1000000L, 1000000L, 1000000L, 10000000L, 1000000L, 1000000L, 10000000L)
    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val all = (0 until copies).map(i => f(base, i)).reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"gencorpus $t written x$copies")
    }
    Seq("region", "nation").foreach(t => spark.read.parquet(s"$src/$t.parquet")
      .write.mode("overwrite").parquet(s"$out/$t.parquet"))
    rep("customer")((df, i) => df.select(
      (col("c_custkey") + i * kC).as("c_custkey"),
      concat(col("c_name"), lit(s"#$i")).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    rep("supplier")((df, i) => df.select(
      (col("s_suppkey") + i * kS).as("s_suppkey"),
      concat(col("s_name"), lit(s"#$i")).as("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    rep("part")((df, i) => df.select(
      (col("p_partkey") + i * kP).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")))
    rep("orders")((df, i) => df.select(
      (col("o_orderkey") + i * kO).as("o_orderkey"),
      (col("o_custkey") + i * kC).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    rep("lineitem")((df, i) => df.select(
      (col("l_orderkey") + i * kO).as("l_orderkey"),
      (col("l_partkey") + i * kP).as("l_partkey"),
      (col("l_suppkey") + i * kS).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    rep("documents")((df, i) => df.select(
      (col("doc_id") + i * kD).as("doc_id"),
      translate(col("text"), "aeiou",
        "aeiou".drop(i % 5) + "aeiou".take(i % 5)).as("text"),
      col("lang"), col("source"), col("n_chars")))
    rep("embeddings")((df, i) => df.select(
      (col("vec_id") + i * kV).as("vec_id"),
      expr(s"transform(embedding, (x, k) -> " +
        s"cast(x + ((($i * 31 + k) % 7) - 3) * 0.001 as float))").as("embedding"),
      col("label")))
    rep("events")((df, i) => df.select(
      (col("event_id") + i * kE).as("event_id"), col("ts"),
      (col("user_id") + i * kC).as("user_id"),
      col("event_type"), col("value"), col("props")))
    spark.stop()
  }
}
