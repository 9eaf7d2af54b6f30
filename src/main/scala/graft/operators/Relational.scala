package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1 relational core: the reference's spout→bolt→sink pipeline
  * (tokenize → keyed count → top-N → global sort, see
  * reference WordCountSample.hs:70-260) generalized into a full
  * declarative operator set. Every query is a DataFrame plan so
  * Catalyst handles pushdown/pruning/join strategy; dims are
  * broadcast-hinted; aggregations get map-side partial agg for free
  * (the monoid-merge trick of Processor.hs:43-54, codegen'd).
  *
  * Output conventions (driver hash-compare parity with DuckDB):
  * doubles rounded, integers cast to long, timestamps formatted as
  * strings, deterministic total ORDER BY.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** DuckDB-parity rounding: duckdb round(x,n) is std::round(x*10^n)/10^n
    * on the raw double, while Spark round(x,n) re-parses the shortest
    * decimal string (BigDecimal) — they disagree whenever the true
    * product sits on a .xx5 boundary. Rounding at integer scale is
    * identical in both engines (half-away-from-zero on the same
    * scaled double), so every rounded output uses round(x*scale)/scale
    * on BOTH sides.
    */
  private def r2(c: org.apache.spark.sql.Column) = round(c * 100) / 100
  private def r4(c: org.apache.spark.sql.Column) = round(c * 10000) / 10000

  // --- q01: tokenize + explode + keyed count (wordsSpout + countBolt) ---
  val q01_wordcount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  // --- q02: global top-N (topNBolt + mergeSortBolt) ---
  val q02_topn_global: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), r2(col("o_totalprice")).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(50)

  // --- q03: per-group top-N via rank window ---
  val q03_topn_group: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("o_orderpriority"), col("o_orderkey"),
        r2(col("o_totalprice")).as("price"), col("rn"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  // --- q04: TPC-H Q1 pricing summary (monoid agg) ---
  val q04_agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        r2(avg("l_quantity")).as("avg_qty"),
        r2(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // --- q05: filter + projection (pushdown reaches the scan) ---
  val q05_filter_project: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("2000-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("linenum"),
        r2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"))
      .orderBy("l_orderkey", "linenum")

  // --- q06: broadcast dim join (customer ⋈ nation ⋈ region) ---
  val q06_join_broadcast: Q = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      // c_acctbal can be negative → a near-zero group mean can round to
      // -0.0; normalize like q32 (oracle does the same)
      .agg(count(lit(1)).as("n_cust"), (r2(avg("c_acctbal")) + lit(0.0)).as("avg_bal"))
      .orderBy("r_name", "n_name")

  // --- q07: fact-fact shuffle join ---
  val q07_join_shuffle: Q = (s, d) =>
    Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy("o_orderpriority")

  // --- q08: 3-way join + agg + top-N (TPC-H Q3 shape) ---
  val q08_multi_join: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-07-01")))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .filter(col("l_shipdate") > to_timestamp(lit("1998-07-01")))
        .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  // --- q09: left outer join + distribution (TPC-H Q13 shape) ---
  val q09_outer_join: Q = (s, d) =>
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d).select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // --- q10: semi join (EXISTS) ---
  val q10_semi_join: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  // --- q11: anti join (NOT EXISTS): parts with no recent shipment ---
  val q11_anti_join: Q = (s, d) =>
    Tables.part(s, d)
      .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("2001-01-01")))
          .select("l_partkey"),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")

  // --- q12: distinct counts ---
  val q12_distinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"),
        count(lit(1)).as("n_rows"))

  // --- q13: rollup / grouping sets ---
  val q13_rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(r2(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  // --- q45: full CUBE + grouping_id (q13's rollup, completed to all
  // 2^k grouping sets). grouping_id disambiguates a real 'ALL' value
  // from an aggregated-away dimension — the reason reporting cubes
  // carry it. One expanded aggregation: Spark rewrites CUBE as an
  // Expand (4 rows per input row here) feeding ONE partial-aggregated
  // shuffle on low-cardinality keys — no per-grouping-set rescan.
  val q45_cube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(r2(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy("gid", "rf", "ls")

  // --- q46: sketch build/merge rollup — the pre-aggregated sketch
  // table pattern behind every large-scale distinct-count dashboard.
  // Monthly HLL sketches of distinct customers are the PERSISTED
  // artifact (one scan of the facts, one fixed-size sketch row per
  // month); every later rollup — year here — merges sketches via
  // hll_union_agg and never rescans the facts. At equal lgConfigK the
  // union is lossless: the year estimate from merged monthly sketches
  // equals sketching the year directly (spec-asserted), so rollup adds
  // no second approximation. rows-only: DataSketches estimates aren't
  // ANSI-SQL-reproducible; the spec bounds them against exact counts.
  val q46_sketch_rollup: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
        count(lit(1)).as("n_orders"))
    monthly.groupBy("y")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("apx_customers"),
        sum("n_orders").as("n_orders"))
      .orderBy("y")
  }

  // --- q51: EXACT distinct rollup via mergeable bitmap sketches —
  // q46's pre-aggregated sketch-table pattern with exact counts:
  // monthly graft_bitmap sketches of distinct customers are the
  // persisted artifact (one facts scan, map-side-combined fixed-size
  // state); the year rollup ORs sketches (graft_bitmap_union — a
  // LOSSLESS merge, unlike HLL's estimate) and never rescans the
  // facts. Exactness keeps the whole pattern inside the DuckDB hash
  // gate, where q46 is rows-only. Dense-domain bitmaps (bytes ∝
  // domain/8); q58 runs the SAME rollup on the sparse Roaring-style
  // container (graft_bitmap64) for domains this one can't hold.
  //
  // maxKey = 1 << 24 is a DOMAIN ASSUMPTION on o_custkey, good to
  // ~16.7M customers (≈ TPC-H sf100); a larger or non-contiguous key
  // domain must use graft_bitmap64 instead — this aggregate
  // require-throws past the bound rather than silently corrupting an
  // "exact" count.
  val q51_bitmap_rollup: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(graft.functions.GraftFunctions
          .bitmapAgg("o_custkey", maxKey = 1 << 24).as("sk"),
        count(lit(1)).as("n_orders"))
    monthly.groupBy("y")
      .agg(graft.functions.GraftFunctions.bitmapUnion("sk").as("usk"),
        sum("n_orders").as("n_orders"))
      .select(col("y").cast("long").as("y"),
        graft.functions.GraftFunctions.bitmapCount("usk").as("n_customers"),
        col("n_orders"))
      .orderBy("y")
  }

  // --- q58: q51's exact sketch rollup on the SPARSE bitmap — the
  // Roaring-style container (graft.functions.SparseBitmap) that
  // serves key domains the dense bitmap cannot: 64-bit ids, hashes,
  // or any domain where bytes ∝ domain/8 is unpayable. The key here
  // is o_custkey spread across the 64-bit space by a >2^32 prime
  // multiplier, so every customer lands in its own 65 536-value
  // chunk — the maximally-sparse layout (all array containers),
  // exercised against the same DuckDB exact-distinct oracle (the
  // multiplier is injective, so distinct counts are unchanged and the
  // gate stays hash-exact). Same three mergeable operators, same
  // lossless-OR rollup contract, no domain bound to configure.
  val q58_bitmap64_rollup: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .withColumn("k64", col("o_custkey").cast("long") * lit(4294967311L))
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(graft.functions.GraftFunctions.bitmap64Agg("k64").as("sk"),
        count(lit(1)).as("n_orders"))
    monthly.groupBy("y")
      .agg(graft.functions.GraftFunctions.bitmap64Union("sk").as("usk"),
        sum("n_orders").as("n_orders"))
      .select(col("y").cast("long").as("y"),
        graft.functions.GraftFunctions.bitmap64Count("usk").as("n_customers"),
        col("n_orders"))
      .orderBy("y")
  }

  // --- q52: approximate quantile rollup via mergeable bottom-k
  // sketches — q46/q51's pre-aggregated sketch-table pattern applied
  // to percentiles. The sketch is a deterministic uniform row sample:
  // keep the k rows with the SMALLEST xxhash64 over the row identity
  // (bottom-k sampling — Cohen & Kaplan's mergeable-summaries
  // workhorse), carrying the measure beside the hash. The merge is
  // associative and LOSSLESS in the sketch domain — the k smallest
  // hashes of a union ARE the merge of the parts' bottom-k (spec:
  // rollup sketch ≡ sketching the year directly) — so monthly
  // sketches are the persisted artifact and every coarser rollup
  // merges fixed-size state without rescanning facts, exactly q51's
  // shape with graft_topk(-hash) standing in for the bitmap OR.
  // Quantiles read off the sorted sample (rank error ~1/√k). Zero
  // new machinery: the reference's bounded top-N bolt monoid
  // (WordCountSample.hs:118-216) IS the sketch, pointed at -hash.
  // rows-only: the estimate depends on xxhash64, which DuckDB can't
  // reproduce; the spec bounds rank error against exact quantiles.
  val q52_quantile_rollup: Q = (s, d) => {
    val k = 256
    val monthly = bottomkRows(s, d).groupBy("y", "m")
      .agg(graft.functions.GraftFunctions.topK("nh", "cents", k).as("sk"),
        count(lit(1)).as("n_rows"))
    // year rollup: merge = re-aggregate the exploded pairs under the
    // same bounded monoid, with the month's row count riding on its
    // pos=0 pair so counts sum in the SAME aggregation — one facts
    // scan total (a separate counts branch would re-derive monthly
    // from the facts in this one-shot plan; in production monthly is
    // the persisted sketch table and this subplan starts there)
    val merged = monthly
      .select(col("y"), col("n_rows"), posexplode(col("sk")).as(Seq("i", "p")))
      .select(col("y"), col("i"), col("n_rows"),
        col("p.score").as("nh"), col("p.id").as("cents"))
      .groupBy("y")
      .agg(graft.functions.GraftFunctions.topK("nh", "cents", k).as("sk"),
        sum(when(col("i") === 0, col("n_rows"))).as("n_rows"))
    merged
      .withColumn("vals", array_sort(expr("transform(sk, x -> x.id)")))
      .withColumn("n", size(col("vals")))
      .select(col("y").cast("long").as("y"), col("n_rows"),
        (element_at(col("vals"),
          greatest(lit(1), ceil(col("n") * 0.5).cast("int"))) / 100.0).as("p50_est"),
        (element_at(col("vals"),
          greatest(lit(1), ceil(col("n") * 0.95).cast("int"))) / 100.0).as("p95_est"))
      .orderBy("y")
  }

  /** q52's hashed-and-projected facts — shared with the spec's
    * direct (unmerged) year formulation so the lossless-merge
    * assertion can't drift from the shipped sketch definition.
    */
  def bottomkRows(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"),
      (col("l_extendedprice") * 100).cast("long").as("cents"),
      (-xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"), col("l_shipdate"))
        .cast("double")).as("nh"))

  // --- q53: bloom-pruned semi join — the join-pruning regime between
  // "dim broadcasts whole" (q06/q10's hash semi join) and "both sides
  // shuffle" (q07's sort-merge). When the dim's KEY SET fits a few MB
  // of bloom bits but its rows don't fit a broadcast hash table, the
  // facts side is pre-filtered by a narrow codegen'd membership probe
  // (graft_bloom_might_contain — the filter bytes ride into generated
  // code like NearestCells' centroids) so only ~selectivity + ε of
  // the facts reach the exact join. False negatives are impossible,
  // so the result is EXACTLY the plain semi join — full DuckDB
  // oracle — while the fact shuffle/join input shrinks by the
  // segment's selectivity. Spark's runtime bloom join does this
  // opportunistically; building it as an explicit operator makes the
  // sketch persistable (ship one 32 KiB filter to 1000 executors
  // instead of re-deriving it per query) and the dial visible.
  // The bloom build is one map-side-combined aggregation over the
  // dim (graft_bloom's OR-merge is associative/commutative — the
  // same mergeable-summaries contract as graft_bitmap).
  val q53_bloom_semijoin: Q = (s, d) =>
    bloomSurvivors(s, d)
      .join(segmentKeys(s, d).withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("n_orders"), r2(sum("o_totalprice")).as("sum_price"))
      .orderBy("y", "m")

  private def segmentKeys(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))

  private val ResamplePinMinBytes = 8L << 20

  /** Summed bytes of the data files under `path` (a file, or a
    * directory of part files; `_`/`.`-prefixed metadata such as
    * `_SUCCESS` and checksums is skipped), read through Hadoop
    * `FileSystem` so a `file:`, HDFS or object-store path sizes the
    * same as a plain local one. 0 when nothing is there.
    */
  private[operators] def dataBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // listStatus of a file is that file alone
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen).sum
  }

  // --- q55: resample + LINEAR INTERPOLATION — q40's hourly grid with
  // the gap-fill upgraded from hold-last to interpolate-between-
  // neighbors (the other standard time-series resample mode; edges
  // back-/forward-fill from the single available neighbor). Same
  // scale shape as q40: grid ∪ events, per-key windows only — the
  // prev/next neighbor scan is two passes over each user's rows,
  // never a range self-join. Both engines compute the identical
  // IEEE expression (same parenthesization, same casts), so the
  // interpolated doubles hash-match under the r2 idiom.
  /** The resample family's shared subplan (q40 ffill, q55 interp):
    * per-(user, µs) dedup'd observations unioned with the hourly grid,
    * tagged 0 = observation / 1 = grid row — ONE definition so the two
    * resamplers can't drift on the dedup aggregate, the grid bounds,
    * or the union shape.
    */
  private def resampleUnion(s: SparkSession, d: String): DataFrame = {
    // ONE events scan for all three consumers (r22, the q23 pattern):
    // the per-µs dedup aggregate, the grid bounds and the user grid
    // each consumed their own full scan — a lazy localCheckpoint of
    // the 3-column projection pins the scan once and all three read
    // the pinned blocks. SIZE-GATED (driver-side file stat): the pin
    // measured 1.6× faster at a 10× corpus (q55 12.2 → 7.5 s at 32
    // cores) but ~0.3 s SLOWER at sf0.1, where three column-pruned
    // scans of a 2 MB file cost less than materializing blocks — so
    // small inputs keep the re-scan plan (the same
    // recompute-vs-materialize trade as the range-write barrier,
    // OPTIMIZATION_r22.md §1 and §9, decided per input).
    val base0 = Tables.events(s, d).select("user_id", "ts", "value")
    val base =
      if (dataBytes(s, s"$d/events.parquet") >= ResamplePinMinBytes)
        base0.localCheckpoint(false)
      else base0
    val ev = base
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max("value").as("v"))
    val bounds = base
      .agg(unix_micros(date_trunc("hour", min("ts"))).as("h0"),
        unix_micros(date_trunc("hour", max("ts"))).as("h1"))
    val grid = base.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), lit(3600000000L))).as("us"))
    ev.select(col("user_id"), col("us"), lit(0).as("tag"), col("v"))
      .unionAll(grid.select(col("user_id"), col("us"), lit(1).as("tag"),
        lit(null).cast("double").as("v")))
  }

  val q55_resample_interp: Q = (s, d) => {
    val unioned = resampleUnion(s, d)
      .withColumn("ev_us", when(col("tag") === 0, col("us")))
    // both directions as RUNNING accumulator frames: the forward pass
    // ordered (us, tag) asc, the backward pass ordered desc — a
    // [current, unboundedFollowing] frame is a SHRINKING frame Spark
    // re-evaluates per row (measured 4× slower on this plan at
    // sf0.1); last(..., ignoreNulls) over a growing frame is O(n)
    // running state in both passes, at the cost of one extra
    // in-partition sort (no extra exchange — same partitioning)
    val wP = Window.partitionBy("user_id").orderBy(col("us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wP))
      .withColumn("pus", last(col("ev_us"), ignoreNulls = true).over(wP))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wN))
      .withColumn("nus", last(col("ev_us"), ignoreNulls = true).over(wN))
      .filter(col("tag") === 1)
      .withColumn("ival",
        when(col("pv").isNull && col("nv").isNull, lit(-1.0))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("us") - col("pus")).cast("double") /
              (col("nus") - col("pus")).cast("double"))))
      .select(col("user_id"),
        date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm").as("hour_ts"),
        r2(col("ival")).as("val"))
      .orderBy("user_id", "hour_ts")
  }

  // --- q57: sessionized path analysis — the product-analytics "what
  // do sessions look like" table: q17's gap sessionization composed
  // with ordered per-session sequence aggregation, counting the top
  // event-type paths (capped at 8 steps — at scale the cap bounds
  // both the path-string size and the path-space cardinality).
  // Per-user windows assign sessions; one keyed aggregation builds
  // each session's ordered path (array_sort over collected structs —
  // no second window); one path-keyed count with TakeOrdered picks
  // the top 20 under a total order (count desc, path asc).
  val q57_session_paths: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(ord))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id", sum("new_s").over(run))
      .groupBy("user_id", "sess_id")
      .agg(array_join(slice(expr(
        "transform(array_sort(collect_list(struct(us, event_id, event_type))), x -> x.event_type)"),
        1, 8), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
  }

  // --- q56: MERGE / upsert — apply a change batch (updates, deletes,
  // inserts) to a dimension snapshot in one declarative plan: the
  // warehouse write-side shape (MERGE INTO) on plain parquet. The
  // change batch is derived deterministically from the snapshot
  // (key % 7 = 0 → delete, key % 5 = 0 → update, key % 5 = 1 →
  // insert under a shifted key) so the oracle mirrors it exactly.
  // Scale shape: everything keys on the merge key — one left join
  // (update overlay), one anti join (delete), one union (insert);
  // at 100 TB a table format (Delta/Iceberg) adds file-level
  // pruning on top, but the join/rewrite shape is exactly this.
  val q56_merge_upsert: Q = (s, d) => {
    val t = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        col("c_acctbal").as("bal"))
    val upd = t.filter(col("k") % 5 === 0 && col("k") % 7 =!= 0)
      .select(col("k"), lit("WEB").as("u_seg"), (col("bal") + 100).as("u_bal"))
    val del = t.filter(col("k") % 7 === 0).select("k")
    val ins = t.filter(col("k") % 5 === 1)
      .select((col("k") + 10000000L).as("k"), col("seg"), col("bal"))
    t.join(upd, Seq("k"), "left_outer")
      .join(del, Seq("k"), "left_anti")
      .select(col("k"), coalesce(col("u_seg"), col("seg")).as("seg"),
        r2(coalesce(col("u_bal"), col("bal"))).as("bal"))
      .unionAll(ins.select(col("k"), col("seg"), r2(col("bal")).as("bal")))
      .orderBy("k")
  }

  // --- q54: retention cohort matrix — the "did users who arrived in
  // month X come back in month X+n" table behind every growth
  // dashboard. Cohort = each customer's FIRST order month (one
  // keyed min aggregate — per-customer state is one row); activity
  // joins back on the SAME customer key, so the aggregate and the
  // join co-partition (at scale: two custkey-hashed exchanges, AQE
  // can reuse the first for the second); the final exact
  // count-distinct groups by (cohort, offset) — cardinality bounded
  // by months², not rows. Nothing windows, nothing broadcasts a
  // customer-sized side.
  val q54_retention_cohorts: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("mi"))
    val first = o.groupBy("o_custkey").agg(min("mi").as("cohort_mi"))
    o.join(first, Seq("o_custkey"))
      .groupBy(col("cohort_mi"), (col("mi") - col("cohort_mi")).as("months_since"))
      .agg(countDistinct("o_custkey").as("n_active"))
      .select(floor(col("cohort_mi") / 12).cast("long").as("cohort_y"),
        (col("cohort_mi") % 12 + 1).cast("long").as("cohort_m"),
        col("months_since").cast("long").as("months_since"),
        col("n_active"))
      .orderBy("cohort_y", "cohort_m", "months_since")
  }

  /** q53's fact pre-filter — the SHARED subplan the query builds on
    * and the spec measures in isolation (survivor set = superset of
    * true matches with bounded false-positive overshoot), so the
    * verified sketch parameters can't drift from the shipped query's.
    */
  def bloomSurvivors(s: SparkSession, d: String): DataFrame = {
    val bloom = segmentKeys(s, d)
      .agg(graft.functions.GraftFunctions
        .bloomAgg("c_custkey", numBits = 1 << 18, numHashes = 5).as("bf"))
      .head().getAs[Array[Byte]](0)
    Tables.orders(s, d).filter(graft.functions.GraftFunctions
      .bloomMightContain("o_custkey", bloom, numHashes = 5))
  }

  // --- q47: exact top-k frequent tokens via a bounded mergeable
  // summary (Misra–Gries candidates → exact re-count). q01/q02's
  // exact formulation shuffles one row per DISTINCT token — the
  // full vocabulary, corpus-sized at web scale. Here pass 1 reduces
  // each task's slice to a ≤ 4096-entry graft_heavy_hitters summary
  // before the exchange (shuffle = O(tasks × capacity), vocabulary-
  // independent) and guarantees every token more frequent than
  // n/4097 survives as a candidate; pass 2 re-counts ONLY the
  // candidates (codegen'd InSet filter, ≤ 4096 grouping keys), so
  // the result is exact and deterministic — summary contents vary
  // with merge order, the verified top-20 does not. Exactness needs
  // the 20th token above the n/4097 guarantee line, comfortably true
  // for natural-language top tokens at any corpus size (the spec
  // asserts the margin; the DuckDB oracle asserts the equality).
  val q47_heavy_hitters: Q = (s, d) => {
    def toks = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val summary = toks
      .agg(graft.functions.GraftFunctions.heavyHitters("word", 4096).as("hh"))
      .head().getStruct(0)
    val cands = summary.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    toks.filter(col("word").isin(cands: _*))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)
  }

  // --- q48: staged conversion funnel (view → click → purchase, each
  // stage's FIRST event at-or-after the previous stage's time). The
  // classic sequential-pattern query, built from per-stage keyed MIN
  // aggregates chained by join — not a per-user ordered window scan:
  // every shuffle is user-keyed (arbitrarily parallel), per-stage
  // state is one row per surviving user, and each stage's input is
  // filtered to one event type before it shuffles. The stage joins
  // shrink monotonically (funnel ⊆ funnel), so AQE can broadcast the
  // later stages against the filtered fact slices at scale.
  // --- q50: peak concurrency (interval-overlap sweep line) — the
  // "how many sessions were open at once, and when did the peak
  // happen" question. Each event spawns a deterministic interval
  // [ts, ts + 1800+id%1800 s); the sweep explodes it into (+1 at
  // start, −1 at end-exclusive) deltas and the answer is the max of
  // the GLOBAL running sum in (t, delta) order — a total order over
  // 2n rows, which naively is pp04's single-partition-window
  // anti-pattern. Scale shape: the range-partitioned two-pass cumsum
  // (bucket-local windows + a bucket-count-sized prefix table), then
  // ONE struct-max aggregation picks (peak, first t at peak) — no
  // second pass over the summed rows. All integer µs/counts.
  val q50_peak_concurrency: Q = (s, d) => {
    val iv = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("s_us"))
      .select(col("s_us"),
        (col("s_us") + (lit(1800L) + pmod(col("event_id"), lit(1800L)))
          * lit(1000000L)).as("e_us"))
    val sweep = iv.select(col("s_us").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("e_us").as("t"), lit(-1L).as("delta")))
    val data = sweep.repartitionByRange(32, col("t"), col("delta"))
      .withColumn("__bkt", spark_partition_id())
      .localCheckpoint(true) // pin bucket bounds across the two passes
    val wOff = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    // bucket-count-sized: the only unpartitioned window
    val offsets = data.groupBy("__bkt").agg(sum("delta").as("__bn"))
      .withColumn("__off", coalesce(sum("__bn").over(wOff), lit(0L)))
      .select("__bkt", "__off")
    val wCum = Window.partitionBy("__bkt").orderBy("t", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data.withColumn("__pc", sum("delta").over(wCum))
      .join(broadcast(offsets), Seq("__bkt"))
      .select(col("t"), (col("__pc") + col("__off")).as("conc"))
      // lexicographic struct max = (max conc, then min t): one pass
      .agg(max(struct(col("conc").as("c"), (-col("t")).as("nt"))).as("m"))
      .select(col("m.c").as("peak"), (-col("m.nt")).as("t_peak_us"))
  }

  // --- q49: explicit GROUPING SETS — the general form whose special
  // cases are q13's rollup and q45's cube: arbitrary, even unrelated
  // sets ((rf, ls), (shipmode), ()) in ONE Expand-fed
  // partial-aggregated shuffle — 3 grouping sets, one facts scan, no
  // per-set rescan or union of aggregates. grouping_id() over the 3
  // grouping columns disambiguates a real 'ALL' value from an
  // aggregated-away dimension, exactly as in q45.
  val q49_grouping_sets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("ship_year", year(col("l_shipdate")).cast("string"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")), Seq()),
        col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(r2(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        coalesce(col("ship_year"), lit("ALL")).as("sy"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy("gid", "rf", "ls", "sy")

  val q48_funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    def stage(tpe: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === tpe)
        .join(prev, Seq("user_id"))
        .filter(col("ts") >= col(prevTs))
        .groupBy("user_id").agg(min("ts").as(outTs))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val clicks = stage("click", views, "tv", "tc")
    val buys = stage("purchase", clicks, "tc", "tp")
    // one row per viewing user with the stage times it reached; the
    // summary is a single partial-aggregated count over that — all
    // joins stay user-keyed (count(col) skips the NULLs of users who
    // dropped out, so no single-row join assembly is needed)
    val counts = views
      .join(clicks, Seq("user_id"), "left_outer")
      .join(buys, Seq("user_id"), "left_outer")
      .agg(count("tv").as("n_view"), count("tc").as("n_click"),
        count("tp").as("n_purchase"))
    counts.select(col("n_view"), col("n_click"), col("n_purchase"),
      r4(col("n_click").cast("double") / col("n_view")).as("view_to_click"),
      r4(col("n_purchase").cast("double") / col("n_click")).as("click_to_purchase"))
  }

  // --- q14: post-aggregation filter (HAVING) ---
  val q14_having: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(r2(sum("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .filter(col("sum_qty") > 100)
      .orderBy("l_partkey")

  // --- q15: conditional aggregation ---
  val q15_case_agg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        r2(sum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0))).as("f_total"),
        count(when(col("o_orderstatus") === "O", lit(1))).as("o_cnt"),
        r2(avg(when(col("o_orderstatus") === "F", col("o_totalprice")))).as("f_avg"))
      .orderBy("o_orderpriority")

  // --- q16: window functions: running sum / lag / row_number ---
  val q16_window_funcs: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("run_sum", r2(sum("value").over(run)))
      .withColumn("prev_val", r2(coalesce(lag("value", 1).over(ord), lit(-1.0))))
      .withColumn("rn", row_number().over(ord).cast("long"))
      .select("event_id", "user_id", "run_sum", "prev_val", "rn")
      .orderBy("event_id")
  }

  // --- q17: gap-based sessionization (batch analog of the stream op) ---
  val q17_sessionize: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(ord))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess_id", sum("new_s").over(run))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_events"),
        r4(avg("n_events")).as("avg_events"))
      .orderBy("user_id")
  }

  // --- q18: tumbling time-window aggregation (bolt over time buckets) ---
  val q18_time_window: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("total"))
      .orderBy("hour_ts", "event_type")

  // --- q19: correlated scalar subquery (TPC-H Q17 shape) ---
  val q19_scalar_subquery: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val thresholds = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((avg("l_quantity") * 0.5).as("thr"))
    li.join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#13").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(thresholds, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("thr"))
      .agg(r2(sum("l_extendedprice") / 7.0).as("avg_yearly"))
  }

  // --- q20: union all + agg (topology fan-in) ---
  val q20_union: Q = (s, d) => {
    val o = Tables.orders(s, d).select("o_orderstatus", "o_totalprice", "o_orderpriority")
    o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderstatus", "o_totalprice")
      .unionAll(o.filter(col("o_totalprice") > 200000).select("o_orderstatus", "o_totalprice"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), r2(sum("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  // --- q21: string transform pipeline (spout convertFn analog) ---
  val q21_string_funcs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).cast("long").as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        regexp_replace(col("c_mktsegment"), "A", "_").as("seg_repl"),
        concat(col("c_mktsegment"), lit(":"), col("c_custkey").cast("string")).as("tag"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"))
      .orderBy("c_custkey")

  // --- q22: date extraction / bucketing ---
  val q22_date_funcs: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"))
      .agg(count(lit(1)).as("n"), r2(sum("o_totalprice")).as("total"))
      .orderBy("y", "q")

  // --- q23: exact interpolated percentiles ---
  // `percentile` buffers a value→count map per group: exact and safe
  // for the bounded-cardinality l_quantity (50 distinct values at any
  // scale), a blow-up for the high-cardinality l_extendedprice — its
  // p95 comes from [[Quantiles.groupQuantile]]'s distributed
  // sort + rank selection instead (same quantile_cont semantics, no
  // per-group buffer).
  val q23_percentiles: Q = (s, d) => {
    // ONE lineitem scan for both percentile families (r22): the qty
    // aggregate and the p95 distributed sort each consumed their own
    // full scan (and the sort's range sampling re-evaluated its input
    // a second time). A lazy localCheckpoint of the 3-column
    // projection pins the scan once; the aggregate, the range
    // sampler and the sort shuffle all read the pinned blocks.
    val li = Tables.lineitem(s, d)
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .localCheckpoint(false)
    val qty = li.groupBy("l_returnflag")
      .agg(
        r2(expr("percentile(l_quantity, 0.25)")).as("p25"),
        r2(expr("percentile(l_quantity, 0.5)")).as("p50"),
        r2(expr("percentile(l_quantity, 0.75)")).as("p75"))
    val p95 = Quantiles.groupQuantile(li, "l_returnflag", "l_extendedprice", 0.95)
      .select(col("l_returnflag"), r2(col("q_value")).as("price_p95"))
    // left join: a group whose prices are all NULL has no p95 row but
    // must keep its quantity percentiles (price_p95 NULL), matching
    // the single-aggregate shape. Explicit broadcast (r21): both sides
    // are group-count-sized (|distinct l_returnflag|) but arrive from
    // aggregations whose size estimates are useless, so the planner
    // fell back to a SortMergeJoin — 2 exchanges + 2 sorts over 3-row
    // inputs; the hint pins the group-count-bounded side hashed.
    qty.join(broadcast(p95), Seq("l_returnflag"), "left_outer")
      .orderBy("l_returnflag")
  }

  // --- q24: argmax per group (min_by/max_by semantics, deterministic) ---
  // max_by over a lexicographic struct key, NOT a row_number window:
  // l_returnflag has 3 values, so a window partitioned by it lands the
  // whole table on 3 tasks and sorts each third — at 100 TB that's 3
  // reducers sorting ~33 TB apiece. The aggregate gets map-side partial
  // combine (each task keeps one candidate per flag) and the exchange
  // carries 3 rows per task. Ties break exactly like the window's
  // ORDER BY (price DESC, orderkey ASC, linenumber ASC): maximizing
  // (price, -orderkey, -linenumber) is that order.
  val q24_first_last: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .groupBy("l_returnflag")
      .agg(max_by(
        struct(col("l_orderkey"), col("l_extendedprice")),
        struct(col("l_extendedprice"),
          (-col("l_orderkey")).as("nk"),
          (-col("l_linenumber")).as("nl"))).as("top"))
      .select(col("l_returnflag"), col("top.l_orderkey").as("top_orderkey"),
        r2(col("top.l_extendedprice")).as("top_price"))
      .orderBy("l_returnflag")

  // --- q25: semi-structured JSON extraction ---
  val q25_json: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(r4(avg("k")).as("avg_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  // --- q26: pivot (wide conditional aggregation) ---
  val q26_pivot: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(r2(sum("o_totalprice")))
      .select(col("o_orderpriority"), col("F").as("f_total"),
        col("O").as("o_total"), col("P").as("p_total"))
      .orderBy("o_orderpriority")

  // --- q27: null handling (coalesce / nullif / null-aware agg) ---
  val q27_nulls: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(none)")).as("seg2"),
        when(col("c_acctbal") < 0, lit(null)).otherwise(r2(col("c_acctbal"))).as("pos_bal"))
      .groupBy("seg2")
      .agg(count(lit(1)).as("n_rows"), count(col("pos_bal")).as("n_pos"),
        r2(sum(coalesce(col("pos_bal"), lit(0.0)))).as("pos_sum"))
      .orderBy("seg2")

  // --- q28: deterministic hash sampling (reproducible 1/16 sample) ---
  val q28_sample_hash: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), r2(avg("o_totalprice")).as("avg_price"))
      .orderBy("o_orderstatus")

  // --- q29: as-of join (each purchase matched to the latest prior
  // click of the same user). Composed from a union + running max —
  // preference (a) of the custom-operator ladder: expressible with
  // existing ops, so Catalyst keeps planning freedom (one hash
  // exchange on user_id, no custom physical operator needed).
  // Oracle: DuckDB's native ASOF JOIN.
  val q29_asof_join: Q = (s, d) => {
    val tagged = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("tag"))
    // clicks sort before purchases at equal ts, matching ASOF's >=
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click_us",
        max(when(col("tag") === 0, unix_micros(col("ts")))).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        coalesce(date_format(timestamp_micros(col("last_click_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("-")).as("click_ts"))
      .orderBy("event_id")
  }

  // --- q30: set operations (INTERSECT / EXCEPT) ---
  val q30_setops: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val recent = li.filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01")))
      .select("l_partkey")
    val bulky = li.filter(col("l_quantity") >= 40).select("l_partkey")
    val both = recent.intersect(bulky).withColumn("which", lit("both"))
    val onlyRecent = recent.except(bulky).withColumn("which", lit("recent_only"))
    both.unionAll(onlyRecent)
      .groupBy("which").agg(count(lit(1)).as("n_parts"))
      .orderBy("which")
  }

  // --- q31: ordered array aggregation (collect + sort + join) ---
  val q31_arrayagg: Q = (s, d) =>
    Tables.nation(s, d)
      .groupBy("n_regionkey")
      .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n"))
      .select(col("n_regionkey").cast("long").as("regionkey"), col("nations"), col("n"))
      .orderBy("regionkey")

  // --- q32: statistical aggregates (stddev / corr / covar) ---
  // corr/covar can land on IEEE -0.0 (DuckDB covar_samp emits the
  // negative-zero bit pattern where Spark emits +0.0 — equal values,
  // different bytes under the driver's hash). `+ 0.0` normalizes:
  // -0.0 + 0.0 = +0.0 in both engines; the oracle applies the same.
  val q32_stats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        (r4(corr(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("corr_qp"),
        (r4(covar_samp(col("l_discount"), col("l_tax"))) + lit(0.0)).as("cov_dt"))
      .orderBy("l_returnflag")

  // --- q33: regex extraction / matching ---
  val q33_regex: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract(col("text"), "(spark|vector|stream)", 1).as("first_kw"),
        when(col("text").rlike("join .* join"), 1L).otherwise(0L).as("double_join"))
      .groupBy("first_kw")
      .agg(count(lit(1)).as("n"), sum("double_join").as("n_double"))
      .orderBy("first_kw")

  // --- q34: sketch-based approximate aggregates (HLL++ / KLL-style)
  // rows-only: sketch estimates aren't ANSI-SQL-reproducible; the
  // spec bounds them against exact answers instead. These are the
  // 100 TB substitutes for q12/q23 when exactness isn't required —
  // fixed-size state, one pass, mergeable partials.
  val q34_approx: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("apx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5)").as("apx_median"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // --- q35: time-range window frame (moving 1-hour sum per user) ---
  val q35_range_window: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("hour_sum", r2(sum("value").over(w)))
      .withColumn("hour_n", count(lit(1)).over(w))
      .select("event_id", "user_id", "hour_sum", "hour_n")
      .orderBy("event_id")
  }

  // --- q36: window navigation (first/last/nth value over frames) ---
  val q36_window_nav: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("first_v", r2(first("value").over(full)))
      .withColumn("last_v", r2(last("value").over(full)))
      .withColumn("second_v", r2(coalesce(nth_value(col("value"), 2).over(full), lit(-1.0))))
      .select("event_id", "user_id", "first_v", "last_v", "second_v")
      .orderBy("event_id")
  }

  // --- q37: distribution windows (ntile / percent_rank / cume_dist) ---
  val q37_window_dist: Q = (s, d) => {
    val ord = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(ord).cast("long"))
      .withColumn("pct_rank", r4(percent_rank().over(ord)))
      .withColumn("cume", r4(cume_dist().over(ord)))
      .select("o_orderkey", "o_orderpriority", "quartile", "pct_rank", "cume")
      .orderBy("o_orderkey")
  }

  // --- q38: conjunctive EXISTS / NOT EXISTS on the same relation ---
  val q38_multi_exists: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    Tables.orders(s, d)
      .join(li.filter(col("l_quantity") > 48).select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .join(li.filter(col("l_discount") > 0.09).select(col("l_orderkey").as("lk2")),
        col("o_orderkey") === col("lk2"), "left_anti")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // --- q39: dense grid (cross join + left join fill) ---
  val q39_dense_grid: Q = (s, d) => {
    val grid = Tables.region(s, d).select(col("r_name"))
      .crossJoin(Tables.orders(s, d).select(col("o_orderstatus").as("status")).distinct())
    val actual = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("r_name").as("g_rname"), col("o_orderstatus").as("g_status"))
      .agg(count(lit(1)).as("n"))
    grid.join(actual,
        col("r_name") === col("g_rname") && col("status") === col("g_status"),
        "left_outer")
      .select(col("r_name"), col("status"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("r_name", "status")
  }

  // --- q40: time-series resample to an hourly grid + forward fill ---
  // Grid rows interleave with (deduped) observations per user; a
  // last-non-null window does the fill — one shuffle on user_id,
  // the same shape at any corpus size. Oracle: DuckDB ASOF join.
  val q40_resample_ffill: Q = (s, d) => {
    val unioned = resampleUnion(s, d)
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("user_id"),
        date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm").as("hour_ts"),
        r2(coalesce(col("filled"), lit(-1.0))).as("val"))
      .orderBy("user_id", "hour_ts")
  }

  // --- q41: equal-width histogram (binning over a computed range) ---
  val q41_histogram: Q = (s, d) => {
    val bounds = Tables.orders(s, d)
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    Tables.orders(s, d).crossJoin(broadcast(bounds))
      .select(least(floor((col("o_totalprice") - col("lo")) * 10 /
        (col("hi") - col("lo"))), lit(9L)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  // --- q42: local-supplier revenue (TPC-H Q5 shape) — 6-table join
  // where customer and supplier must share a nation (the classic
  // "join condition beyond the keys" case). Facts shuffle on their
  // join keys; nation/region/supplier broadcast.
  val q42_local_supplier: Q = (s, d) =>
    Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("revenue").desc, col("n_name"))

  // --- q43: per-group top-N via the bounded graft_topk aggregate —
  // same semantics and output as q03, different engine path. q03's
  // row_number window shuffles and sorts EVERY row of every group;
  // here the reference's bounded top-N bolt monoid
  // (WordCountSample.hs:118-216) runs as a native
  // TypedImperativeAggregate, so map-side partial aggregation cuts
  // each task's slice to ≤ N pairs per group BEFORE the exchange —
  // shuffle volume independent of row count. The spec asserts
  // q43 ≡ q03 and that the plan has no Window and a partial_graft_topk.
  // Contract nuance vs q03: graft_topk ranks NON-NULL scores only
  // (the oracle filters likewise); a window ranks null scores last
  // and would emit them in groups with < N non-null rows.
  val q43_topn_heap: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.GraftFunctions
        .topK("o_totalprice", "o_orderkey", 5).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("o_orderpriority"), col("p.id").as("o_orderkey"),
        r2(col("p.score")).as("price"), (col("i") + 1).cast("long").as("rn"))
      .orderBy("o_orderpriority", "rn")

  // --- q44: bounded time-range self-join (follow-within-10-minutes
  // event pairs per user) via time-bin blocking. The naive plan for
  // `b.ts in (a.ts, a.ts + w]` is a BroadcastNestedLoopJoin — the
  // range-join trap. Blocking restores an equi-join: with bins of
  // exactly the window width, any qualifying partner lives in the
  // anchor's bin or the next one, so the anchor side explodes into
  // those two bins (integer `div`, no float rounding) and joins on
  // (user_id, bin); the exact range predicate then filters candidates.
  // Candidates per key are bounded by a 2-bin slice of one user —
  // the same blocking discipline as dd02/dd03, in the time dimension.
  // All outputs are integer µs arithmetic: exact on both engines.
  val q44_range_join: Q = (s, d) => {
    val winUs = 600000000L // 10 min in µs = the bin width
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("user_id"), col("us").as("a_us"),
        expr(s"explode(array(us div $winUs, us div $winUs + 1))").as("bin"))
    val b = ev.select(col("user_id"), col("us").as("b_us"),
      expr(s"us div $winUs").as("bin"))
    a.join(b, Seq("user_id", "bin"))
      .filter(col("b_us") > col("a_us") && col("b_us") <= col("a_us") + winUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        max(col("b_us") - col("a_us")).as("max_gap_us"),
        min(col("b_us") - col("a_us")).as("min_gap_us"))
      .orderBy("user_id")
  }

  val registry: Map[String, Q] = Map(
    "q44_range_join" -> q44_range_join,
    "q43_topn_heap" -> q43_topn_heap,
    "q42_local_supplier" -> q42_local_supplier,
    "q41_histogram" -> q41_histogram,
    "q40_resample_ffill" -> q40_resample_ffill,
    "q38_multi_exists" -> q38_multi_exists,
    "q39_dense_grid" -> q39_dense_grid,
    "q35_range_window" -> q35_range_window,
    "q36_window_nav" -> q36_window_nav,
    "q37_window_dist" -> q37_window_dist,
    "q34_approx" -> q34_approx,
    "q30_setops" -> q30_setops,
    "q31_arrayagg" -> q31_arrayagg,
    "q32_stats" -> q32_stats,
    "q33_regex" -> q33_regex,
    "q29_asof_join" -> q29_asof_join,
    "q26_pivot" -> q26_pivot,
    "q27_nulls" -> q27_nulls,
    "q28_sample_hash" -> q28_sample_hash,
    "q01_wordcount" -> q01_wordcount,
    "q02_topn_global" -> q02_topn_global,
    "q03_topn_group" -> q03_topn_group,
    "q04_agg" -> q04_agg,
    "q05_filter_project" -> q05_filter_project,
    "q06_join_broadcast" -> q06_join_broadcast,
    "q07_join_shuffle" -> q07_join_shuffle,
    "q08_multi_join" -> q08_multi_join,
    "q09_outer_join" -> q09_outer_join,
    "q10_semi_join" -> q10_semi_join,
    "q11_anti_join" -> q11_anti_join,
    "q12_distinct" -> q12_distinct,
    "q13_rollup" -> q13_rollup,
    "q45_cube" -> q45_cube,
    "q46_sketch_rollup" -> q46_sketch_rollup,
    "q47_heavy_hitters" -> q47_heavy_hitters,
    "q48_funnel" -> q48_funnel,
    "q49_grouping_sets" -> q49_grouping_sets,
    "q50_peak_concurrency" -> q50_peak_concurrency,
    "q51_bitmap_rollup" -> q51_bitmap_rollup,
    "q52_quantile_rollup" -> q52_quantile_rollup,
    "q53_bloom_semijoin" -> q53_bloom_semijoin,
    "q54_retention_cohorts" -> q54_retention_cohorts,
    "q55_resample_interp" -> q55_resample_interp,
    "q56_merge_upsert" -> q56_merge_upsert,
    "q57_session_paths" -> q57_session_paths,
    "q58_bitmap64_rollup" -> q58_bitmap64_rollup,
    "q14_having" -> q14_having,
    "q15_case_agg" -> q15_case_agg,
    "q16_window_funcs" -> q16_window_funcs,
    "q17_sessionize" -> q17_sessionize,
    "q18_time_window" -> q18_time_window,
    "q19_scalar_subquery" -> q19_scalar_subquery,
    "q20_union" -> q20_union,
    "q21_string_funcs" -> q21_string_funcs,
    "q22_date_funcs" -> q22_date_funcs,
    "q23_percentiles" -> q23_percentiles,
    "q24_first_last" -> q24_first_last,
    "q25_json" -> q25_json)

  val oracles: Map[String, String] = Map(
    "q42_local_supplier" ->
      """SELECT r_name, n_name,
        |  round((sum(l_extendedprice * (1 - l_discount))) * 100) / 100 AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, revenue DESC, n_name""".stripMargin,
    "q41_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        |SELECT least(CAST(floor((o_totalprice - lo) * 10 / (hi - lo)) AS BIGINT), 9) AS bin,
        |  count(*) AS n
        |FROM orders, b GROUP BY bin ORDER BY bin""".stripMargin,
    "q40_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, max(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT epoch_us(date_trunc('hour', min(ts))) AS h0,
        |             epoch_us(date_trunc('hour', max(ts))) AS h1 FROM events),
        |grid AS (
        |  SELECT u.user_id, g.us
        |  FROM (SELECT DISTINCT user_id FROM events) u, b,
        |       LATERAL (SELECT unnest(generate_series(b.h0, b.h1, 3600000000)) AS us) g)
        |SELECT g.user_id,
        |  strftime(make_timestamp(g.us), '%Y-%m-%d %H:%M') AS hour_ts,
        |  round(coalesce(e.v, -1.0) * 100) / 100 AS val
        |FROM grid g ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.us >= e.us
        |ORDER BY g.user_id, hour_ts""".stripMargin,
    "q38_multi_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 48)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q39_dense_grid" ->
      """WITH grid AS (
        |  SELECT r_name, status FROM region
        |  CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) st),
        |actual AS (
        |  SELECT r_name AS g_rname, o_orderstatus AS g_status, count(*) AS n
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN orders ON c_custkey = o_custkey
        |  GROUP BY g_rname, g_status)
        |SELECT r_name, status, coalesce(n, 0) AS n
        |FROM grid LEFT JOIN actual ON r_name = g_rname AND status = g_status
        |ORDER BY r_name, status""".stripMargin,
    "q35_range_window" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w * 100) / 100 AS hour_sum,
        |  count(*) OVER w AS hour_n
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q36_window_nav" ->
      """SELECT event_id, user_id,
        |  round(first_value(value) OVER w * 100) / 100 AS first_v,
        |  round(last_value(value) OVER w * 100) / 100 AS last_v,
        |  round(coalesce(nth_value(value, 2) OVER w, -1.0) * 100) / 100 AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q37_window_dist" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w * 10000) / 10000 AS pct_rank,
        |  round(cume_dist() OVER w * 10000) / 10000 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q30_setops" ->
      """WITH recent AS (SELECT l_partkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'),
        |bulky AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 40),
        |u AS (
        |  SELECT l_partkey, 'both' AS which FROM (SELECT * FROM recent INTERSECT SELECT * FROM bulky) a
        |  UNION ALL
        |  SELECT l_partkey, 'recent_only' AS which FROM (SELECT * FROM recent EXCEPT SELECT * FROM bulky) b)
        |SELECT which, count(*) AS n_parts FROM u GROUP BY which ORDER BY which""".stripMargin,
    "q31_arrayagg" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY regionkey""".stripMargin,
    "q32_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity) * 10000) / 10000 AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice) * 10000) / 10000 + 0.0 AS corr_qp,
        |  round(covar_samp(l_discount, l_tax) * 10000) / 10000 + 0.0 AS cov_dt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q33_regex" ->
      """SELECT first_kw, count(*) AS n, CAST(sum(double_join) AS BIGINT) AS n_double FROM (
        |  SELECT doc_id, regexp_extract(text, '(spark|vector|stream)', 1) AS first_kw,
        |    CASE WHEN regexp_matches(text, 'join .* join') THEN 1 ELSE 0 END AS double_join
        |  FROM documents) t
        |GROUP BY first_kw ORDER BY first_kw""".stripMargin,
    "q29_asof_join" ->
      """SELECT e.event_id, e.user_id,
        |  coalesce(strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f'), '-') AS click_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY e.event_id""".stripMargin,
    "q26_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) * 100) / 100 AS f_total,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) * 100) / 100 AS o_total,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) * 100) / 100 AS p_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q27_nulls" ->
      """SELECT seg2, count(*) AS n_rows, count(pos_bal) AS n_pos,
        |  round(sum(coalesce(pos_bal, 0.0)) * 100) / 100 AS pos_sum
        |FROM (SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS seg2,
        |        CASE WHEN c_acctbal < 0 THEN NULL
        |             ELSE round(c_acctbal * 100) / 100 END AS pos_bal
        |      FROM customer) t
        |GROUP BY seg2 ORDER BY seg2""".stripMargin,
    "q28_sample_hash" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(avg(o_totalprice) * 100) / 100 AS avg_price
        |FROM orders WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q01_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "q48_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
        |      JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts >= v.tv GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
        |      JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.tc GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_click,
        |       (SELECT count(*) FROM p) AS n_purchase,
        |       round(((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v)) * 10000) / 10000 AS view_to_click,
        |       round(((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c)) * 10000) / 10000 AS click_to_purchase""".stripMargin,
    // exact by construction (candidate superset + exact re-count), so
    // the oracle is the plain exact top-20 — the gate verifies the
    // sketch-then-verify plan reproduces it
    "q47_heavy_hitters" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "q02_topn_global" ->
      """SELECT o_orderkey, round((o_totalprice) * 100) / 100 AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 50""".stripMargin,
    "q03_topn_group" ->
      """SELECT o_orderpriority, o_orderkey, round((o_totalprice) * 100) / 100 AS price, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
    "q44_range_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  max(b.us - a.us) AS max_gap_us, min(b.us - a.us) AS min_gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us > a.us AND b.us <= a.us + 600000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "q43_topn_heap" ->
      """SELECT o_orderpriority, o_orderkey, round((o_totalprice) * 100) / 100 AS price, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders WHERE o_totalprice IS NOT NULL) t
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
    "q04_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty,
        |  round((sum(l_extendedprice)) * 100) / 100 AS sum_base_price,
        |  round((sum(l_extendedprice * (1 - l_discount))) * 100) / 100 AS sum_disc_price,
        |  round((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100) / 100 AS sum_charge,
        |  round((avg(l_quantity)) * 100) / 100 AS avg_qty,
        |  round((avg(l_extendedprice)) * 100) / 100 AS avg_price,
        |  round((avg(l_discount)) * 10000) / 10000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q05_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenum,
        |  round((l_extendedprice * (1 - l_discount)) * 100) / 100 AS disc_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, linenum""".stripMargin,
    "q06_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_cust, round((avg(c_acctbal)) * 100) / 100 + 0.0 AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q07_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round((sum(l_extendedprice * (1 - l_discount))) * 100) / 100 AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q08_multi_join" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round((sum(l_extendedprice * (1 - l_discount))) * 100) / 100 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01' AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o_orderkey, orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q09_outer_join" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q10_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q11_anti_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_shipdate >= TIMESTAMP '2001-01-01')
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q12_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status, count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "q45_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY gid, rf, ls""".stripMargin,
    "q49_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  coalesce(ship_year, 'ALL') AS sy,
        |  CAST(GROUPING(l_returnflag, l_linestatus, ship_year) AS BIGINT) AS gid,
        |  round((sum(l_quantity)) * 100) / 100 AS sum_qty, count(*) AS n
        |FROM (SELECT *, CAST(year(l_shipdate) AS VARCHAR) AS ship_year FROM lineitem)
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        |ORDER BY gid, rf, ls, sy""".stripMargin,
    "q50_peak_concurrency" ->
      """WITH iv AS (SELECT epoch_us(ts) AS s_us,
        |    epoch_us(ts) + (1800 + event_id % 1800) * 1000000 AS e_us FROM events),
        |sweep AS (SELECT s_us AS t, 1 AS delta FROM iv
        |          UNION ALL SELECT e_us, -1 FROM iv),
        |c AS (SELECT t, sum(delta) OVER (ORDER BY t, delta
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |      FROM sweep)
        |SELECT CAST(conc AS BIGINT) AS peak, CAST(t AS BIGINT) AS t_peak_us
        |FROM c ORDER BY conc DESC, t ASC LIMIT 1""".stripMargin,
    "q51_bitmap_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY y ORDER BY y""".stripMargin,
    "q58_bitmap64_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(count(DISTINCT o_custkey * 4294967311) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY y ORDER BY y""".stripMargin,
    "q57_session_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |x AS (SELECT user_id, us, event_id, event_type,
        |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM x),
        |p AS (SELECT user_id, sess_id,
        |        array_to_string((list(event_type ORDER BY us, event_id))[1:8], '>') AS path
        |      FROM s GROUP BY user_id, sess_id)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q56_merge_upsert" ->
      """WITH t AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
        |           FROM customer),
        |upd AS (SELECT k, 'WEB' AS u_seg, bal + 100 AS u_bal
        |        FROM t WHERE k % 5 = 0 AND k % 7 <> 0),
        |del AS (SELECT k FROM t WHERE k % 7 = 0),
        |ins AS (SELECT k + 10000000 AS k, seg, bal FROM t WHERE k % 5 = 1)
        |SELECT k, seg, bal FROM (
        |  SELECT t.k, coalesce(u.u_seg, t.seg) AS seg,
        |    round((coalesce(u.u_bal, t.bal)) * 100) / 100 AS bal
        |  FROM t LEFT JOIN upd u USING (k)
        |  WHERE t.k NOT IN (SELECT k FROM del)
        |  UNION ALL
        |  SELECT k, seg, round(bal * 100) / 100 AS bal FROM ins) z
        |ORDER BY k""".stripMargin,
    "q55_resample_interp" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, max(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT epoch_us(date_trunc('hour', min(ts))) AS h0,
        |             epoch_us(date_trunc('hour', max(ts))) AS h1 FROM events),
        |grid AS (
        |  SELECT u.user_id, g.us
        |  FROM (SELECT DISTINCT user_id FROM events) u, b,
        |       LATERAL (SELECT unnest(generate_series(b.h0, b.h1, 3600000000)) AS us) g),
        |u AS (
        |  SELECT user_id, us, 0 AS tag, v, us AS ev_us FROM ev
        |  UNION ALL
        |  SELECT user_id, us, 1 AS tag, NULL, NULL FROM grid),
        |w AS (
        |  SELECT user_id, us, tag,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(ev_us IGNORE NULLS) OVER wp AS pus,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(ev_us IGNORE NULLS) OVER wn AS nus
        |  FROM u
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY us, tag
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY us, tag
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id,
        |  strftime(make_timestamp(us), '%Y-%m-%d %H:%M') AS hour_ts,
        |  round((CASE WHEN pv IS NULL AND nv IS NULL THEN -1.0
        |              WHEN pv IS NULL THEN nv
        |              WHEN nv IS NULL THEN pv
        |              ELSE pv + (nv - pv) * (CAST(us - pus AS DOUBLE) / CAST(nus - pus AS DOUBLE))
        |         END) * 100) / 100 AS val
        |FROM w WHERE tag = 1 ORDER BY user_id, hour_ts""".stripMargin,
    "q54_retention_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
        |  FROM orders),
        |f AS (SELECT o_custkey, min(mi) AS cohort_mi FROM o GROUP BY o_custkey)
        |SELECT CAST(floor(cohort_mi / 12) AS BIGINT) AS cohort_y,
        |  CAST(cohort_mi % 12 + 1 AS BIGINT) AS cohort_m,
        |  CAST(o.mi - f.cohort_mi AS BIGINT) AS months_since,
        |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
        |FROM o JOIN f ON o.o_custkey = f.o_custkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q53_bloom_semijoin" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  count(*) AS n_orders,
        |  round((sum(o_totalprice)) * 100) / 100 AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY y, m ORDER BY y, m""".stripMargin,
    "q14_having" ->
      """SELECT l_partkey, round((sum(l_quantity)) * 100) / 100 AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_partkey HAVING round((sum(l_quantity)) * 100) / 100 > 100
        |ORDER BY l_partkey""".stripMargin,
    "q15_case_agg" ->
      """SELECT o_orderpriority,
        |  round((sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END)) * 100) / 100 AS f_total,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
        |  round((avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)) * 100) / 100 AS f_avg
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q16_window_funcs" ->
      """SELECT event_id, user_id,
        |  round((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100) / 100 AS run_sum,
        |  round((coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1.0)) * 100) / 100 AS prev_val,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |c AS (SELECT user_id, sess_id, count(*) AS n_events FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
        |  round((avg(n_events)) * 10000) / 10000 AS avg_events
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q18_time_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type,
        |  count(*) AS n, round((sum(value)) * 100) / 100 AS total
        |FROM events GROUP BY hour_ts, event_type ORDER BY hour_ts, event_type""".stripMargin,
    "q19_scalar_subquery" ->
      """SELECT round((sum(l_extendedprice) / 7.0) * 100) / 100 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,
    "q20_union" ->
      """SELECT o_orderstatus, count(*) AS n, round((sum(o_totalprice)) * 100) / 100 AS total FROM (
        |  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 200000) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q21_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, CAST(length(c_name) AS BIGINT) AS name_len,
        |  substr(c_name, 1, 8) AS prefix, regexp_replace(c_mktsegment, 'A', '_', 'g') AS seg_repl,
        |  c_mktsegment || ':' || CAST(c_custkey AS VARCHAR) AS tag,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q22_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  count(*) AS n, round((sum(o_totalprice)) * 100) / 100 AS total
        |FROM orders GROUP BY y, q ORDER BY y, q""".stripMargin,
    "q23_percentiles" ->
      """SELECT l_returnflag,
        |  round((quantile_cont(l_quantity, 0.25)) * 100) / 100 AS p25,
        |  round((quantile_cont(l_quantity, 0.5)) * 100) / 100 AS p50,
        |  round((quantile_cont(l_quantity, 0.75)) * 100) / 100 AS p75,
        |  round((quantile_cont(l_extendedprice, 0.95)) * 100) / 100 AS price_p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q24_first_last" ->
      """SELECT l_returnflag, l_orderkey AS top_orderkey, round((l_extendedprice) * 100) / 100 AS top_price
        |FROM (SELECT l_returnflag, l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q25_json" ->
      """SELECT event_type, round((avg(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 10000) / 10000 AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
