package graft.dedup

import graft.Tables
import graft.text.TextAnalysis.{normText, toksExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.2 deduplication over `documents` — exact and near-dup, the core
  * of a training-data pipeline.
  *
  * Scale posture (100 TB): nothing here is all-pairs against the
  * corpus. Exact dedup is a hash groupBy (one shuffle on the
  * fingerprint). Near-dup candidates come from an inverted index
  * (shared shingle / LSH band bucket / simhash band), so the join is
  * shuffle-partitioned by block key and candidate volume is bounded
  * by block co-occurrence, not n². Ultra-hot blocks at scale get
  * df-capped (see scaladoc on each op) — the standard CCNet-style
  * guard — and AQE skew-join handles residual imbalance.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private def r4(c: Column) = round(c * 10000) / 10000

  // --- dd01: exact dedup on normalized-content fingerprint ---
  val dd01_exact: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  /** Distinct 3-token shingles per doc: the near-dup blocking key. */
  /** Distinct 3-token shingles per doc, keyed by their CODEGEN'D
    * rolling hash: the index column is an 8-byte long instead of a
    * ~30-byte string (≈4× less shuffle volume on the inverted-index
    * key), and the per-doc `array_distinct` replaces what used to be
    * a global `.distinct()` shuffle. Distinct hashes ≡ distinct
    * shingles modulo a 2^-64 collision — and the DuckDB oracle
    * computes Jaccard from the literal shingle strings, so the green
    * hash gate doubles as a collision-freeness proof (same argument
    * as dd09).
    */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.GraftFunctions.rollingHashes("t", 3))).as("s"))

  // --- dd02: n-gram Jaccard near-dup (inverted shingle index) ---
  // Candidate generation drops shingles with document frequency above
  // dfCap (the CCNet-style guard): a shingle shared by thousands of
  // documents contributes df² candidate rows while carrying no
  // near-dup signal — at corpus scale this cap is what keeps the
  // inverted-index join linear-ish. Intersections count surviving
  // shingles only (set sizes |A|,|B| stay exact), so scores for pairs
  // held together ONLY by ultra-common shingles shrink — by design.
  // The DuckDB oracle applies the same cap.
  val dfCap = 1000

  /** Shingle inverted index with the df cap applied. */
  private def cappedIndex(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("s")
    sh.join(rare, "s").select("doc_id", "s")
  }

  // The near-dup pair set is heavy to compute and tiny to hold
  // (candidate survivors only), and two operators consume it (dd02
  // output, dd06 clustering) — memoize the cached result per
  // (session, dir) under the shared [[graft.IndexLifecycle]]
  // register/evict contract.
  private val pairsLife = new graft.IndexLifecycle[DataFrame]("dd02-jaccard-pairs",
    release = (_, df) => df.unpersist())

  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    pairsLife.getOrBuild(s, d)(buildJaccardPairs(s, d).cache())

  // dd04's verified pair set is likewise consumed twice (dd04 output,
  // pp03 clustering) — same memo-and-cache treatment.
  private val mhPairsLife = new graft.IndexLifecycle[DataFrame]("dd04-minhash-pairs",
    release = (_, df) => df.unpersist())

  /** Release the memoized pair sets (exact AND MinHash) for a
    * (session, dir): unpersist the cached blocks and drop the
    * entries, so a long-lived session sweeping many corpus dirs
    * doesn't accumulate dead cache entries. Returns true if any entry
    * was released.
    */
  def evictPairs(s: SparkSession, d: String): Boolean = {
    val a = pairsLife.evict(s, d)
    val b = mhPairsLife.evict(s, d)
    a || b
  }

  val dd02_ngram_jaccard: Q = (s, d) =>
    jaccardPairs(s, d).orderBy("id1", "id2")

  // --- dd12: cross-source duplication matrix — corpus-governance
  // telemetry over dd02's verified near-dup pairs: how much of the
  // duplication is WITHIN a source vs leaked BETWEEN sources (the
  // "is src3 just a re-crawl of src1" table that decides which
  // sources to drop wholesale). Pure composition: the memoized pair
  // set joins each side to its doc's source (two keyed joins — the
  // pair set is duplication-sized, the source projection is two
  // columns), then one count per unordered source pair. Oracle
  // embeds dd02's SQL verbatim as its CTE so the two can't drift.
  val dd12_cross_source_dups: Q = (s, d) => {
    val pairs = jaccardPairs(s, d).select("id1", "id2")
    def src(idCol: String, out: String) = Tables.documents(s, d)
      .select(col("doc_id").as(idCol), col("source").as(out))
    pairs
      .join(src("id1", "s1"), Seq("id1"))
      .join(src("id2", "s2"), Seq("id2"))
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  // --- dd13: cross-source overlap ranking — dd12's governance
  // question answered without materializing any per-doc pair set:
  // per source-pair (a) EXACT shared-identical-doc counts from a
  // DISTRIBUTED fp → source-set aggregation (shuffle ∝ distinct
  // fps; the driver sees only the per-source counts and the
  // sources²-row matrix — the r17 review killed the old per-source
  // exact bitmap sketch, whose bytes grew ∝ distinct docs and
  // .collect()ed a corpus-proportional blob at 1B-doc scale), and
  // (b) a bottom-k signature of the hashed shingle universe →
  // estimated shingle-set Jaccard (content overlap that surfaces a
  // re-crawl even when the copies aren't byte-identical) — bounded
  // at k longs per source, genuinely driver-sized. dd12 stays the
  // exact per-pair answer; dd13 is the one-scan ranking that says
  // WHICH source pairs are worth dd12's candidate/verify cost.
  // Rows-only by design (bottom-k estimation and xxhash64 fp
  // classes aren't ANSI-expressible); DedupSpec bounds the estimate
  // against the exact Jaccard and asserts the exact-overlap column
  // equals a direct count.
  val dd13OverlapK = 512

  val dd13_cross_source_overlap: Q = (s, d) => {
    val k = dd13OverlapK
    // (a) exact identical-content overlap: dd01's equality classes
    // (normText) hashed to 64 bits; one distinct + two aggregations,
    // all distributed, with pair explosion bounded by the source
    // count (a fp shared by m sources yields m(m-1)/2 struct rows)
    // localCheckpoint: the distinct classes feed two independent
    // actions (per-source counts, fp→source-set matrix) — materialize
    // the scan+distinct once instead of re-running it per collect
    val perSource = Tables.documents(s, d)
      .select(col("source"), xxhash64(normText(col("text"))).as("fp"))
      .distinct().localCheckpoint()
    val counts = perSource.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sharedCounts = perSource.groupBy("fp")
      .agg(sort_array(collect_set("source")).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy("p.a", "p.b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (b) bottom-k shingle signature per source. The heap must sample
    // the shingle SET, not its multiplicity — set semantics live IN
    // the aggregate (topKDistinct: duplicate (score, id) pairs occupy
    // one slot), so no corpus-wide distinct() shuffle precedes it:
    // the only exchange carries one ≤k partial buffer per (task,
    // source). array_distinct still pre-thins within a doc for free.
    val sigs = Tables.documents(s, d)
      .select(col("source"), expr(toksExpr).as("t"))
      .select(col("source"), explode(array_distinct(
        graft.functions.GraftFunctions.rollingHashes("t", 3))).as("sh"))
      .select(col("source"), (col("sh").cast("double") * -1).as("nsh"), col("sh"))
      .groupBy("source")
      .agg(graft.functions.GraftFunctions.topKDistinct("nsh", "sh", k).as("sig"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[Long]("id")).toArray).toMap
    val sources = counts.keys.toSeq.sorted
    val out = for {
      i <- sources.indices
      j <- i + 1 until sources.length
    } yield {
      val (a, b) = (sources(i), sources(j))
      // a source whose docs are all under 3 tokens produces no
      // shingles and is absent from sigs — an empty signature
      // estimates Jaccard 0, it must not crash the whole matrix
      val (sa, sb) = (sigs.getOrElse(a, Array.empty[Long]),
        sigs.getOrElse(b, Array.empty[Long]))
      (a, b, counts(a), counts(b), sharedCounts.getOrElse((a, b), 0L),
        math.rint(bottomKJaccard(sa, sb, k) * 10000) / 10000)
    }
    import s.implicits._
    out.toDF("src_a", "src_b", "n_content_a", "n_content_b",
      "n_shared_exact", "jaccard_est").orderBy("src_a", "src_b")
  }

  /** Bottom-k Jaccard estimator over two signatures drawn with the
    * SAME total order as graft_topk induces on hashed shingles
    * (score `-double(h)` desc ≡ double(h) asc, ties by h asc):
    * J ≈ |{k smallest of A∪B} ∩ A ∩ B| / k'. Standard bottom-k
    * sketch theory: RSD ~ 1/√k (k=512 → ~4.4%).
    */
  private[dedup] def bottomKJaccard(a: Array[Long], b: Array[Long], k: Int): Double = {
    val sa = a.toSet
    val sb = b.toSet
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val union = (sa ++ sb).toArray.map(h => (h.toDouble, h)).sorted
    val kk = math.min(k, union.length)
    if (kk == 0) return 0.0
    var inter = 0
    var i = 0
    while (i < kk) {
      val h = union(i)._2
      if (sa(h) && sb(h)) inter += 1
      i += 1
    }
    inter.toDouble / kk
  }

  // dd02's private pipeline stages exposed read-only as the reference
  // PairGenSpec checks the pair generator against; no registered
  // query consumes these
  private[dedup] def probeShingles(s: SparkSession, d: String): DataFrame =
    shingles(s, d)
  private[dedup] def probePostings(s: SparkSession, d: String): DataFrame =
    cappedIndex(s, d).groupBy("s")
      .agg(sort_array(collect_set("doc_id")).as("ds"))
  private[dedup] def probePairs(s: SparkSession, d: String): DataFrame =
    buildJaccardPairs(s, d)

  /** Unordered i<j pairs of every posting's sorted `ds` array, as flat
    * (id1, id2) rows with per-posting multiplicity preserved — the
    * shared pair generator behind dd02 and dd09. TWO-LEVEL INDEX
    * EXPLODE (r22 follow-up): the index-lambda form still evaluated
    * its `transform` lambdas interpreted and materialized every
    * posting's full pair array before Generate could stream it; two
    * chained explodes over int `sequence`s plus an `element_at`
    * projection stay inside whole-stage codegen end to end and never
    * materialize a pair array (OPTIMIZATION_r22.md §8b, end-to-end to
    * scored pairs at sf0.1: slice+struct 2.72 s, index lambdas 2.19,
    * packed-long 2.09 — still constrained to ids < 2^32, still not
    * shipped — two-level explode **1.73 s**, pair sets verified
    * identical). Postings larger than `chunk` are cut into sorted
    * chunks and spread per CHUNK-PAIR row exactly as before (the
    * hot-shingle salt guard); `sequence` args are arranged so no
    * branch can produce a descending range (a single-element trailing
    * same-chunk yields an empty index array, not [0,-1]).
    */
  private[graft] def allPairs(postings: DataFrame, chunk: Int,
                              mayExceedChunk: Boolean = true): DataFrame = {
    val small = postings
      .filter(size(col("ds")) <= chunk && size(col("ds")) >= 2)
      .select(col("ds"), explode(expr("sequence(0, size(ds) - 2)")).as("i"))
      .select(col("ds"), expr("element_at(ds, i + 1)").as("id1"),
        explode(expr("sequence(i + 1, size(ds) - 1)")).as("j"))
      .select(col("id1"), expr("element_at(ds, j + 1)").as("id2"))
    // a caller whose df-cap already bounds postings at the chunk size
    // (dd09) must not carry the oversized branch: even always-empty,
    // its union arm schedules the chunk-split + repartition exchange
    // every run (measured +0.5 s on dd09 at sf0.1 before this flag)
    if (!mayExceedChunk) return small
    val big = postings.filter(size(col("ds")) > chunk)
      .select(col("ds"), explode(expr(
        s"""flatten(transform(sequence(0, int(ceil(size(ds) / $chunk.0)) - 1),
           |  i -> transform(sequence(i, int(ceil(size(ds) / $chunk.0)) - 1),
           |    j -> struct(i AS ci, j AS cj))))""".stripMargin)).as("cp"))
      .select(expr(s"slice(ds, cp.ci * $chunk + 1, $chunk)").as("a"),
        expr(s"slice(ds, cp.cj * $chunk + 1, $chunk)").as("b"),
        (col("cp.ci") === col("cp.cj")).as("same"))
      .repartition(col("a"), col("b"))
      .select(col("a"), col("b"), col("same"), explode(expr(
        """CASE WHEN same AND size(a) >= 2 THEN sequence(0, size(a) - 2)
          |     WHEN NOT same THEN sequence(0, size(a) - 1)
          |     ELSE slice(sequence(0, 0), 2, 1) END""".stripMargin)).as("i"))
      .select(col("a"), col("b"), col("same"),
        expr("element_at(a, i + 1)").as("id1"),
        explode(expr(
          """CASE WHEN same THEN sequence(i + 1, size(a) - 1)
            |     ELSE sequence(0, size(b) - 1) END""".stripMargin)).as("j"))
      .select(col("id1"), expr("element_at(IF(same, a, b), j + 1)").as("id2"))
    small.unionAll(big)
  }

  private def buildJaccardPairs(s: SparkSession, d: String): DataFrame = {
    // no explicit cache: the shingle subplan appears three times in
    // this one plan and Spark's ReuseExchange already dedupes it —
    // measured faster than materializing with .cache()
    val sh = shingles(s, d)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // posting-list pair generation: one shuffle on the shingle key
    // (vs two for a self-join). A df-capped posting can still hold
    // dfCap docs, and exploding its dfCap²/2 pairs from ONE row both
    // materializes a ~500k-struct array and pins the whole hot
    // shingle on one task — so postings are cut into sorted chunks of
    // `chunk` docs and pairs are generated per CHUNK PAIR: each
    // exploded row carries ≤ chunk² pairs, and the repartition on the
    // chunk-pair row spreads a hot shingle's work across the cluster
    // (the "salt oversized postings" guard). Sorted chunks keep
    // id1 < id2 for free on cross-chunk pairs.
    val chunk = 128
    val idx = cappedIndex(s, d)
    val postings = idx.groupBy("s")
      .agg(sort_array(collect_set("doc_id")).as("ds"))
    // pair generation lives in [[allPairs]] (two-level codegen'd index
    // explode; chunked + salted past `chunk` docs — see its scaladoc
    // for the measured formulation history)
    val pairs = allPairs(postings, chunk)
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.toDF("d1", "n1"), col("id1") === col("d1"))
      .join(sizes.toDF("d2", "n2"), col("id2") === col("d2"))
      .select(col("id1"), col("id2"),
        r4(col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= 0.2)
  }

  // --- dd03: embedding-cosine near-dup pairs (exact) ---
  // The default plan is the block-pair equi-join below; the naive
  // crossJoin survives only as the flagged reference baseline.
  //
  // Why exact can't be sub-quadratic HERE: on this corpus the 0.35
  // threshold cuts a cosine continuum (measured at sf0.01: the
  // weakest qualifying pair scores 0.35008 while the strongest
  // non-qualifying scores 0.34997, and only ~10% of qualifying pairs
  // share an embedding cluster label), so ANY candidate-pruned path
  // (LSH bands, IVF cells) necessarily loses pairs — those are the
  // approximate operators dd04/dd05/ann02. Exact all-pairs at scale
  // is therefore about DISTRIBUTING n²/2 comparisons with bounded
  // memory, not avoiding them.
  val dd03_embed_neardup: Q = (s, d) => embedNeardupBlocked(s, d)

  /** Exact cosine pairs via block-pair equi-join: vectors are hashed
    * into `nBlocks` groups; each of the B(B+1)/2 (ga ≤ gb) block
    * pairs becomes one equi-join key, so comparisons spread evenly
    * across reducers, every task holds at most two blocks (spillable
    * sort-merge buffers, ~n/B vectors each), and nothing broadcasts
    * the corpus — the plan is shuffle equi-joins, no
    * BroadcastNestedLoopJoin anywhere. Data inflation is the standard
    * triangle-join cost (~B/2 replicas per side); at 100 TB pick
    * nBlocks so n/B vectors fit one executor's memory.
    */
  def embedNeardupBlocked(s: SparkSession, d: String, nBlocks: Int = 8): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int"))
    val blockPairs = broadcast(
      (for (a <- 0 until nBlocks; b <- a until nBlocks) yield (a, b)).toDF("ga", "gb"))
    val left = e.toDF("l_id", "va", "na", "g")
      .join(blockPairs, col("g") === col("ga")).drop("g")
    val right = e.toDF("r_id", "vb", "nb", "g2")
      .join(blockPairs, col("g2") === col("gb")).drop("g2")
    left.join(right, Seq("ga", "gb"))
      // same-block keys see both orientations → keep one; cross-block
      // keys see each unordered pair exactly once already
      .filter(col("ga") < col("gb") || col("l_id") < col("r_id"))
      .select(least(col("l_id"), col("r_id")).as("id1"),
        greatest(col("l_id"), col("r_id")).as("id2"),
        r4(graft.functions.GraftFunctions.dot("va", "vb") /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.35)
      .orderBy("id1", "id2")
  }

  /** The naive all-pairs baseline (BroadcastNestedLoopJoin): same
    * output as [[embedNeardupBlocked]], kept ONLY as an explicit
    * opt-in reference — it broadcasts the corpus, which is the
    * documented scale killer.
    */
  def embedNeardupAllPairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))
    e.toDF("id1", "va", "na")
      .join(e.toDF("id2", "vb", "nb"), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        r4(graft.functions.GraftFunctions.dot("va", "vb") /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.35)
      .orderBy("id1", "id2")
  }

  // --- dd08: IVF-blocked APPROXIMATE embed near-dup — the sublinear
  // companion to dd03, exactly as dd04 is to dd02. Vectors are
  // coarse-quantized into nCells k-means cells with MULTI-PROBE
  // assignment (each vector lands in its `probes` nearest cells) and
  // only same-cell pairs are scored — with the EXACT cosine, so dd08
  // can only miss pairs, never invent them (dd08 ⊆ dd03 by
  // construction; spec-asserted with a recall floor). Candidates fall
  // from n²/2 to Σ|cell|²/2; at corpus scale nCells grows ∝ n so
  // cells stay bounded, and the same per-reducer bound as dd03's
  // blocks applies within a cell. Rows-only by design.
  //
  // `probes` is the recall dial — measured on this (deliberately
  // weak-clustered) corpus at sf0.1, k=16: p=2 → 0.56, p=3 → 0.82,
  // p=4 → 0.94, p=6 → 1.00 recall vs dd03.
  val dd08_embed_neardup_ivf: Q = (s, d) => embedNeardupIvf(s, d)

  def embedNeardupIvf(s: SparkSession, d: String, nCells: Int = 16,
                      probes: Int = 3, iters: Int = 3,
                      sampleMod: Int = 1): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))
    val cents = graft.similarity.Similarity.trainCentroids(e, nCells, iters, sampleMod)
    val cells = e.select(col("vec_id"), col("v"), col("nrm"),
      explode(graft.functions.GraftFunctions.nearestCells("v", cents, probes)).as("cell"))
    cells.toDF("l_id", "va", "na", "cell")
      .join(cells.toDF("r_id", "vb", "nb", "cell2"),
        col("cell") === col("cell2") && col("l_id") < col("r_id"))
      .select(col("l_id").as("id1"), col("r_id").as("id2"),
        r4(graft.functions.GraftFunctions.dot("va", "vb") /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.35)
      // multi-probe emits a pair once per shared cell — dedup
      .distinct()
      .orderBy("id1", "id2")
  }

  // ---- MinHash + LSH (dd04) ----
  // 64 "permutations" from the native MinHashSig expression (per
  // shingle: one string hash + 64 seeded long hashes, elementwise
  // min); 16 bands of 4 rows. Rows-only: hash seeds aren't
  // SQL-portable.
  val dd04_minhash_lsh: Q = (s, d) => minhashPairs(s, d).orderBy("id1", "id2")

  /** The dd04 pair set without the presentation sort — the form
    * downstream consumers (pp03's clustering) compose over; cached
    * per (session, dir) like [[jaccardPairs]].
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    mhPairsLife.getOrBuild(s, d)(buildMinhashPairs(s, d).cache())

  private def buildMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    // signature: one native pass per doc (graft_minhash_sig) — no
    // explode/shuffle to build signatures. Docs with fewer tokens
    // than the shingle width have NO shingles — their signature would
    // be all-sentinel (Long.MaxValue), making every short doc collide
    // with every other in every band (a quadratic candidate blow-up
    // with zero Jaccard signal) — so they are excluded up front, same
    // as dd05 excludes empty token arrays.
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig("t", 64, 3).as("sig"))
    // LSH: band hash over 4-row slices; docs sharing any band bucket
    val bands = sig.select(col("doc_id"),
      posexplode(expr("transform(sequence(0, 15), b -> hash(slice(sig, b * 4 + 1, 4)))")))
      .toDF("doc_id", "band", "bh")
    val cand = bands.toDF("id1", "band", "bh")
      .join(bands.toDF("id2", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2") && col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    // verify candidates with exact Jaccard over the same df-capped
    // index dd02 scores with (so dd04 ⊆ dd02 holds by construction)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val idx = cappedIndex(s, d)
    val pairInter = cand
      .join(idx.toDF("id1", "s"), "id1")
      .join(idx.toDF("id2", "s"), Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    pairInter
      .join(sizes.toDF("id1", "n1"), "id1")
      .join(sizes.toDF("id2", "n2"), "id2")
      .select(col("id1"), col("id2"),
        r4(col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= 0.2)
  }

  // ---- SimHash (dd05) ----
  // 64-bit simhash over token hashes (tf-weighted); near-dups =
  // pairs sharing a 16-bit band with hamming distance <= 8.
  val dd05_simhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) > 0)
    val sig = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64("t").as("sig"))
    val bands = sig.select(col("doc_id"), col("sig"),
      posexplode(expr("transform(sequence(0, 3), b -> (sig >> (b * 16)) & 65535L)")))
      .toDF("doc_id", "sig", "band", "bh")
    bands.toDF("id1", "sig1", "band", "bh")
      .join(bands.toDF("id2", "sig2", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("id1", "id2")
  }

  // --- dd06: near-dup clusters (connected components over dd02
  // pairs; cluster id = min doc_id in the component — the "keep one
  // representative per duplicate group" step of a dedup pipeline).
  // Alternating large-star/small-star rounds (see
  // [[ConnectedComponents]]): O(log n) rounds on any topology, each
  // round two node-id shuffles over a shrinking edge set, lineage
  // truncated per round — the 100 TB shape. The star forest IS the
  // answer: every non-root member paired with its component minimum.
  val dd06_neardup_clusters: Q = (s, d) =>
    ConnectedComponents.stars(jaccardPairs(s, d).select("id1", "id2"))
      .toDF("doc_id", "cluster_id")
      .orderBy("doc_id")

  // --- dd07: dedup with a keep-longest policy (argmax by n_chars,
  // doc_id tiebreak) — the policy-parameterized variant of dd01
  val dd07_keep_longest: Q = (s, d) => {
    val w = Window.partitionBy("fp")
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(normText(col("text")).cast("binary")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"), col("n_chars").as("keep_chars"))
      .orderBy("fp")
  }

  // --- dd09: exact substring duplication (the Lee et al. 2021
  // "Deduplicating Training Data" signal) — doc pairs sharing ≥ 2
  // distinct verbatim 8-token windows, i.e. repeated training text
  // that n-gram JACCARD (dd02) under-weights when the docs are
  // otherwise different. Every window rides through the codegen'd
  // rolling hash (graft_rolling_hashes — the same native expression
  // tx05 uses), so the exploded shuffle key is an 8-byte long, not a
  // ~50-byte shingle string: same inverted-index/posting-list shape
  // as dd02 at a fraction of the shuffle volume. Windows appearing in
  // > dfCap docs are boilerplate and dropped (dd02's guard); equal
  // windows always collide (same hash), so the only error mode is a
  // 2^-64 hash collision inventing a shared window — which is why
  // the ORACLE computes the same pairs from the literal shingle
  // strings: the gate passing proves the hash path collision-free
  // on this corpus.
  val dd09_substring_dups: Q = (s, d) => {
    val width = 8
    val dfCap = 64
    val wh = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) >= width)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.GraftFunctions.rollingHashes("t", width))).as("h"))
    val postings = wh.groupBy("h").agg(sort_array(collect_set("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
    // same two-level codegen'd pair explode as dd02 (allPairs); the
    // dfCap filter bounds every posting at the chunk size, so the
    // oversized branch is statically absent (mayExceedChunk = false)
    allPairs(postings, chunk = dfCap, mayExceedChunk = false)
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("id1", "id2")
  }

  // --- dd10: incremental (delta-batch) dedup against a PERSISTED
  // fingerprint index — the ingest-time shape of dd01. A production
  // pipeline never re-deduplicates 100 TB per arriving batch: it
  // keeps the corpus fingerprint set as a BUCKETED table (bucketed +
  // sorted on fp) and anti-joins each delta against it. Bucketing is
  // the scale pattern: the index side satisfies the join's required
  // distribution straight off disk, so the only exchange in the plan
  // is the (small) delta batch being shuffled to the bucket count
  // (spec-asserted plan shape). Precisely: per-batch SHUFFLE and SORT
  // are delta-sized; the index side remains a sequential exchange-
  // free streamed scan, whose IO grows with index bytes but never
  // re-shuffles or re-sorts the corpus (the naive re-dedup pays a
  // corpus-sized shuffle per batch — measured in PLANS.md R5's
  // incremental-dedup probe). The deterministic split
  // here stands in for ingest time: base = doc_id % 10 < 8 (already
  // ingested), delta = the rest (arriving batch). Output = the
  // delta's genuinely-new fingerprints with the surviving doc and
  // the delta-internal copy count.
  val deltaMod = 10
  val deltaFrom = 8

  private def fps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))

  /** Write the base split's distinct fingerprints as a bucketed,
    * fp-sorted catalog table at `path` — the persisted index an
    * ingest pipeline maintains (append per committed batch).
    */
  def buildFpIndex(s: SparkSession, d: String, table: String, path: String,
                   buckets: Int = 8): Unit =
    fps(s, d).filter(col("doc_id") % deltaMod < deltaFrom)
      .select("fp").distinct()
      .write.bucketBy(buckets, "fp").sortBy("fp")
      .option("path", path).mode("overwrite").format("parquet")
      .saveAsTable(table)

  // Build-once/reuse-per-batch within a session (ann02's memo
  // discipline): the index table for a corpus dir is built on first
  // use; later delta batches anti-join it without rebuilding. The
  // table NAME is derived from the corpus dir and the CATALOG is
  // shared across sessions of one context — another session may have
  // evicted (dropped) the table this session memoized, so the
  // lifecycle re-validates a memo hit against the catalog.
  private val fpIdxLife = new graft.IndexLifecycle[String]("dd10-fp-index",
    validate = (s, t) => s.catalog.tableExists(t),
    release = (s, t) => graft.IndexLifecycle.dropTableWithFiles(s, t))

  /** Identifier-safe 64-bit digest of a corpus dir for derived table
    * names. 64 bits, not the old 32-bit MurmurHash: table names live
    * in a SHARED catalog keyed only by this digest (the memo is
    * per-(session, dir)), and a 32-bit birthday collision (~50% at
    * 77k distinct dirs) would let a second corpus's mode("overwrite")
    * build silently replace the first's live index while the first's
    * memo still validated against the catalog.
    */
  private def dirDigest(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def fpIndexFor(s: SparkSession, d: String): String =
    fpIdxLife.getOrBuild(s, d) {
      val table = "graft_fp_idx_" + dirDigest(d)
      val path = java.nio.file.Files.createTempDirectory("graft-fpidx").toString
      // a failed build must not leak its partial table/files: the
      // memo has no entry yet, so no evict call could clean it up
      try buildFpIndex(s, d, table, path)
      catch { case e: Throwable =>
        scala.util.Try(graft.IndexLifecycle.dropTableWithFiles(s, table))
        scala.util.Try(graft.IndexLifecycle.deleteRecursively(path))
        throw e
      }
      table
    }

  /** Drop a session's fingerprint index for a corpus dir (catalog
    * entry + files) — cache hygiene for long-lived sessions.
    */
  def evictFpIndex(s: SparkSession, d: String): Unit = fpIdxLife.evict(s, d)

  /** The per-batch pass: delta fingerprints anti-joined against the
    * persisted index (corpus-side exchange-free via bucketing), then
    * exact dedup WITHIN the batch.
    */
  def dedupDelta(s: SparkSession, delta: DataFrame, indexTable: String): DataFrame =
    delta.join(s.table(indexTable), Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_delta"))

  /** The COMMIT step of the ingest loop: append a batch's
    * newly-seen fingerprints to the persisted index, so the next
    * batch's anti-join sees them. `insertInto` honors the table's
    * bucket spec, so the bucketed-layout property (index side joins
    * exchange-free) survives appends — each append adds one file per
    * touched bucket, which is exactly the small-file growth
    * [[graft.sources.Sources.compact]] exists to fold back
    * periodically. Concurrency posture: Spark-catalog bucketed
    * table, so the QUIESCED contract applies (one mutator at a time;
    * probes race only appends, which publish via the committer) —
    * Spark resolves a bucketed table's files through its own catalog
    * listing, with no hook to pin readers to a manifest. The LSH
    * index (r19) shows the structural alternative if racing mutators
    * are ever needed here: postings on MergeTable, whose log IS the
    * manifest — at the price of the bucket-pruned exchange-free join
    * this table keeps.
    */
  def appendToFpIndex(s: SparkSession, indexTable: String, newFps: DataFrame): Unit =
    newFps.select("fp").distinct()
      .write.mode("append").insertInto(indexTable)

  val dd10_incremental: Q = (s, d) => {
    val idx = fpIndexFor(s, d)
    val delta = fps(s, d).filter(col("doc_id") % deltaMod >= deltaFrom)
    dedupDelta(s, delta, idx).orderBy("fp")
  }

  // --- dd11: incremental NEAR-dup detection against a persisted LSH
  // band index — dd10's ingest-time shape on the APPROXIMATE path
  // (dd11 is to dd04 what dd10 is to dd01). The historical corpus
  // keeps two bucketed tables: its MinHash band buckets (bucketed on
  // the single packed band key) and its signatures (bucketed on
  // doc_id). An arriving delta batch computes signatures in one
  // native pass, equi-joins the band table for candidates, then
  // verifies by SIGNATURE-estimated Jaccard (matching components /
  // 64) against the sig table — so a batch never touches corpus
  // text, only the index: per-batch cost ∝ delta × collisions.
  // Verification-by-signature is what keeps the ingest loop
  // index-local; the measured estimate quality is dd04's (same 64
  // permutations). Both index joins run with the INDEX side
  // exchange-free off its buckets; the only shuffles belong to the
  // delta. Threshold: est ≥ 0.5, dd04's verify bar.
  val lshBands = 16
  val lshRows = 4

  /** Signatures for a doc split: (doc_id, sig[64]). */
  private[graft] def sigsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(graft.text.TextAnalysis.toksExpr).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig("t", 64, 3).as("sig"))

  /** Packed band keys: one long per band — band id in the high bits,
    * the band's 4-row slice hash in the low 32 (a single join column,
    * so bucketing on it makes the band join exchange-free).
    */
  private[graft] def bandKeysOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, ${lshBands - 1}, 1),
         |  b -> bigint(b) * 4294967296L + (bigint(hash(slice(sig, b * $lshRows + 1, $lshRows))) & 4294967295L))"""
        .stripMargin)).as("bkey"))

  /** Signature-estimated Jaccard of two 64-long MinHash arrays. */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / 64.0

  /** Persist the base split's LSH index: TWO MergeTables under one
    * root — `<dir>/bands` keyed on bkey and `<dir>/sigs` keyed on
    * doc_id — what an ingest pipeline appends to per committed batch.
    * MergeTable's commit log IS the index's manifest: every mutator
    * (append, takedown vacuum) publishes through the generation CAS,
    * so racing writers serialize and probes resolve a consistent
    * committed file set — the concurrency posture the ANN family's
    * IndexManifest established, now on the table format itself.
    */
  def buildLshIndex(s: SparkSession, d: String, path: String): Unit =
    buildLshIndexFrom(
      Tables.documents(s, d).filter(col("doc_id") % deltaMod < deltaFrom),
      path)

  /** Same build from any (doc_id, text)-shaped corpus — the form an
    * ingest pipeline (e.g. streaming.NearDupIngestSink) seeds its
    * index with. Sigs commit before bands, see [[appendToLshIndex]].
    */
  def buildLshIndexFrom(docs: DataFrame, path: String,
                        nFiles: Int = 8): Unit = {
    val s = docs.sparkSession
    // the signature pass feeds both tables — materialize once
    val sigs = sigsOf(docs).localCheckpoint(false)
    graft.operators.MergeTable.write(s, sigs, "doc_id", s"$path/sigs", nFiles)
    graft.operators.MergeTable.write(s, bandKeysOf(sigs), "bkey",
      s"$path/bands", nFiles)
  }

  // Build-once/probe-many within a session, validated against the
  // on-disk commit logs — BOTH tables must be committed. The handle
  // is the index ROOT DIR (the tombstone set lives under it too, so
  // release reclaims governance state with the postings).
  private val lshIdxLife = new graft.IndexLifecycle[String]("dd11-lsh-index",
    validate = (_, dir) =>
      graft.operators.MergeTable.committedGen(s"$dir/bands").isDefined &&
        graft.operators.MergeTable.committedGen(s"$dir/sigs").isDefined,
    release = (_, dir) => graft.IndexLifecycle.deleteRecursively(dir))

  def lshIndexFor(s: SparkSession, d: String): String =
    lshIdxLife.getOrBuild(s, d) {
      val path = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
      // same guard as fpIndexFor: a half-built index (sigs committed,
      // bands failed) is invisible to evictLshIndex — clean it here
      // or it leaks for the life of the process
      try buildLshIndex(s, d, path)
      catch { case e: Throwable =>
        scala.util.Try(graft.IndexLifecycle.deleteRecursively(path))
        throw e
      }
      path
    }

  /** Drop a session's LSH index (root dir: both tables + tombstones). */
  def evictLshIndex(s: SparkSession, d: String): Unit = lshIdxLife.evict(s, d)

  /** The per-batch pass against an already-persisted index: delta
    * band keys → candidate (delta, base) pairs → signature-estimated
    * Jaccard ≥ τ. Exposed separately from [[dd11_incremental_lsh]]
    * so callers can run many batches against one build. GOVERNED BY
    * DEFAULT (r20): registered takedowns are read from the stored set
    * and excluded — dd14's "tombstones take effect IMMEDIATELY on the
    * probe path" contract previously held only for callers that
    * passed the frame themselves, so the ingest sink kept judging
    * arrivals against erased docs until a vacuum ran. A tombstone-free
    * index pays nothing (one dir-listing gate, no plan node).
    */
  def neardupDelta(s: SparkSession, deltaSigs: DataFrame, indexTable: String,
                   tau: Double = 0.5): DataFrame =
    neardupDelta(s, deltaSigs, indexTable, tau,
      if (hasTombstones(indexTable)) Some(tombstonesOf(s, indexTable)) else None)

  /** [[neardupDelta]] with takedown governance: `tombstones`
    * (doc_id rows — removed docs) are excluded from the CANDIDATE set
    * before any signature work, via a broadcast anti-join (takedown
    * batches are human-scale: a legal request, not a corpus). The
    * usual caller reads them from [[tombstonesOf]]'s stored set (the
    * token-named parquet beside the index); an explicit frame keeps
    * the probe pure for testing and for per-tenant policies.
    */
  def neardupDelta(s: SparkSession, deltaSigs: DataFrame, indexDir: String,
                   tau: Double, tombstones: Option[DataFrame]): DataFrame = {
    // the signature scan feeds two independent plan branches (band
    // keys for candidates, the final sig join) with no shared
    // exchange for ReuseExchange to dedupe — a lazy localCheckpoint
    // materializes the (id, 64-long) rows once instead of running
    // tokenize+minhash over the batch twice (gatedDocs' barrier
    // pattern, Pipeline.scala)
    val sigs = deltaSigs.localCheckpoint(false)
    // index reads resolve the committed generation's file set off the
    // table log — a probe never sees a mutator's uncommitted files.
    // READ ORDER INVARIANT: bands resolves BEFORE sigs (readTable pins
    // each table's generation eagerly, at call time), the mirror of
    // appendToLshIndex's sigs-BEFORE-bands commit order — so a probe
    // racing an append can see the batch's sigs without its bands
    // (batch invisible, correct) but never its bands without its sigs
    // (which would silently drop pairs at the inner sig join).
    // Join posture at scale: an ingest batch is small, so Spark
    // broadcasts the DELTA side and the index side carries ZERO
    // exchanges (better than the old bucketed layout, which still
    // shuffled the delta); a corpus-scale "delta" degrades to a
    // 2-exchange sort-merge join — the priced tradeoff for moving the
    // postings onto the table format's commit log (measured in
    // PLANS.md r19).
    val baseBands = graft.operators.MergeTable.readTable(s, s"$indexDir/bands")
      .select(col("doc_id").as("base_id"), col("bkey"))
    val cand0 = bandKeysOf(sigs).toDF("delta_id", "bkey")
      .join(baseBands, Seq("bkey"))
      .select("delta_id", "base_id").distinct()
    val cand = tombstones.fold(cand0)(t =>
      cand0.join(broadcast(t.select(col("doc_id").as("base_id"))),
        Seq("base_id"), "left_anti"))
    val baseSigs = graft.operators.MergeTable.readTable(s, s"$indexDir/sigs")
      .select(col("doc_id").as("base_id"), col("sig").as("base_sig"))
    cand
      .join(baseSigs, Seq("base_id"))
      .join(sigs.toDF("delta_id", "delta_sig"), Seq("delta_id"))
      .select(col("delta_id"), col("base_id"),
        r4(estJaccard(col("delta_sig"), col("base_sig"))).as("est_jacc"))
      .filter(col("est_jacc") >= tau)
  }

  /** dd11's commit step, mirroring [[appendToFpIndex]]: append the
    * signatures and band keys of docs judged NEW (no near-dup in the
    * historical corpus) so later batches are gated by them. Each
    * append is one [[graft.operators.MergeTable.append]] commit per
    * table — new files plus a CAS'd generation, so RACING appenders
    * serialize through the log (the loser retries here, bounded) and
    * a reader never observes a torn batch. Sigs commit BEFORE bands:
    * a candidate pair only forms through a band row and then
    * inner-joins the sig — bands-without-sigs would silently drop
    * pairs, while sigs-without-bands merely leaves the batch
    * invisible until the second commit lands (a crash between the two
    * re-appends on replay; duplicate posting rows are harmless to
    * gating — they re-yield the same candidate pairs). Appends add
    * one file per table per batch; MergeTable.compact folds them
    * back, the same maintenance loop as the table family.
    * `newSigs` must be (doc_id, sig)-shaped, as from [[sigsOf]].
    */
  def appendToLshIndex(s: SparkSession, indexDir: String, newSigs: DataFrame): Unit = {
    val sigs = newSigs.localCheckpoint(false) // feeds both commits
    def retrying(dir: String, df: DataFrame, key: String): Unit = {
      var attempt = 0
      while (true) {
        attempt += 1
        try {
          graft.operators.MergeTable.append(s, dir, df, key,
            meta = Map("writer" -> "lsh-append"))
          return
        } catch {
          case e: java.util.ConcurrentModificationException =>
            if (attempt >= 10) throw e
        }
      }
    }
    retrying(s"$indexDir/sigs", sigs, "doc_id")
    retrying(s"$indexDir/bands", bandKeysOf(sigs), "bkey")
  }

  val dd11_incremental_lsh: Q = (s, d) => {
    val idx = lshIndexFor(s, d)
    val delta = sigsOf(
      Tables.documents(s, d).filter(col("doc_id") % deltaMod >= deltaFrom))
    neardupDelta(s, delta, idx).orderBy("delta_id", "base_id")
  }

  // --- dd14: takedown (right-to-erasure) against the persisted LSH
  // index — the governance operator a 100 TB ingest pipeline must
  // run when docs are ordered removed (legal takedown, license
  // revocation, user deletion). Two-speed design, the soft-delete +
  // vacuum pattern every large store uses: (1) tombstones take
  // effect IMMEDIATELY on the probe path via a broadcast anti-join
  // on the candidate set (no index rewrite on the hot path — a
  // takedown batch is human-scale); (2) [[vacuumLshTombstones]]
  // physically rewrites ONLY the posting files holding the doomed
  // docs, committed through each table's generation CAS (cost ∝
  // affected files in the maintenance window), after which the
  // tombstone set is empty and the probe is byte-identical to an
  // index never containing them.
  // The corpus row itself is MergeTable's problem (file-pruned
  // DELETE, q65) — this operator owns the derived index state.

  // the registry primitives (layout, staged-publish registration,
  // racing-clear-tolerant reads, file-precise clears) are the shared
  // graft.operators.TombstoneStore (r20 — both index families ride
  // one implementation, so a hardening can't land on one copy only)
  private def hasTombstones(indexDir: String): Boolean =
    graft.operators.TombstoneStore.has(indexDir)

  /** Record removed doc_ids for the index at `indexDir` (tiny
    * append-only parquet next to the index's own layout — the index
    * is dir-based, so its governance state is too; the ANN family's
    * takedown discipline, Similarity.tombstoneVectors). Each
    * registration stages writer-privately and publishes ONE
    * token-named file with an atomic same-dir move, so concurrent
    * registrations never share a Spark output dir and a reader never
    * sees a torn file. An empty batch writes nothing (a zero-row part
    * file would make every governed probe pay the anti-join forever).
    */
  def tombstoneDocs(s: SparkSession, indexDir: String, docIds: DataFrame): Unit =
    graft.operators.TombstoneStore.register(s, indexDir, docIds, "doc_id")

  /** The current tombstone set (empty frame when none recorded).
    * Reads with ignoreMissingFiles: a racing vacuum's clear deletes
    * part files between this scan's listing and its execution, and a
    * governed probe must see the post-clear set (docs the vacuum just
    * made physical), not crash on the window — wrong-failure, never
    * wrong-result either way, since a cleared tombstone's absence is
    * exactly what the clear published.
    */
  def tombstonesOf(s: SparkSession, indexDir: String): DataFrame =
    graft.operators.TombstoneStore.read(s, indexDir, "doc_id")

  /** Purge tombstoned docs from both posting tables, then clear the
    * tombstone set. Each table takes the purge shape its LAYOUT
    * affords (r20): sigs is doc_id-keyed, so doomed rows cluster and
    * [[graft.operators.MergeTable.rewriteFiles]] physically rewrites
    * only the affected files (write-once staged files published by
    * the generation CAS, untouched files carried by reference); bands
    * is keyed by the hashed bkey, so doomed doc_ids SCATTER — a
    * physical rewrite's dirty set approaches every file — and the
    * purge is instead a positional deletion-vector commit
    * ([[graft.operators.MergeTable.deleteKeys]] locating by the
    * non-key doc_id column): metadata cost ∝ the batch, zero bands
    * files rewritten, the vector drains physically at the next
    * compact. Either way a crash at any point leaves tombstones
    * ACTIVE, staged artifacts unreferenced, and the vacuum
    * re-runnable; readers resolve a committed generation throughout
    * (no duplicates window, no missing-file instant), and a
    * post-vacuum probe is byte-equivalent to an index never
    * containing the docs (bands rows hide behind the vector on every
    * read path). Maintenance-window cost ∝ the takedown, never the
    * index.
    *
    * The loop structure is the correctness point under RACING
    * appends (the posture the MergeTable migration bought): the
    * tombstone set is cleared ONLY after (a) a discovery scan at each
    * table's resolved head finds no tombstoned rows AND (b) a no-op
    * carry-forward commit FENCED on that same generation wins on BOTH
    * tables — so an append that commits a still-tombstoned doc_id
    * between discovery and clear bumps a generation, fails its fence,
    * and is caught by the next iteration's discovery instead of being
    * resurrected. An append committing after the fences is, by
    * definition, after the takedown cleared — the legitimate re-add
    * dd14's contract allows. The CLEAR is file-precise: the pass
    * snapshots the tombstone part files it read and deletes exactly
    * those, so a takedown registered mid-vacuum survives, keeps
    * governing probes, and is processed by the next pass.
    */
  def vacuumLshTombstones(s: SparkSession, indexDir: String): Long = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    if (!hasTombstones(indexDir)) return 0L
    val tombFiles = graft.operators.TombstoneStore.snapshot(indexDir)
    if (tombFiles.isEmpty) return 0L // raced another vacuum's clear
    def clearSnapshot(): Unit =
      graft.operators.TombstoneStore.clearSnapshot(indexDir, tombFiles)
    val tomb = graft.operators.TombstoneStore.readSnapshot(s, tombFiles)
      .localCheckpoint()
    val n = tomb.count()
    if (n == 0) { clearSnapshot(); return 0L } // zero-row debris only
    val sigsDir = s"$indexDir/sigs"
    val bandsDir = s"$indexDir/bands"
    var attempt = 0
    // bound generous enough for a burst of racing appenders (each
    // costs at most one lost rewrite CAS or one lost fence per table)
    while (attempt < 24) {
      attempt += 1
      // SIGS (doc_id-keyed — doomed rows cluster in few files):
      // discovery at the resolved head names WHICH files still hold a
      // tombstoned row (manifest `path` values are input_file_name
      // outputs — statsOf groups by it — so the discovered names feed
      // rewriteFiles directly), then the rewrite touches ONLY those
      // files — takedowns are human-scale, so cost ∝ affected files
      // (the ANN family's affected-cells posture).
      val gSigs = graft.operators.MergeTable.committedGen(sigsDir).getOrElse(
        sys.error(s"$sigsDir is not a committed keyed table"))
      val dirtySigs = graft.operators.MergeTable.readTable(s, sigsDir, asOf = Some(gSigs))
        .select(col("doc_id"), input_file_name().as("__lshvac_f"))
        .join(broadcast(tomb), Seq("doc_id"), "left_semi")
        .select("__lshvac_f").distinct()
        .collect().map(_.getString(0)).toIndexedSeq
      // BANDS (keyed by the HASHED bkey — doomed doc_ids scatter, so a
      // physical rewrite's dirty set approaches EVERY file, the r19
      // honest boundary): the purge is a positional deletion-vector
      // commit instead, located by the NON-key doc_id column — one
      // narrow column scan, write cost ∝ batch, zero data files
      // rewritten; the standing vector drains physically at the next
      // MergeTable.compact (the index's existing maintenance tick),
      // exactly q75's scattered-key shape. Readers see through the
      // vector immediately, so "clean" below means LOGICALLY clean —
      // a probe is already byte-equivalent to a never-containing index.
      val bandsClean =
        try {
          val st = graft.operators.MergeTable.deleteKeys(s, bandsDir, "doc_id", tomb)
          if (st.touched.isEmpty) Some(st.gen) else None // hid rows: re-verify next pass
        } catch { // lost the vector commit's CAS: re-discover and retry
          case _: java.util.ConcurrentModificationException => None
        }
      if (dirtySigs.nonEmpty) {
        try {
          graft.operators.MergeTable.rewriteFiles(s, sigsDir, "doc_id", dirtySigs,
            df => df.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
            meta = Map("writer" -> "lsh-takedown-vacuum"))
          ()
        } catch { // lost to a racing commit: re-discover and retry
          case _: java.util.ConcurrentModificationException => ()
        }
      } else bandsClean match {
        case Some(gBands) =>
          // nothing of THIS snapshot visible at the discovered heads —
          // the fences pin "discovered" and "now" to the same
          // generations (an append that committed a still-tombstoned
          // id since bumps a generation, fails its fence, and is
          // re-discovered instead of resurrected)
          val fenced =
            graft.operators.MergeTable.commitCarryForwardFenced(sigsDir, gSigs,
              Map("op" -> "takedown-fence")) &&
            graft.operators.MergeTable.commitCarryForwardFenced(bandsDir, gBands,
              Map("op" -> "takedown-fence"))
          if (fenced) { clearSnapshot(); return n }
        // a fence lost: something committed since discovery — re-check
        case None => ()
      }
    }
    sys.error(s"takedown vacuum lost to concurrent commits $attempt times: $indexDir")
  }

  /** Registered probe: the incremental near-dup pass (dd11's shape)
    * under an active takedown of every 7th base doc — rows-only (LSH
    * banding isn't ANSI-expressible); the spec proves the governed
    * probe equals a probe against an index rebuilt without the
    * removed docs, and that vacuum makes the filter unnecessary.
    */
  val dd14_takedown: Q = (s, d) => {
    val idx = lshIndexFor(s, d)
    val removed = Tables.documents(s, d)
      .filter(col("doc_id") % deltaMod < deltaFrom && col("doc_id") % 7 === 0)
      .select("doc_id")
    val delta = sigsOf(
      Tables.documents(s, d).filter(col("doc_id") % deltaMod >= deltaFrom))
    neardupDelta(s, delta, idx, 0.5, Some(removed))
      .orderBy("delta_id", "base_id")
  }

  val registry: Map[String, Q] = Map(
    "dd14_takedown" -> dd14_takedown,
    "dd11_incremental_lsh" -> dd11_incremental_lsh,
    "dd10_incremental" -> dd10_incremental,
    "dd09_substring_dups" -> dd09_substring_dups,
    "dd07_keep_longest" -> dd07_keep_longest,
    "dd06_neardup_clusters" -> dd06_neardup_clusters,
    "dd01_exact" -> dd01_exact,
    "dd02_ngram_jaccard" -> dd02_ngram_jaccard,
    "dd12_cross_source_dups" -> dd12_cross_source_dups,
    "dd13_cross_source_overlap" -> dd13_cross_source_overlap,
    "dd03_embed_neardup" -> dd03_embed_neardup,
    "dd04_minhash_lsh" -> dd04_minhash_lsh,
    "dd05_simhash" -> dd05_simhash,
    "dd08_embed_neardup_ivf" -> dd08_embed_neardup_ivf)

  private val sqlToks =
    "list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "dd10_incremental" ->
      """WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |base AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 8),
        |delta AS (SELECT * FROM f WHERE doc_id % 10 >= 8)
        |SELECT d.fp, min(d.doc_id) AS keep_id, count(*) AS n_delta
        |FROM delta d LEFT JOIN base b ON d.fp = b.fp
        |WHERE b.fp IS NULL
        |GROUP BY d.fp ORDER BY d.fp""".stripMargin,
    "dd01_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,
    "dd09_substring_dups" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i FROM t)),
         |post AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 64),
         |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN post USING (s))
         |SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id1, id2""".stripMargin,
    "dd02_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM t)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
         |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |          FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id1, id2, jacc FROM (
         |  SELECT id1, id2,
         |    round((CAST(inter AS DOUBLE) / (x.n + y.n - inter)) * 10000) / 10000 AS jacc
         |  FROM pairs JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id) z
         |WHERE jacc >= 0.2 ORDER BY id1, id2""".stripMargin,
    "dd12_cross_source_dups" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM t)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
         |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |          FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |dd02 AS (SELECT id1, id2 FROM (
         |  SELECT id1, id2,
         |    round((CAST(inter AS DOUBLE) / (x.n + y.n - inter)) * 10000) / 10000 AS jacc
         |  FROM pairs JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id) z
         |  WHERE jacc >= 0.2)
         |SELECT least(d1.source, d2.source) AS src_a,
         |  greatest(d1.source, d2.source) AS src_b,
         |  count(*) AS n_pairs
         |FROM dd02 p
         |JOIN documents d1 ON p.id1 = d1.doc_id
         |JOIN documents d2 ON p.id2 = d2.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dd07_keep_longest" ->
      """SELECT fp, doc_id AS keep_id, n_chars AS keep_chars FROM (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY fp""".stripMargin,
    "dd06_neardup_clusters" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM t)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
         |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |prs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |nd AS (SELECT id1, id2 FROM prs JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
         |       WHERE round((CAST(inter AS DOUBLE) / (x.n + y.n - inter)) * 10000) / 10000 >= 0.2),
         |edges AS (SELECT id1 AS a, id2 AS b FROM nd UNION SELECT id2, id1 FROM nd),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, min(b) AS cluster_id FROM reach
         |GROUP BY a HAVING min(b) < a ORDER BY doc_id""".stripMargin,
    "dd03_embed_neardup" ->
      """SELECT id1, id2, cos FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round((list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |      (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |       sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 10000) / 10000 AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) z
        |WHERE cos >= 0.35 ORDER BY id1, id2""".stripMargin)
}
