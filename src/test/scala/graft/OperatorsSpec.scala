package graft

import org.apache.spark.sql.functions._

/** Batch-operator smoke + cross-operator consistency at sf0.001.
  * (Value-level correctness is enforced by the DuckDB oracle gate —
  * tools/check.py / the driver's CORRECTNESS run; these specs cover
  * the contract and the non-oracle operators.)
  */
class OperatorsSpec extends SparkSpecBase {

  test("driver contract: entry returns rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every registered query runs and returns rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with 0 rows: $empties")
  }

  test("tx16 gate discriminates; keep is exactly 'no rule fired'") {
    val rows = text.TextAnalysis.tx16_quality_gate(spark, sfDir).collect()
    val (kept, dropped) = rows.partition(_.getAs[Boolean]("keep"))
    assert(kept.nonEmpty && dropped.nonEmpty,
      s"gate does not discriminate: ${kept.length} kept / ${dropped.length} dropped")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") == r.getAs[String]("reasons").isEmpty)
    }
    // reasons use only the fixed rule vocabulary, in declaration order
    val order = Seq("len_short", "len_long", "low_stopword",
      "repetitive_tokens", "repetitive_bigrams", "word_len_anomaly")
    dropped.foreach { r =>
      val rs = r.getAs[String]("reasons").split(",").toSeq
      assert(rs.forall(order.contains), s"unknown rule in: $rs")
      assert(rs == rs.sortBy(order.indexOf), s"rules out of order: $rs")
    }
  }

  test("graft_heavy_hitters: lower bounds, mergeable-summary error, guaranteed recovery") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // skewed synthetic stream: item i appears (41-i)^2 times over 40
    // distinct items, shuffled deterministically; capacity 8 ≪ 40
    // distinct keys forces constant eviction
    val truth = (1 to 40).map(i => s"item$i" -> (41 - i) * (41 - i)).toMap
    val rows = truth.toSeq.flatMap { case (t, c) => Seq.fill(c)(t) }
      .sortBy(t => scala.util.hashing.MurmurHash3.stringHash(t + truth(t)))
    val n = rows.size
    val cap = 8
    val df = rows.toDF("tok").repartition(7)
    val row = df.selectExpr(s"graft_heavy_hitters(tok, $cap) AS hh")
      .select("hh.total", "hh.items").head()
    assert(row.getLong(0) == n.toLong, "total must be the exact stream length")
    val items = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(items.size <= cap, s"summary exceeded capacity: ${items.size}")
    // sorted (lb desc, tok asc)
    assert(items == items.sortBy { case (t, c) => (-c, t) })
    val maxErr = n.toDouble / (cap + 1)
    items.foreach { case (t, lb) =>
      val c = truth(t)
      assert(lb <= c, s"$t: lower bound $lb exceeds true count $c")
      assert(c - lb <= maxErr, s"$t: error ${c - lb} above n/(cap+1)=$maxErr")
    }
    // anything more frequent than n/(cap+1) is guaranteed present
    val present = items.map(_._1).toSet
    truth.filter(_._2 > maxErr).keys.foreach(t =>
      assert(present.contains(t), s"guaranteed heavy hitter $t missing"))
  }

  test("q47: sketch-then-verify top-20 equals the exact wordcount top-20, with margin") {
    val hh = operators.Relational.q47_heavy_hitters(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = operators.Relational.q01_wordcount(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).take(20)
    assert(hh.toSeq == exact.toSeq, "candidate re-count diverged from exact top-20")
    // provable-exactness condition: the 20th token clears the
    // Misra–Gries guarantee line n/(capacity+1) — and not barely
    val n = graft.Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "").count()
    val line = n.toDouble / 4097
    assert(hh.last._2 > 2 * line,
      s"20th token count ${hh.last._2} too close to the guarantee line $line")
  }

  test("q53 bloom pre-filter: no false negatives, bounded overshoot, joinless probe plan") {
    val keys = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val orderKeys = Tables.orders(spark, sfDir)
      .select("o_custkey").collect().map(_.getLong(0))
    val surv = operators.Relational.bloomSurvivors(spark, sfDir)
    val got = surv.select("o_custkey").collect().map(_.getLong(0))
    val trueMatches = orderKeys.count(keys)
    // a bloom can only over-admit: every true-match row must survive
    assert(got.count(keys) == trueMatches,
      "bloom pre-filter dropped rows whose keys ARE in the dim — false negative")
    // and the overshoot is bounded (m=2^18, k=5 over this key count
    // puts the analytic fp rate far below 1%)
    val fps = got.length - trueMatches
    val nonMatches = orderKeys.length - trueMatches
    assert(fps <= math.max(1, nonMatches / 100),
      s"bloom admitted $fps of $nonMatches non-matching rows")
    // the probe is a narrow codegen'd filter on the fact scan — no
    // join anywhere in the pre-filter plan
    val plan = surv.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"), s"probe missing from plan:\n$plan")
    assert(!plan.contains("Join"), s"pre-filter plan contains a join:\n$plan")
    // sketch mechanics at a size that actually stresses fp behavior:
    // 10k keys in 2^18 bits / 5 hashes → analytic fp ≈ 1.6e-4; the
    // measured rate over 100k foreign probes must stay under 10x that
    val bits = new Array[Long]((1 << 18) / 64)
    (0 until 10000).foreach(i => graft.functions.GraftHashOps.bloomSet(bits, i.toLong, 5))
    val bytes = graft.functions.GraftHashOps.bloomBytesWithHeader(bits, 5)
    (0 until 10000).foreach(i => assert(
      graft.functions.GraftHashOps.bloomMightContain(bytes, i.toLong, 5),
      s"inserted key $i reported absent"))
    val fpCount = (10000 until 110000).count(i =>
      graft.functions.GraftHashOps.bloomMightContain(bytes, i.toLong, 5))
    assert(fpCount <= 160, s"fp rate ${fpCount / 100000.0} exceeds 10x the analytic rate")
    // merge soundness: the distributed build (map-side partial OR
    // merges across 7 partitions) equals a single-buffer build
    import spark.implicits._
    val distributed = (0 until 10000).map(_.toLong).toDF("k").repartition(7)
      .agg(graft.functions.GraftFunctions.bloomAgg("k", 1 << 18, 5))
      .head().getAs[Array[Byte]](0)
    // the published sketch carries the r18 (magic + built-k) header
    assert(java.util.Arrays.equals(distributed,
      graft.functions.GraftHashOps.bloomBytesWithHeader(bits, 5)),
      "distributed OR-merge diverges from the single-buffer build")
  }

  test("q52 bottom-k quantile sketch: lossless merge, bounded rank error") {
    val k = 256
    // lossless merge in the sketch domain: the monthly rollup's
    // merged year sketch must BE the sketch computed over the year
    // directly — bottom-k's defining property (q51's bitmap-OR
    // exactness, on the sampling sketch)
    val rows = operators.Relational.bottomkRows(spark, sfDir)
    val direct = rows.groupBy("y")
      .agg(graft.functions.GraftFunctions.topK("nh", "cents", k).as("sk"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getLong(1)))).toMap
    val monthly = rows.groupBy("y", "m")
      .agg(graft.functions.GraftFunctions.topK("nh", "cents", k).as("sk"))
    val rolled = monthly.select(col("y"), explode(col("sk")).as("p"))
      .select(col("y"), col("p.score").as("nh"), col("p.id").as("cents"))
      .groupBy("y")
      .agg(graft.functions.GraftFunctions.topK("nh", "cents", k).as("sk"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getLong(1)))).toMap
    assert(rolled == direct, "merged monthly sketches diverge from the direct year sketch")
    // rank error: each year's estimated quantile must sit within
    // ±0.15 of its nominal rank in the TRUE sorted year (4-5σ for
    // k=256; the estimate is a k-sample order statistic)
    val est = operators.Relational.q52_quantile_rollup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    val exact = Tables.lineitem(spark, sfDir)
      .select(year(col("l_shipdate")).as("y"), col("l_extendedprice").as("v"))
      .collect().groupBy(_.getInt(0))
      .map { case (y, rs) => y.toLong -> rs.map(_.getDouble(1)).sorted }
    est.foreach { case (y, p50, p95) =>
      val vs = exact(y)
      def rankOf(x: Double) = vs.count(_ <= x).toDouble / vs.length
      assert(math.abs(rankOf(p50) - 0.5) <= 0.15,
        s"year $y p50 est $p50 lands at rank ${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.15,
        s"year $y p95 est $p95 lands at rank ${rankOf(p95)}")
    }
    // and the sketch really is bounded: no year sample exceeds k
    assert(direct.values.forall(_.size <= k))
  }

  test("minhash LSH candidates recover the exact-Jaccard near-dup pairs") {
    val exact = dedup.Dedup.dd02_ngram_jaccard(spark, sfDir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedup.Dedup.dd04_minhash_lsh(spark, sfDir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with exact Jaccard, so it can only miss
    // pairs (recall <= 1), never invent them
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 0.8).toInt, s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("IVF ANN recall@5 vs brute force meets the quantified floor") {
    def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = byQuery(similarity.Similarity.ann01_brute_topk(spark, sfDir)
      .select("q_id", "n_id").collect())
    val ivf = byQuery(similarity.Similarity.ann02_ivf_topk(spark, sfDir)
      .select("q_id", "n_id").collect())
    // every query must come back with a full k=5 result set
    assert(ivf.keySet == exact.keySet, "IVF dropped whole queries")
    assert(ivf.values.forall(_.size == 5), "IVF returned short top-k lists")
    val perQuery = exact.map { case (q, ns) =>
      q -> ivf(q).intersect(ns).size.toDouble / ns.size
    }
    val mean = perQuery.values.sum / perQuery.size
    info(f"IVF recall@5: mean $mean%.2f, per-query ${perQuery.toSeq.sortBy(_._1).map(_._2).map(v => f"$v%.1f").mkString(",")}")
    assert(mean >= 0.5, f"mean IVF recall@5 $mean%.2f below floor 0.5")
    // nProbe=3 of 10 cells probes ~30% of the corpus; no query should
    // come back empty-handed
    assert(perQuery.values.forall(_ >= 0.2), s"a query fell below 0.2 recall: $perQuery")
  }

  test("ann05 PQ ANN: recall floor, determinism, 8-byte codes, heap+broadcast plan") {
    def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = byQuery(similarity.Similarity.ann01_brute_topk(spark, sfDir)
      .select("q_id", "n_id").collect())
    val df = similarity.Similarity.ann05_pq_topk(spark, sfDir)
    val pq = byQuery(df.select("q_id", "n_id").collect())
    assert(pq.keySet == exact.keySet, "PQ dropped whole queries")
    assert(pq.values.forall(_.size == 5), "PQ returned short top-k lists")
    val perQuery = exact.map { case (q, ns) =>
      q -> pq(q).intersect(ns).size.toDouble / ns.size
    }
    val mean = perQuery.values.sum / perQuery.size
    info(f"PQ ANN recall@5: mean $mean%.2f, per-query ${perQuery.toSeq.sortBy(_._1).map(_._2).map(v => f"$v%.1f").mkString(",")}")
    // ADC scores EVERY row (no bucketing misses); the only
    // approximation is quantization error in shortlist membership,
    // so the floor sits above the bucketed families' (measured dial:
    // rf=8 → .82 at sf0.001, .90 at sf0.01, per-query min 0.6)
    assert(mean >= 0.7, f"mean PQ recall@5 $mean%.2f below floor 0.7")
    assert(perQuery.values.forall(_ >= 0.4), s"a query fell below 0.4 recall: $perQuery")
    // deterministic end-to-end (hash-ordered sample, fixed init/iters):
    // a fresh training run on a fresh session-dir memo reproduces bit-equal codebooks
    val b1 = similarity.Similarity.trainPqCodebooks(spark, sfDir)
    val b2 = similarity.Similarity.trainPqCodebooks(spark, sfDir)
    assert(b1.length == b2.length && b1.indices.forall(j =>
      b1(j).indices.forall(b => java.util.Arrays.equals(b1(j)(b), b2(j)(b)))),
      "PQ training is not deterministic")
    // the scale contract: the whole index is ONE long per vector
    val enc = similarity.Similarity.pqBooksFor(spark, sfDir)
    assert(enc.length * similarity.Similarity.pqBits <= 64,
      "codes do not pack into 8 bytes")
    // plan: heap aggregates select both the ADC shortlist and the
    // final exact top-k (no Window over scored rows); the shortlist
    // fetch is a broadcast join against the streaming corpus scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), s"selection is not the heap aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"shortlist fetch is not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into ann05:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in ann05:\n$plan")
  }

  test("ann06 IVF-PQ ANN: recall floor, probed-cell containment, pruned ADC scan plan") {
    def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = byQuery(similarity.Similarity.ann01_brute_topk(spark, sfDir)
      .select("q_id", "n_id").collect())
    val df = similarity.Similarity.ann06_ivfpq_topk(spark, sfDir)
    val ivfpq = byQuery(df.select("q_id", "n_id").collect())
    assert(ivfpq.keySet == exact.keySet, "IVF-PQ dropped whole queries")
    assert(ivfpq.values.forall(_.size == 5), "IVF-PQ returned short top-k lists")
    val perQuery = exact.map { case (q, ns) =>
      q -> ivfpq(q).intersect(ns).size.toDouble / ns.size
    }
    val mean = perQuery.values.sum / perQuery.size
    info(f"IVF-PQ recall@5: mean $mean%.2f, per-query ${perQuery.toSeq.sortBy(_._1).map(_._2).map(v => f"$v%.1f").mkString(",")}")
    // composed approximation: IVF misses neighbors outside the probed
    // cells AND PQ quantization can drop shortlist members, so the
    // floor sits at the bucketed families' level, not ann05's
    assert(mean >= 0.5, f"mean IVF-PQ recall@5 $mean%.2f below floor 0.5")
    assert(perQuery.values.forall(_ >= 0.2), s"a query fell below 0.2 recall: $perQuery")
    // containment: with the same routing, PQ can only shrink the pool
    // IVF scores exactly — every IVF-PQ result must come from a
    // probed cell, i.e. appear in ann02's scored universe. Verify via
    // the exact probe at the same nProbe on the SAME persisted index.
    val idx = similarity.Similarity.ivfIndexFor(spark, sfDir)
    val cells = similarity.Similarity.indexVectors(spark, idx).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val qVecs = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    // (routing itself is spec'd in the IVF test; here we just require
    // each returned neighbor to share a cell with SOME probed cell of
    // its query — i.e. the probe never fetched outside its pruned scan)
    val probedOf = qVecs.map { case (q, v) =>
      q -> similarity.Similarity.probedCellsOf(spark, idx, v, 3).toSet
    }
    ivfpq.foreach { case (q, ns) =>
      ns.foreach(nId => assert(probedOf(q).contains(cells(nId)),
        s"query $q returned $nId from unprobed cell ${cells(nId)} (probed ${probedOf(q)})"))
    }
    // plan: both scans of the vector layout are partition-pruned to
    // the probed cells; selection is the heap aggregate; the
    // shortlist fetch and query join are broadcast; nothing windows
    // or nested-loops
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), s"selection is not the heap aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"shortlist fetch is not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into ann06:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in ann06:\n$plan")
    // cell pruning moved from Hive partition discovery to the r18
    // generation MANIFEST: a probed-cell read touches only files of
    // those cells — asserted at runtime via input_file_name, which is
    // stronger than the old PartitionFilters plan-string check
    val someCells = probedOf.values.flatten.toSet.toSeq.sorted.take(2)
    val touched = similarity.Similarity.indexVectors(spark, idx, Some(someCells))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(f => someCells.exists(c =>
      f.contains(s"pcell=$c/") || f.contains(s"cell=$c/"))),
      s"probed read touched foreign-cell files:\n${touched.mkString("\n")}")
    // one persisted index serves both probe fidelities: ann02 ran (or
    // runs) against the SAME memoized dir, no rebuild
    assert(similarity.Similarity.ivfIndexFor(spark, sfDir) == idx,
      "ann06 probe triggered an index rebuild")
  }

  test("ann07 exact range search: threshold cut, exhaustive vs driver recompute") {
    val df = similarity.Similarity.ann07_range_search(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "range search empty at tau=0.30")
    assert(got.forall(_._3 >= 0.30), "a below-threshold pair leaked through")
    // exhaustive ground truth recomputed driver-side from the raw table
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = for {
      (q, qv) <- vecs.toSeq if q < 10
      (n, nv) <- vecs.toSeq if n != q
      c = math.round(cos(qv, nv) * 1000000) / 1000000.0 if c >= 0.30
    } yield (q, n)
    assert(got.map(t => (t._1, t._2)).toSet == want.toSet,
      s"range result != exhaustive sweep (got ${got.length}, want ${want.size})")
  }

  test("ann08 IVF range search: subset of exact, recall floor, probed-cell containment") {
    val exact = similarity.Similarity.ann07_range_search(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val df = similarity.Similarity.ann08_range_ivf(spark, sfDir)
    val ivf = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty, "IVF range search empty at tau=0.30")
    // containment with equal scores: IVF prunes candidates, never
    // invents or rescores them — every returned pair is an exact-sweep
    // pair with the identical rounded cosine
    ivf.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"pair $pair not in the exact sweep")
      assert(exact(pair) == c, s"pair $pair rescored: $c != ${exact(pair)}")
    }
    val recall = ivf.size.toDouble / exact.size
    info(f"IVF range recall at nProbe=3: $recall%.2f (${ivf.size}/${exact.size})")
    assert(recall >= 0.4, f"IVF range recall $recall%.2f below floor 0.4")
    // every returned neighbor came from a cell its query probed — the
    // scan never left the manifest-pruned file set
    val idx = similarity.Similarity.ivfIndexFor(spark, sfDir)
    val cells = similarity.Similarity.indexVectors(spark, idx).select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val qVecs = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    // probed sets hoisted per QUERY (probedCellsOf re-reads the
    // centroid table each call; pairs >> queries)
    val probedOf = qVecs.map { case (q, v) =>
      q -> similarity.Similarity.probedCellsOf(spark, idx, v, 3).toSet
    }
    ivf.keys.foreach { case (q, n) =>
      assert(probedOf(q).contains(cells(n)),
        s"query $q returned $n from unprobed cell ${cells(n)}")
    }
    // no per-query selection state: the threshold plan has no heap
    // aggregate, no window, and no all-pairs join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_topk"), s"a heap crept into range search:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into range search:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in ann08:\n$plan")
  }

  test("ann09 kNN self-join: every-row coverage, recall floor, heap plan, no all-pairs") {
    val df = similarity.Similarity.ann09_knn_join(spark, sfDir)
    val rows = df.collect()
    val byQ = rows.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // coverage: every vector comes back ON THIS CORPUS (no cell is a
    // singleton with empty co-probes here — a vector alone in its
    // probed region legitimately returns nothing, see the scaladoc;
    // this assertion pins the empirical fact, not a structural law)
    assert(byQ.keySet == vecs.keySet,
      s"kNN join dropped ${vecs.keySet.size - byQ.keySet.size} query rows")
    // ranks dense from 1, k respected
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks == (1L to ranks.length.toLong) && ranks.length <= 5,
        s"query $q ranks not dense-from-1 within k: $ranks")
    }
    // recall vs a per-row exact driver recompute (500×500 at sf0.001)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val recalls = vecs.toSeq.map { case (q, qv) =>
      val exact = vecs.toSeq.filter(_._1 != q)
        .map { case (n, nv) => (n, math.round(cos(qv, nv) * 1000000) / 1000000.0) }
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1).toSet
      byQ(q).intersect(exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"kNN-join recall@5 over ${recalls.size} rows: mean $mean%.2f, min ${recalls.min}%.1f")
    assert(mean >= 0.4, f"mean kNN-join recall@5 $mean%.2f below floor 0.4")
    // selection is the bounded heap, map-side partial; routing stays
    // in-plan (no driver collect of the corpus-sized query side);
    // nothing windows, nothing all-pairs
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), s"selection is not the heap aggregate:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into ann09:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in ann09:\n$plan")
  }

  test("ann04 hyperplane-LSH ANN: recall floor, bounded candidates, broadcast plan") {
    def byQuery(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = byQuery(similarity.Similarity.ann01_brute_topk(spark, sfDir)
      .select("q_id", "n_id").collect())
    val df = similarity.Similarity.ann04_lsh_topk(spark, sfDir)
    val lsh = byQuery(df.select("q_id", "n_id").collect())
    assert(lsh.keySet == exact.keySet, "LSH dropped whole queries")
    assert(lsh.values.forall(_.size == 5), "LSH returned short top-k lists")
    val perQuery = exact.map { case (q, ns) =>
      q -> lsh(q).intersect(ns).size.toDouble / ns.size
    }
    val mean = perQuery.values.sum / perQuery.size
    info(f"LSH ANN recall@5: mean $mean%.2f, per-query ${perQuery.toSeq.sortBy(_._1).map(_._2).map(v => f"$v%.1f").mkString(",")}")
    assert(mean >= 0.5, f"mean LSH recall@5 $mean%.2f below floor 0.5")
    assert(perQuery.values.forall(_ >= 0.2), s"a query fell below 0.2 recall: $perQuery")
    // the scale contract: the band join prunes — candidates are a
    // strict subset of all pairs — and the plan is a broadcast hash
    // join on the band key feeding the heap aggregate: no corpus
    // shuffle before candidate pruning, no window, nothing all-pairs
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val cands = similarity.Similarity.lshCandCount(spark, sfDir,
      similarity.Similarity.lshAnnBands, similarity.Similarity.lshAnnRows)
    val frac = cands.toDouble / (exact.size * (n - 1))
    info(f"LSH candidate fraction: $frac%.2f ($cands of ${exact.size * (n - 1)} pairs)")
    assert(frac <= 0.6, f"band join stopped pruning: $frac%.2f of all pairs survive")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"band join is not broadcast:\n$plan")
    assert(plan.contains("partial_graft_topk"), s"selection is not the heap aggregate:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into ann04:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in ann04:\n$plan")
  }

  test("ann03 heap-aggregate top-k equals ann01's window formulation, sans Window") {
    val win = similarity.Similarity.ann01_brute_topk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val agg = similarity.Similarity.ann03_topk_agg(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(agg.toSeq == win.toSeq, "heap aggregate diverges from the window ranking")
    // the scale contract: selection happens in a partial-aggregated
    // ObjectHashAggregate (map tasks emit ≤ k pairs per query before
    // the exchange) — no Window touches the n×q scored rows
    val plan = similarity.Similarity.ann03_topk_agg(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_graft_topk"),
      s"expected partial graft_topk aggregation:\n$plan")
    assert(!plan.contains("Window"), s"window crept back into ann03:\n$plan")
  }

  test("IVF index: build once / probe many, narrow assignment, pruned probe scan") {
    // second invocation must reuse the session's persisted index, not
    // retrain — the memo hands back the same index dir
    val d1 = similarity.Similarity.ivfIndexFor(spark, sfDir)
    val d2 = similarity.Similarity.ivfIndexFor(spark, sfDir)
    assert(d1 == d2, "index rebuilt on second use")
    // the full-corpus assignment is a narrow codegen'd map: no
    // Exchange, no Window, no join anywhere in the physical plan
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Array.fill(4)(Array.fill(64)(0.1))
    val assignPlan = similarity.Similarity.assignCells(e, cents)
      .queryExecution.executedPlan.toString
    Seq("Exchange", "Window", "Join").foreach(op =>
      assert(!assignPlan.contains(op), s"assignment plan contains $op:\n$assignPlan"))
    // probing reads ONLY the probed cell partitions of the vector
    // layout (static partition pruning), and never nested-loops
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
    val probe = similarity.Similarity.probeIvf(spark, d1, q)
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(!probePlan.contains("BroadcastNestedLoopJoin"),
      s"probe nested-loops:\n$probePlan")
    // cell pruning happens at the r18 generation manifest (files of
    // probed cells only, before Spark lists anything) — assert it at
    // runtime: a one-cell read touches no foreign-cell file
    locally {
      val c0 = similarity.Similarity.indexVectors(spark, d1)
        .select("cell").distinct().orderBy("cell").head().getInt(0)
      val touched = similarity.Similarity.indexVectors(spark, d1, Some(Seq(c0)))
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(touched.nonEmpty && touched.forall(f =>
        f.contains(s"pcell=$c0/") || f.contains(s"cell=$c0/")),
        s"one-cell read touched foreign-cell files:\n${touched.mkString("\n")}")
    }
    // top-k selection is the bounded-heap aggregate (map-side partial
    // heaps), NOT a row_number window routing every candidate row for
    // a query to one reducer — the same guard q43/ann03/ann05/ann06
    // carry
    assert(probePlan.contains("partial_graft_topk"),
      s"probe selection is not the heap aggregate:\n$probePlan")
    assert(!probePlan.contains("Window"),
      s"a window crept into the IVF probe:\n$probePlan")
    // sample-trained centroids: the training path must accept a
    // sample and still produce k usable (non-degenerate) centroids
    val eFull = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val trained = similarity.Similarity.trainCentroids(eFull, k = 8, iters = 2, sampleMod = 8)
    assert(trained.length == 8)
    assert(trained.count(_.exists(_ != 0.0)) >= 6, "sample training degenerated")
  }

  test("blocked exact near-dup equals the all-pairs baseline, without a nested-loop join") {
    val blocked = dedup.Dedup.dd03_embed_neardup(spark, sfDir)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"blocked path still nested-loops:\n$plan")
    val baseline = dedup.Dedup.embedNeardupAllPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == baseline)
  }

  test("IVF-blocked embed near-dup is a subset of exact dd03, recall-bounded") {
    val exact = dedup.Dedup.dd03_embed_neardup(spark, sfDir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = dedup.Dedup.dd08_embed_neardup_ivf(spark, sfDir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-cosine verification means dd08 can only MISS pairs
    assert(ivf.subsetOf(exact), s"dd08 invented pairs: ${(ivf -- exact).take(5)}")
    val recall = ivf.size.toDouble / exact.size
    info(f"dd08 recall vs dd03: $recall%.2f (${ivf.size}/${exact.size})")
    assert(recall >= 0.7, f"dd08 recall $recall%.2f below floor")
  }

  test("q44 bin-blocked range join equals the naive range-predicate join") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    // independent formulation: the range predicate Spark plans as a
    // nested-loop join — correct, and the 100 TB non-starter q44 avoids
    val naive = ev.as("a").join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.us") > col("a.us") && col("b.us") <= col("a.us") + 600000000L)
      .groupBy(col("a.user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("b.us") - col("a.us")).as("max_gap_us"),
        min(col("b.us") - col("a.us")).as("min_gap_us"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val blocked = operators.Relational.q44_range_join(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(blocked == naive, "bin blocking changed the range-join result")
    val plan = operators.Relational.q44_range_join(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "blocked range join must plan as an equi-join")
  }

  test("pp04 packing equals the single-window cumsum baseline and conserves tokens") {
    import org.apache.spark.sql.expressions.Window
    // independent formulation: the textbook single-partition window
    // (fine at spec scale, the 100 TB non-starter pp04 avoids)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(graft.text.TextAnalysis.toksExpr).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n"))
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseline = toks.withColumn("cum", sum("n").over(w))
      .withColumn("chunk", floor((col("cum") - col("n")) / lit(512.0)))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val packed = pipeline.Pipeline.pp04_pack_sequences(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(packed == baseline, "distributed packing diverges from the window baseline")
    val total = toks.agg(sum("n")).collect()(0).getLong(0)
    assert(packed.values.map(_._2).sum == total, "token volume not conserved across chunks")
  }

  test("pp13 chunks reconstruct the token stream: count formula, tail coverage, overlap") {
    val W = 64; val S = 48
    val toks = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq)
      .filter(_._2.nonEmpty).toMap
    val chunks = pipeline.Pipeline.pp13_chunk_windows(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == toks.keySet, "chunked doc set != tokenized doc set")
    toks.foreach { case (id, t) =>
      val n = t.length
      val got = chunks(id).sortBy(_.getLong(1))
      // 1 + ceil(max(n-W,0)/S) windows, indexed densely from 0
      assert(got.length == 1 + math.ceil(math.max(n - W, 0) / S.toDouble).toInt,
        s"doc $id: ${got.length} chunks over $n tokens")
      assert(got.map(_.getLong(1)).toSeq == (0L until got.length.toLong),
        s"doc $id: chunk_idx not dense")
      got.foreach { r =>
        val start = r.getLong(2).toInt
        val want = t.slice(start, start + W)
        assert(r.getLong(1) * S == start, s"doc $id: stride broken")
        assert(r.getLong(3) == want.length, s"doc $id chunk ${r.getLong(1)}: n_toks")
        assert(r.getString(4) == want.mkString(" "),
          s"doc $id chunk ${r.getLong(1)}: text != token window")
      }
      // the last window reaches the final token: nothing truncated
      assert(got.last.getLong(2) + got.last.getLong(3) >= n,
        s"doc $id: tail uncovered")
    }
  }

  test("pp14 split: total partition, group atomicity, zero pair leakage, stable proportions") {
    val rows = pipeline.Pipeline.pp14_split_leakage_safe(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, s"${rows.length} assignments over $nDocs docs")
    val splitOf = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    val groupOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc lands in exactly one of the three splits
    assert(splitOf.values.toSet.subsetOf(Set("train", "val", "test")))
    // group atomicity: a group's members all carry one split
    rows.groupBy(_.getLong(1)).foreach { case (g, ms) =>
      assert(ms.map(_.getString(2)).distinct.length == 1,
        s"group $g straddles splits")
    }
    // THE property: no near-dup pair straddles splits — eval
    // contamination is structurally impossible, not just unlikely
    dedup.Dedup.jaccardPairs(spark, sfDir).select("id1", "id2").collect()
      .foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(splitOf(a) == splitOf(b),
          s"near-dup pair ($a, $b) split across ${splitOf(a)}/${splitOf(b)}")
        assert(groupOf(a) == groupOf(b),
          s"near-dup pair ($a, $b) landed in different groups")
      }
    // singletons are their own group; clustered docs exist on this corpus
    val clustered = rows.count(r => r.getLong(0) != r.getLong(1))
    assert(clustered > 0, "corpus has no clustered members — spec is vacuous")
    // proportions: 2/16 + 2/16 + 12/16 by hash design; loose bounds
    // absorb group-level hash variance on a 500-doc corpus
    val frac = rows.groupBy(_.getString(2)).view.mapValues(_.length.toDouble / rows.length)
    info(f"split fractions: ${frac.toMap}")
    assert(frac.getOrElse("test", 0.0) > 0.04 && frac.getOrElse("test", 0.0) < 0.25)
    assert(frac.getOrElse("val", 0.0) > 0.04 && frac.getOrElse("val", 0.0) < 0.25)
    assert(frac.getOrElse("train", 0.0) > 0.55)
    // deterministic: a rerun reproduces the assignment bit-for-bit
    val again = pipeline.Pipeline.pp14_split_leakage_safe(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == splitOf, "split assignment not deterministic")
  }

  test("keyedCumSum matches a per-key driver recompute, ties and all") {
    import spark.implicits._
    // keys of very different sizes, duplicate order values (tie broken
    // by tieCol), and a key spanning several range buckets
    val rows = (0 until 500).map { i =>
      (s"k${i % 7}", s"h${i % 13}", i.toLong, (i % 5 + 1).toLong)
    }
    val df = rows.toDF("key", "ord", "tie", "n")
    val got = pipeline.Pipeline.keyedCumSum(df, "key", "ord", "tie", "n", nParts = 8)
      .select("key", "ord", "tie", "cum").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    val want = rows.groupBy(_._1).flatMap { case (_, ks) =>
      ks.sortBy(t => (t._2, t._3)).scanLeft(("", "", 0L, 0L) -> 0L) {
        case ((_, acc), t) => t -> (acc + t._4)
      }.drop(1).map { case (t, c) => (t._1, t._2, t._3) -> c }
    }
    assert(got == want, "keyed running sum diverges from the driver recompute")
    // NULL is a key like any other: the offset join is null-safe, so
    // a null-keyed partition accumulates instead of silently vanishing
    val withNull = Seq(
      (Option.empty[String], "a", 1L, 2L),
      (Option.empty[String], "b", 2L, 3L),
      (Option("k"), "a", 1L, 5L)).toDF("key", "ord", "tie", "n")
    val nulled = pipeline.Pipeline.keyedCumSum(withNull, "key", "ord", "tie", "n", nParts = 4)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) -> r.getAs[Long]("cum")).toMap
    assert(nulled == Map(
      (None, "a") -> 2L, (None, "b") -> 5L, (Some("k"), "a") -> 5L),
      s"null-keyed rows mishandled: $nulled")
    // broadcast gate: past the key-count ceiling the offsets HINT is
    // dropped — the plan no longer FORCES a driver-bound broadcast on
    // distinct-key count (AQE may still pick broadcast at runtime when
    // the actual bytes allow, as they do on this tiny frame — that is
    // the designed fallback, not a gate failure) — and the answer is
    // unchanged
    val unbroadcast = pipeline.Pipeline.keyedCumSum(
      df, "key", "ord", "tie", "n", nParts = 8, broadcastMaxRows = 0L)
    val hinted = pipeline.Pipeline.keyedCumSum(
      df, "key", "ord", "tie", "n", nParts = 8)
    def hasHint(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.toString.toLowerCase.contains("hint")
    assert(hasHint(hinted), "below the ceiling the offsets join must carry the hint")
    assert(!hasHint(unbroadcast),
      "offsets join still hint-forced broadcast past the key-cardinality ceiling")
    val gotU = unbroadcast.select("key", "ord", "tie", "cum").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(gotU == want, "shuffle-join fallback diverges from the broadcast path")
  }

  test("pp15 keeps exactly the per-source md5-ordered prefix to the token budget") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(expr(graft.text.TextAnalysis.toksExpr)).cast("long").as("n"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val bySrc = docs.groupBy(_._2)
    val budget = 0.5 * docs.map(_._3).sum.toDouble / bySrc.size
    // driver recompute of the greedy prefix
    val want = bySrc.values.flatMap { ds =>
      var acc = 0L
      ds.sortBy(t => (t._4, t._1)).takeWhile { t =>
        val in = acc < budget; acc += t._3; in
      }.map(_._1).toSeq
    }.toSet
    val got = pipeline.Pipeline.pp15_mixture_sample(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSet == want,
      s"keep-list != greedy prefix (${got.length} vs ${want.size})")
    // the budget discipline: an over-budget source overshoots by less
    // than its boundary doc; an under-budget source keeps everything
    got.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val kept = rs.map(_.getLong(2)).sum
      val all = bySrc(src).map(_._3).sum
      if (all.toDouble <= budget)
        assert(rs.length == bySrc(src).length, s"$src under budget but trimmed")
      else assert(kept - budget < rs.map(_.getLong(2)).max,
        s"$src overshot the budget by more than its boundary doc")
    }
    // deterministic end to end
    val again = pipeline.Pipeline.pp15_mixture_sample(spark, sfDir).collect()
    assert(again.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq)
  }

  test("pp05 flags exactly the train docs sharing a 5-gram with the eval split") {
    // independent driver-side formulation over the tiny spec corpus
    def grams(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      if (t.length < 5) Set.empty
      else t.sliding(5).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> grams(r.getString(1)))
    val evalGrams = docs.filter(_._1 % 10 == 0).flatMap(_._2).toSet
    val expected = docs.filter { case (id, gs) =>
      id % 10 != 0 && gs.exists(evalGrams)
    }.map { case (id, gs) => id -> gs.count(evalGrams).toLong }.toMap
    val got = pipeline.Pipeline.pp05_decontaminate(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"contamination sets differ: ${(got.keySet diff expected.keySet) ++ (expected.keySet diff got.keySet)}")
  }

  test("pp06 keeps ceil(20%) of every (lang, source) stratum, deterministically") {
    val strata = Tables.documents(spark, sfDir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val kept = pipeline.Pipeline.pp06_stratified_sample(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    strata.foreach { case (k, n) =>
      val expect = math.ceil(0.2 * n).toLong
      assert(kept.getOrElse(k, 0L) == expect, s"stratum $k: kept ${kept.getOrElse(k, 0L)} of $n, expected $expect")
    }
    // reproducible: a second run selects the identical doc set
    val a = pipeline.Pipeline.pp06_stratified_sample(spark, sfDir).collect().toSeq
    val b = pipeline.Pipeline.pp06_stratified_sample(spark, sfDir).collect().toSeq
    assert(a == b, "stratified sample is not deterministic")
  }

  test("dd09 substring-dup pairs share the claimed verbatim windows") {
    // independent driver-side recompute: sliding 8-token windows,
    // df-capped exactly like the operator
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map { r =>
        val toks = r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty)
        r.getLong(0) -> (if (toks.length < 8) Set.empty[String]
          else toks.sliding(8).map(_.mkString(" ")).toSet)
      }
    val docFreq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val kept = docs.map { case (id, ws) =>
      id -> ws.filter(w => docFreq(w) >= 2 && docFreq(w) <= 64)
    }
    val expected = (for {
      (i, wi) <- kept; (j, wj) <- kept if i < j
      shared = (wi intersect wj).size if shared >= 2
    } yield (i, j) -> shared.toLong).toMap
    val got = dedup.Dedup.dd09_substring_dups(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected,
      s"pair sets differ: ${(got.keySet diff expected.keySet) ++ (expected.keySet diff got.keySet)}")
  }

  test("pp07 epoch mixture honors the per-source weights exactly") {
    val perSource = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val epochs = pipeline.Pipeline.pp07_mix_epochs(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("rows"),
        countDistinct("doc_id").as("docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    epochs.foreach { case (src, rows, docs) =>
      val n = perSource(src)
      val w = src.drop(3).toInt match {
        case i if i < 5 => 2.5
        case i if i < 10 => 1.0
        case _ => 0.25
      }
      val extra = math.ceil((w - math.floor(w)) * n).toLong
      val expectRows = math.floor(w).toLong * n + extra
      val expectDocs = if (w >= 1.0) n else extra
      assert(rows == expectRows && docs == expectDocs,
        s"$src: rows=$rows docs=$docs, expected rows=$expectRows docs=$expectDocs")
    }
    // every source appears in the mixture (downsampled, never dropped)
    assert(epochs.map(_._1).toSet == perSource.keySet)
  }

  test("pp03 LSH-path curation agrees with pp02's exact-path keep-list") {
    val exact = pipeline.Pipeline.pp02_curate(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lsh = pipeline.Pipeline.pp03_curate_lsh(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // LSH can only MISS pairs (dd04 ⊆ dd02), and a doc that is
    // non-minimal in a dd04 component stays non-minimal when more
    // edges merge components — so pp03 can only keep EXTRA docs,
    // never drop one pp02 keeps
    assert(exact.subsetOf(lsh), s"pp03 dropped docs pp02 kept: ${exact -- lsh}")
    val agreement = exact.size.toDouble / lsh.size
    info(f"pp03/pp02 keep-list agreement: $agreement%.3f (${lsh.size - exact.size} extra keeps)")
    assert(agreement >= 0.95, f"keep-list agreement $agreement%.3f below 0.95")
  }

  test("memoized near-dup pair set can be evicted and rebuilds on demand") {
    import org.apache.spark.storage.StorageLevel
    val p1 = dedup.Dedup.jaccardPairs(spark, sfDir)
    p1.count() // materialize the cache
    assert(p1.storageLevel != StorageLevel.NONE, "pair set not cached")
    assert(dedup.Dedup.evictPairs(spark, sfDir), "no memo entry to evict")
    assert(p1.storageLevel == StorageLevel.NONE, "cache entry survived eviction")
    assert(!dedup.Dedup.evictPairs(spark, sfDir), "double eviction reported an entry")
    val p2 = dedup.Dedup.jaccardPairs(spark, sfDir) // fresh build, re-memoized
    assert(p2.count() == p1.count())
    assert(p2.storageLevel != StorageLevel.NONE)
  }

  test("dd10 incremental dedup: index-side exchange-free, delta-only shuffle, evictable") {
    import graft.text.TextAnalysis.normText
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val idx = dedup.Dedup.fpIndexFor(s2, sfDir)
    assert(dedup.Dedup.fpIndexFor(s2, sfDir) == idx, "index rebuilt on second use")
    val delta = Tables.documents(s2, sfDir)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .filter(col("doc_id") % dedup.Dedup.deltaMod >= dedup.Dedup.deltaFrom)
    val out = dedup.Dedup.dedupDelta(s2, delta, idx)
    // the per-batch scale contract: the bucketed index satisfies the
    // anti-join's distribution straight off disk, so the ONLY row
    // exchanges in the plan belong to the delta (join input; the
    // groupBy reuses the join's fp partitioning)
    val plan = out.queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
      s"expected a sort-merge anti-join:\n$plan")
    assert(nExchanges == 1, s"expected 1 exchange (delta only), got $nExchanges:\n$plan")
    // correctness vs the direct (no-index) formulation
    val base = Tables.documents(s2, sfDir)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .filter(col("doc_id") % dedup.Dedup.deltaMod < dedup.Dedup.deltaFrom)
      .select("fp").distinct()
    val expect = delta.join(base, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_delta"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    // hygiene: evict drops the catalog entry; next use rebuilds
    dedup.Dedup.evictFpIndex(s2, sfDir)
    assert(!s2.catalog.tableExists(idx), "evict left the catalog table")
    assert(dedup.Dedup.fpIndexFor(s2, sfDir) == idx, "rebuild after evict failed")
    dedup.Dedup.evictFpIndex(s2, sfDir)
  }

  test("dd10 ingest loop: committed batch fingerprints gate the next batch") {
    import graft.text.TextAnalysis.normText
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val idx = dedup.Dedup.fpIndexFor(s2, sfDir)
    try {
      val f = Tables.documents(s2, sfDir)
        .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      val b1 = f.filter(col("doc_id") % 10 === 8)
      val b2 = f.filter(col("doc_id") % 10 === 9)
      // batch 1: detect, then COMMIT its new fps into the index
      val out1 = dedup.Dedup.dedupDelta(s2, b1, idx)
      dedup.Dedup.appendToFpIndex(s2, idx, out1.select("fp"))
      // batch 2 must be gated by base ∪ batch-1 commits
      val got2 = dedup.Dedup.dedupDelta(s2, b2, idx)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val baseFps = f.filter(col("doc_id") % 10 < 8)
        .select("fp").distinct().collect().map(_.getString(0)).toSet
      val b1Fps = b1.select("fp").collect().map(_.getString(0)).toSet
      val expect2 = b2.collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._2).map { case (fp, rows) =>
          (fp, rows.map(_._1).min, rows.length.toLong)
        }
        .filter { case (fp, _, _) => !baseFps(fp) && !b1Fps(fp) }.toSet
      assert(got2 == expect2, "batch 2 not gated by batch 1's committed fps")
      // the plan posture must survive appends: still a sort-merge
      // anti-join with only the delta's exchange (bucketing preserved)
      val plan = dedup.Dedup.dedupDelta(s2, b2, idx)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
        s"append broke the SMJ anti-join:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"append broke the exchange-free index side:\n$plan")
    } finally dedup.Dedup.evictFpIndex(s2, sfDir)
  }

  test("dd14 takedown: tombstoned docs vanish from probes; vacuum makes it physical") {
    import dedup.Dedup
    val base = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 < 8)
    val removed = base.filter(col("doc_id") % 7 === 0).select("doc_id")
    val delta = Dedup.sigsOf(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 10 >= 8))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id"),
        r.getAs[Double]("est_jacc"))).sortBy(t => (t._1, t._2)).toSeq

    // ground truth: a probe against an index REBUILT without the docs
    val cleanPath = tmpDir("dd14-clean")
    Dedup.buildLshIndexFrom(
      base.join(removed, Seq("doc_id"), "left_anti"), cleanPath)
    val truth = pairs(Dedup.neardupDelta(spark, delta, cleanPath))
    // 1. soft path: the shared index + an explicit tombstone frame
    val idx = Dedup.lshIndexFor(spark, sfDir)
    val governed = pairs(Dedup.neardupDelta(spark, delta, idx, 0.5, Some(removed)))
    assert(governed == truth, "governed probe diverges from rebuilt-without-index")
    assert(governed != pairs(Dedup.neardupDelta(spark, delta, idx)),
      "fixture vacuous: no removed doc ever matched")
    // the registered query is exactly this probe
    assert(pairs(Dedup.dd14_takedown(spark, sfDir)) == truth)

    // 2. hard path on a scratch copy: tombstone → vacuum → plain probe
    val vPath = tmpDir("dd14-vac")
    Dedup.buildLshIndexFrom(base, vPath)
    Dedup.tombstoneDocs(spark, vPath, removed)
    val viaStored = pairs(Dedup.neardupDelta(spark, delta, vPath, 0.5,
      Some(Dedup.tombstonesOf(spark, vPath))))
    assert(viaStored == truth)
    val sigsGen0 = graft.operators.MergeTable.committedGen(s"$vPath/sigs").get
    val n = Dedup.vacuumLshTombstones(spark, vPath)
    assert(n == removed.count(), s"vacuum reported $n tombstones")
    assert(Dedup.tombstonesOf(spark, vPath).isEmpty, "tombstones must clear")
    // after the rewrite the UNGOVERNED probe equals the truth —
    // the index is byte-equivalent to one never containing them
    assert(pairs(Dedup.neardupDelta(spark, delta, vPath)) == truth)
    // physically gone from both tables' LIVE file sets
    Seq("sigs", "bands").foreach { t =>
      assert(graft.operators.MergeTable.readTable(spark, s"$vPath/$t")
        .join(removed, Seq("doc_id"), "left_semi").isEmpty,
        s"$t still physically carries tombstoned rows")
    }
    // the rewrite + fence published through the commit log (new gens)
    assert(graft.operators.MergeTable.committedGen(s"$vPath/sigs").get > sigsGen0,
      "vacuum did not commit through the table log")
    // idempotent: vacuum with nothing tombstoned is a no-op
    assert(Dedup.vacuumLshTombstones(spark, vPath) == 0L)
  }

  test("dd14: the default probe overload is governed by the STORED tombstone set (r20)") {
    import dedup.Dedup
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 10 < 8)
    val removed = base.filter(col("doc_id") % 7 === 0).select("doc_id")
      .localCheckpoint()
    val delta = Dedup.sigsOf(docs.filter(col("doc_id") % 10 >= 8))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id")))
      .sorted.toSeq
    val path = tmpDir("dd14-defgov")
    Dedup.buildLshIndexFrom(base, path)
    val ungoverned = pairs(Dedup.neardupDelta(spark, delta, path))
    Dedup.tombstoneDocs(spark, path, removed)
    // the 4-arg convenience overload (the ingest sink's path) must
    // honor the registration IMMEDIATELY — dd14's contract; before
    // r20 it hard-coded tombstones = None until a vacuum ran
    val viaDefault = pairs(Dedup.neardupDelta(spark, delta, path))
    val viaExplicit = pairs(Dedup.neardupDelta(spark, delta, path, 0.5,
      Some(Dedup.tombstonesOf(spark, path))))
    assert(viaDefault == viaExplicit,
      "default overload ignored the stored tombstones")
    assert(viaDefault != ungoverned, "fixture vacuous: no removed doc matched")
    // post-vacuum the set clears and the default probe returns to the
    // physical truth
    assert(Dedup.vacuumLshTombstones(spark, path) == removed.count())
    assert(pairs(Dedup.neardupDelta(spark, delta, path)) == viaExplicit)
  }

  test("IVF vacuum debris sweep spares a racing registration's staging file (r20)") {
    import java.nio.file.{Files, Path}
    val corpus = tmpDir("ivf-stage-corpus")
    Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("ivf-stage-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    import spark.implicits._
    similarity.Similarity.tombstoneVectors(spark, dir, Seq(3L).toDF("vec_id"))
    // another writer's PRIVATE in-flight staging file sits beside the
    // published set while this vacuum clears — the shared
    // TombstoneStore's sweep must spare it (the hardening the
    // hand-copied Similarity registry had missed)
    val tombRoot = Path.of(s"$dir/tombstones")
    val staged = tombRoot.resolve(".takedown-racer.staging")
    Files.write(staged, Array[Byte](1, 2, 3))
    assert(similarity.Similarity.vacuumVectorTombstones(spark, dir) == 1L)
    assert(Files.exists(staged),
      "IVF vacuum swept another writer's in-flight staging file")
    Files.delete(staged)
  }

  test("dd14 racing appends and vacuum converge through the table log (POSIX store)") {
    racingAppendVacuum(tmpDir("dd14-race-posix"))
  }

  test("dd14 racing appends and vacuum converge on a registered CommitStore") {
    val dir = tmpDir("dd14-race-mem")
    graft.operators.CommitStore.register(dir,
      new graft.operators.InMemoryCommitStore)
    try racingAppendVacuum(dir)
    finally graft.operators.CommitStore.unregister(dir)
  }

  /** The racing-mutator contract the MergeTable migration bought: N
    * appender threads and a concurrent takedown vacuum, no quiesce,
    * all publishing through the tables' generation CAS. Afterwards:
    * every appended batch is fully visible (no torn batch), the
    * tombstoned base docs are physically gone, the tombstone set is
    * clear, and both logs are dense (one winner per generation).
    */
  private def racingAppendVacuum(path: String): Unit = {
    import dedup.Dedup
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 10 < 8)
    val removed = base.filter(col("doc_id") % 7 === 0).select("doc_id")
      .localCheckpoint()
    Dedup.buildLshIndexFrom(base, path)
    Dedup.tombstoneDocs(spark, path, removed)
    // appended batches: disjoint doc_id slices, none tombstoned
    val batches = (0 until 4).map(i =>
      Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 8 && col("doc_id") % 4 === i))
        .localCheckpoint())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    batches.foreach { b =>
      pool.submit(new Runnable {
        def run(): Unit =
          try Dedup.appendToLshIndex(spark, path, b)
          catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.submit(new Runnable {
      def run(): Unit =
        try { Dedup.vacuumLshTombstones(spark, path); () }
        catch { case t: Throwable => failures.add(t) }
    })
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty,
      s"racing mutators failed: ${failures.asScala.map(_.toString).toSeq}")
    // convergence: vacuum may have fenced BEFORE some append landed —
    // its snapshot is processed; re-run until clean (each pass is the
    // maintenance loop's next tick). The appended batches contain no
    // tombstoned ids, so one more pass is the worst case.
    assert(Dedup.vacuumLshTombstones(spark, path) == 0L,
      "post-race vacuum found live tombstones (clear not fenced correctly)")
    val sigs = graft.operators.MergeTable.readTable(spark, s"$path/sigs")
    val bands = graft.operators.MergeTable.readTable(spark, s"$path/bands")
    // tombstoned docs physically gone from both tables
    Seq("sigs" -> sigs, "bands" -> bands).foreach { case (t, df) =>
      assert(df.join(removed, Seq("doc_id"), "left_semi").isEmpty,
        s"$t still carries tombstoned rows after the race")
    }
    // every appended batch fully visible in BOTH tables (sigs-then-
    // bands commit order: a torn batch would fail the bands check)
    val appendedIds = batches.map(_.select("doc_id").collect()
      .map(_.getLong(0)).toSet).reduce(_ ++ _)
    val sigIds = sigs.select("doc_id").collect().map(_.getLong(0)).toSet
    val bandIds = bands.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(appendedIds.subsetOf(sigIds), "an appended batch lost sig rows")
    assert(appendedIds.subsetOf(bandIds), "an appended batch lost band rows")
    // the gate works end to end: a probe of batch 9 sees base + appends
    val b9 = Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 9))
    val got = Dedup.neardupDelta(spark, b9, path).select("base_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.intersect(removed.collect().map(_.getLong(0)).toSet).isEmpty,
      "a probe surfaced a vacuumed doc")
    // dense logs: generations 0..head all committed, one winner each
    Seq("sigs", "bands").foreach { t =>
      val head = graft.operators.MergeTable.committedGen(s"$path/$t").get
      (0 to head).foreach(g =>
        assert(graft.operators.MergeTable.metaAt(s"$path/$t", g).contains("token"),
          s"$t generation $g missing from the log"))
    }
  }

  test("dd14 vacuum rewrites only the files holding doomed rows") {
    import dedup.Dedup
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val path = tmpDir("dd14-prune")
    Dedup.buildLshIndexFrom(docs.filter(col("doc_id") % 10 < 8), path)
    // a NARROW takedown: the lowest ids — doc_id-keyed sigs files
    // outside the band must carry by reference (bands, keyed by the
    // HASHED bkey, legitimately scatter and may all rewrite)
    val removed = docs.filter(col("doc_id") % 10 < 8)
      .orderBy("doc_id").limit(5).select("doc_id").localCheckpoint()
    val ids = removed.as[Long].collect().toSet
    def sigsMan() = graft.operators.MergeTable
      .manifest(spark, s"$path/sigs")
      .select("path", "min_doc_id", "max_doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val before = sigsMan()
    val clean = before.filter { case (_, mn, mx) => ids.forall(i => i < mn || i > mx) }
    assert(clean.nonEmpty, "fixture vacuous: every sigs file intersects the takedown")
    Dedup.tombstoneDocs(spark, path, removed)
    assert(Dedup.vacuumLshTombstones(spark, path) == ids.size)
    val afterPaths = sigsMan().map(_._1).toSet
    clean.foreach { case (p, _, _) =>
      assert(afterPaths.contains(p),
        s"vacuum rewrote a file holding no doomed rows: $p")
    }
    // and the doomed rows are gone from the files that WERE rewritten
    assert(graft.operators.MergeTable.readTable(spark, s"$path/sigs")
      .filter(col("doc_id").isin(ids.toSeq: _*)).isEmpty)
  }

  test("dd14 vacuum: bands purge is a metadata commit, zero files rewritten; compact drains it (r20)") {
    import dedup.Dedup
    import java.nio.file.{Files, Path}
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 10 < 8)
    val path = tmpDir("dd14-bandsdv")
    Dedup.buildLshIndexFrom(base, path)
    val removed = base.filter(col("doc_id") % 7 === 0).select("doc_id")
      .localCheckpoint()
    val bandsDir = s"$path/bands"
    def bandsPaths() = graft.operators.MergeTable.manifest(spark, bandsDir)
      .select("path").collect().map(_.getString(0)).toSet
    val before = bandsPaths()
    val mtimes = before.map(p => p -> Files.getLastModifiedTime(
      Path.of(java.net.URI.create(p))).toMillis).toMap
    Dedup.tombstoneDocs(spark, path, removed)
    assert(Dedup.vacuumLshTombstones(spark, path) == removed.count())
    // ZERO bands files rewritten: same live file set, bytes untouched
    // (doomed doc_ids scatter under the hashed bkey — a rewrite here
    // would have touched ~every file; the purge is a deletion-vector
    // commit instead)
    val after = bandsPaths()
    assert(after == before, "bands takedown rewrote files")
    after.foreach { p =>
      assert(Files.getLastModifiedTime(Path.of(java.net.URI.create(p))).toMillis
        == mtimes(p), s"bands file bytes touched: $p")
    }
    val gAfter = graft.operators.MergeTable.committedGen(bandsDir).get
    assert(graft.operators.MergeTable.dvInfo(bandsDir, gAfter).isDefined,
      "bands takedown did not commit a deletion vector")
    // the standing vector covers exactly the doomed rows: reads hide
    // them, raw bytes still carry them until the maintenance compact
    assert(graft.operators.MergeTable.readTable(spark, bandsDir)
      .join(removed, Seq("doc_id"), "left_semi").isEmpty,
      "vector failed to hide doomed bands rows")
    val rawHas = spark.read.parquet(after.toSeq: _*)
      .join(removed, Seq("doc_id"), "left_semi").count()
    assert(rawHas > 0, "fixture vacuous: no doomed row ever lived in bands")
    // compact IS the physical drain: vector cleared, bytes purged
    graft.operators.MergeTable.compact(spark, bandsDir, "bkey",
      targetRows = 1000000L)
    val gC = graft.operators.MergeTable.committedGen(bandsDir).get
    assert(graft.operators.MergeTable.dvInfo(bandsDir, gC).isEmpty,
      "compact did not materialize the vector out")
    val liveAfterCompact = bandsPaths()
    assert(spark.read.parquet(liveAfterCompact.toSeq: _*)
      .join(removed, Seq("doc_id"), "left_semi").isEmpty,
      "doomed rows survive in post-compact bytes")
    // a racing registration's PRIVATE staging file survives the
    // vacuum's debris sweep (only published tombstones are cleared)
    Dedup.tombstoneDocs(spark, path,
      base.orderBy("doc_id").limit(1).select("doc_id"))
    val tombRoot = Path.of(s"$path/tombstones")
    val staged = tombRoot.resolve(".takedown-racer.staging")
    Files.write(staged, Array[Byte](1, 2, 3))
    assert(Dedup.vacuumLshTombstones(spark, path) == 1L)
    assert(Files.exists(staged),
      "vacuum swept another writer's in-flight staging file")
    Files.delete(staged)
  }

  test("dd11 maintenance loop: compact folds append fragments, probes unchanged") {
    import dedup.Dedup
    val docs = Tables.documents(spark, sfDir)
    val path = tmpDir("dd11-compact")
    Dedup.buildLshIndexFrom(docs.filter(col("doc_id") % 10 < 6), path)
    // three appended batches: one file per table per batch
    (6 to 8).foreach(m => Dedup.appendToLshIndex(spark, path,
      Dedup.sigsOf(docs.filter(col("doc_id") % 10 === m))))
    val delta = Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 9))
    def pairs() = Dedup.neardupDelta(spark, delta, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairs()
    val filesBefore = graft.operators.MergeTable
      .manifest(spark, s"$path/sigs").count()
    // the documented maintenance loop: MergeTable.compact folds the
    // per-batch fragments back; duplicate-keyed posting rows are
    // PRESERVED (compact never dedups) and the probe is unchanged
    Seq("sigs" -> "doc_id", "bands" -> "bkey").foreach { case (t, k) =>
      graft.operators.MergeTable.compact(spark, s"$path/$t", k,
        targetRows = 1000000L)
    }
    assert(graft.operators.MergeTable.manifest(spark, s"$path/sigs").count()
      < filesBefore, "compact folded nothing")
    assert(pairs() == before, "compaction changed probe results")
  }

  test("dd14 vacuum crash-safety: staged-but-uncommitted rewrites are invisible and re-runnable") {
    import dedup.Dedup
    import java.nio.file.{Files, Path}
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 10 < 8)
    val removed = base.filter(col("doc_id") % 7 === 0).select("doc_id")
    val delta = Dedup.sigsOf(docs.filter(col("doc_id") % 10 >= 8))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id")))
      .sorted.toSeq
    val path = tmpDir("dd14-crash")
    Dedup.buildLshIndexFrom(base, path)
    Dedup.tombstoneDocs(spark, path, removed)
    val governed = pairs(Dedup.neardupDelta(spark, delta, path, 0.5,
      Some(Dedup.tombstonesOf(spark, path))))
    // simulate a vacuum that crashed mid-rewrite: a fully-written data
    // dir for the NEXT generation whose commit never landed — readers
    // resolve the committed head, so the orphan is invisible and the
    // tombstones stay active
    val sigsDir = s"$path/sigs"
    val g = graft.operators.MergeTable.committedGen(sigsDir).get
    val orphan = Path.of(sigsDir, s"data-g${g + 1}-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    assert(pairs(Dedup.neardupDelta(spark, delta, path, 0.5,
      Some(Dedup.tombstonesOf(spark, path)))) == governed,
      "an uncommitted rewrite leaked into reads")
    assert(Dedup.tombstonesOf(spark, path).count() == removed.count(),
      "a crashed vacuum must leave tombstones active")
    // the re-run converges: tombstoned docs physically gone, the
    // ungoverned probe equals the governed one, tombstones cleared
    assert(Dedup.vacuumLshTombstones(spark, path) == removed.count())
    assert(pairs(Dedup.neardupDelta(spark, delta, path)) == governed)
    assert(Dedup.tombstonesOf(spark, path).isEmpty)
    assert(graft.operators.MergeTable.readTable(spark, sigsDir)
      .join(removed, Seq("doc_id"), "left_semi").isEmpty)
  }

  test("dd11 incremental LSH near-dup: index reuse, delta-only band shuffle, ≡ direct") {
    val s2 = spark.newSession()
    val idx = dedup.Dedup.lshIndexFor(s2, sfDir)
    assert(dedup.Dedup.lshIndexFor(s2, sfDir) == idx, "index rebuilt on second use")
    val docs = Tables.documents(s2, sfDir)
    val deltaSigs = dedup.Dedup.sigsOf(
      docs.filter(col("doc_id") % dedup.Dedup.deltaMod >= dedup.Dedup.deltaFrom))
    // the per-batch scale contract after the MergeTable migration: at
    // ingest-batch scale the DELTA side broadcasts and the index side
    // carries ZERO shuffle exchanges (the old bucketed layout still
    // shuffled the delta); with broadcast unavailable the join
    // degrades to a 2-exchange sort-merge — the priced tradeoff for
    // postings on the table log, measured in PLANS.md r19
    def bandJoin(sess: org.apache.spark.sql.SparkSession) =
      dedup.Dedup.bandKeysOf(deltaSigs).toDF("delta_id", "bkey")
        .join(graft.operators.MergeTable.readTable(sess, s"$idx/bands")
          .select(col("doc_id").as("base_id"), col("bkey")), Seq("bkey"))
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    val planB = bandJoin(s2).queryExecution.executedPlan.toString
    assert(planB.contains("BroadcastHashJoin"),
      s"batch-scale band join should broadcast the delta:\n$planB")
    assert(!planB.contains("Exchange hashpartitioning"),
      s"index side must carry zero shuffle exchanges at batch scale:\n$planB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = bandJoin(s2).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge band join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"expected the documented 2-exchange degradation:\n$plan")
    // result ≡ the direct (no persisted index) formulation — the
    // hashes are deterministic, so equality is exact
    val baseSigs = dedup.Dedup.sigsOf(
      docs.filter(col("doc_id") % dedup.Dedup.deltaMod < dedup.Dedup.deltaFrom))
    val directCand = dedup.Dedup.bandKeysOf(deltaSigs).toDF("delta_id", "bkey")
      .join(dedup.Dedup.bandKeysOf(baseSigs).toDF("base_id", "bkey"), Seq("bkey"))
      .select("delta_id", "base_id").distinct()
    val direct = directCand
      .join(baseSigs.toDF("base_id", "base_sig"), Seq("base_id"))
      .join(deltaSigs.toDF("delta_id", "delta_sig"), Seq("delta_id"))
      .select(col("delta_id"), col("base_id"),
        (round(dedup.Dedup.estJaccard(col("delta_sig"), col("base_sig")) * 10000) / 10000)
          .as("est_jacc"))
      .filter(col("est_jacc") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = dedup.Dedup.dd11_incremental_lsh(s2, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == direct, "indexed path diverges from the direct formulation")
    // hygiene: evict reclaims the whole index root (both tables + any
    // tombstone state); next use rebuilds at a fresh dir
    dedup.Dedup.evictLshIndex(s2, sfDir)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(idx)),
      "evict left the index root on disk")
    val idx2 = dedup.Dedup.lshIndexFor(s2, sfDir)
    assert(graft.operators.MergeTable.committedGen(s"$idx2/bands").isDefined,
      "rebuild after evict failed")
    dedup.Dedup.evictLshIndex(s2, sfDir)
  }

  test("dd11 ingest loop: committed batch signatures gate the next batch") {
    val s2 = spark.newSession()
    val idx = dedup.Dedup.lshIndexFor(s2, sfDir)
    try {
      val docs = Tables.documents(s2, sfDir)
      val b1 = dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 8))
      val b2 = dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 9))
      // commit batch 1's non-near-dup docs (the ingest decision:
      // admit unless it near-dups the historical corpus)
      val dup1 = dedup.Dedup.neardupDelta(s2, b1, idx)
        .select("delta_id").distinct().collect().map(_.getLong(0)).toSet
      val admitted = b1.filter(!col("doc_id").isInCollection(
        if (dup1.isEmpty) Set(-1L) else dup1))
      dedup.Dedup.appendToLshIndex(s2, idx, admitted)
      // batch 2's near-dup set must now include matches against the
      // admitted batch-1 docs, not just the original base
      val got = dedup.Dedup.neardupDelta(s2, b2, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val baseSigs = dedup.Dedup.sigsOf(
        docs.filter(col("doc_id") % dedup.Dedup.deltaMod < dedup.Dedup.deltaFrom))
      val unionSigs = baseSigs.unionAll(admitted)
      val directCand = dedup.Dedup.bandKeysOf(b2).toDF("delta_id", "bkey")
        .join(dedup.Dedup.bandKeysOf(unionSigs).toDF("base_id", "bkey"), Seq("bkey"))
        .select("delta_id", "base_id").distinct()
      val expect = directCand
        .join(unionSigs.toDF("base_id", "base_sig"), Seq("base_id"))
        .join(b2.toDF("delta_id", "delta_sig"), Seq("delta_id"))
        .select(col("delta_id"), col("base_id"),
          (round(dedup.Dedup.estJaccard(col("delta_sig"), col("base_sig")) * 10000) / 10000)
            .as("est_jacc"))
        .filter(col("est_jacc") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect, "batch 2 not gated by base ∪ batch-1 commits")
    } finally dedup.Dedup.evictLshIndex(s2, sfDir)
  }

  test("pp09 fuzzy decontamination equals a brute-force estimated-Jaccard sweep") {
    val docs = Tables.documents(spark, sfDir)
    val evalSigs = dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 0))
      .toDF("eval_id", "eval_sig")
    val trainSigs = dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 =!= 0))
    // brute force: every train×eval pair, estimated Jaccard from the
    // same deterministic signatures — tiny at spec scale
    val brute = trainSigs.crossJoin(evalSigs)
      .withColumn("est", dedup.Dedup.estJaccard(col("sig"), col("eval_sig")))
      .filter(col("est") >= 0.35)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), (round(max(col("est")) * 10000) / 10000).as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = pipeline.Pipeline.pp09_decontaminate_fuzzy(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // soundness: band pruning can only MISS pairs — every flag is a
    // genuine est ≥ τ match, with counts/max bounded by brute force
    assert(got.keySet.subsetOf(brute.keySet), s"invented flags: ${got.keySet -- brute.keySet}")
    got.foreach { case (id, (n, mx)) =>
      val (bn, bmx) = brute(id)
      assert(n <= bn && mx <= bmx + 1e-9, s"doc $id: ($n,$mx) exceeds brute ($bn,$bmx)")
    }
    // recall where it matters: a pair at est ≥ 0.7 misses all 16
    // bands with probability (1−0.7⁴)¹⁶ ≈ 1% — every strongly
    // contaminated doc must be flagged (deterministic on this data)
    val strong = brute.filter(_._2._2 >= 0.7).keySet
    assert(strong.subsetOf(got.keySet),
      s"missed strongly contaminated docs: ${strong -- got.keySet}")
    assert(got.nonEmpty, "no flags at all — spec is vacuous on this corpus")
    assert(got.keys.forall(_ % 10 != 0), "an eval doc leaked into the train flags")
    // scale posture: every join against the eval side is broadcast —
    // nothing sort-merges in this pass
    val plan = pipeline.Pipeline.pp09_decontaminate_fuzzy(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"eval-side join fell back to a shuffle join:\n$plan")
  }

  test("pp08 shard packing equals the single-window rank baseline") {
    import org.apache.spark.sql.expressions.Window
    val got = pipeline.Pipeline.pp08_shard_pack(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val baseline = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), md5(col("doc_id").cast("string")).as("k"))
      .withColumn("rn", row_number().over(Window.orderBy("k", "doc_id")).cast("long"))
      .withColumn("shard", floor((col("rn") - 1) / 128).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == baseline.toSeq)
    // packing invariant: every shard but the last is exactly full,
    // shard ids are contiguous from 0
    assert(got.map(_._1).toSeq == got.indices.map(_.toLong))
    assert(got.dropRight(1).forall(_._2 == 128L))
  }

  test("tx11 boilerplate shares match a driver-side recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty))
    val bigrams = docs.map { case (id, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val counts = bigrams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.length }
    val top = counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(200).map(_._1).toSet
    val expect = bigrams.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(top).toLong)
    }.toMap
    val got = text.TextAnalysis.tx11_boilerplate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, (nb, nh, share)) =>
      val (enb, enh) = expect(id)
      assert(nb == enb && nh == enh, s"doc $id: ($nb,$nh) vs ($enb,$enh)")
      assert(share >= 0.0 && share <= 1.0 && math.abs(share - nh.toDouble / nb) < 1e-4)
    }
  }

  test("tx12 char entropy matches a driver-side recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty)
    val expect = docs.map { case (id, text) =>
      // code points, not UTF-16 chars — CharStats (and the DuckDB
      // oracle) count astral-plane characters once, not as two
      // surrogates
      import scala.jdk.CollectionConverters._
      val cps = text.codePoints().iterator().asScala.toSeq
      val n = cps.length.toDouble
      val counts = cps.groupBy(identity).map(_._2.length)
      val ent = -counts.map(c => c / n * (math.log(c / n) / math.log(2))).sum
      id -> (cps.length.toLong, counts.size.toLong, ent)
    }.toMap
    val got = text.TextAnalysis.tx12_entropy(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, (n, a, e)) =>
      val (en, ea, ee) = expect(id)
      assert(n == en && a == ea, s"doc $id: ($n,$a) vs ($en,$ea)")
      assert(math.abs(e - ee) < 1e-4, s"doc $id entropy $e vs $ee")
    }
  }

  test("tx14 unigram surprisal matches a driver-side recompute") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\W+").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(1000).toMap
    val total = counts.values.sum.toDouble
    val expect = docs.map { case (id, ts) =>
      val sp = ts.map(t => -math.log(vocab.getOrElse(t, 1L).toDouble / total) / math.log(2))
      id -> (ts.length.toLong, sp.sum / sp.length)
    }.toMap
    val got = text.TextAnalysis.tx14_unigram_lp(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, (n, sp)) =>
      val (en, esp) = expect(id)
      assert(n == en, s"doc $id: $n tokens vs $en")
      assert(math.abs(sp - esp) < 1e-4, s"doc $id surprisal $sp vs $esp")
    }
  }

  test("tx15 BPE-ish token counts match a driver-side recompute with the same regex") {
    val pat = java.util.regex.Pattern.compile(text.TextAnalysis.bpePattern)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = docs.flatMap { case (id, t) =>
      val m = pat.matcher(t)
      val toks = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toSeq
      if (toks.isEmpty) None
      else Some(id -> (toks.length.toLong, toks.distinct.length.toLong,
        t.length.toDouble / toks.length))
    }.toMap
    val got = text.TextAnalysis.tx15_bpe_tokens(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, (n, u, cpt)) =>
      val (en, eu, ecpt) = expect(id)
      assert(n == en && u == eu, s"doc $id: ($n,$u) vs ($en,$eu)")
      assert(math.abs(cpt - ecpt) < 1e-4, s"doc $id chars/token $cpt vs $ecpt")
    }
    // sanity of the signal itself: BPE-ish tokens are strictly more
    // granular than word tokens (whitespace/punctuation tokenize too)
    val words = text.TextAnalysis.tx01_tokens(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, (n, _, _)) =>
      assert(n >= words.getOrElse(id, 0L), s"doc $id: fewer BPE tokens than words")
    }
  }

  test("tx13 deflate ratios match a driver-side recompute exactly") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty)
    val deflater = new java.util.zip.Deflater(6)
    val buf = new Array[Byte](1 << 16)
    val expect = docs.map { case (id, t) =>
      val in = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      deflater.reset(); deflater.setInput(in); deflater.finish()
      var out = 0L
      while (!deflater.finished()) out += deflater.deflate(buf)
      id -> (in.length.toLong, out)
    }.toMap
    val got = text.TextAnalysis.tx13_compress(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, (nb, nd, ratio)) =>
      val (enb, end) = expect(id)
      assert(nb == enb && nd == end, s"doc $id: ($nb,$nd) vs ($enb,$end)")
      assert(math.abs(ratio - nd.toDouble / nb) < 1e-4)
    }
    // the signal discriminates: highly repetitive text compresses
    // far better than the corpus median
    val rep = ("the quick brown fox " * 100).getBytes("UTF-8")
    deflater.reset(); deflater.setInput(rep); deflater.finish()
    var out = 0L
    while (!deflater.finished()) out += deflater.deflate(buf)
    val med = got.map(_._2._3).sorted.apply(got.length / 2)
    assert(out.toDouble / rep.length < med,
      "repetitive probe text should compress below the corpus median ratio")
  }

  test("q45 cube extends q13's rollup with the column-2-only grouping") {
    val cube = operators.Relational.q45_cube(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getDouble(3), r.getLong(4)))
      .toMap
    val rollup = operators.Relational.q13_rollup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // rollup's grouping sets = cube's gid ∈ {0,1,3}; values must agree
    rollup.foreach { case ((rf, ls), v) =>
      val gid = (if (rf == "ALL") 2L else 0L) | (if (ls == "ALL") 1L else 0L)
      assert(cube((rf, ls, gid)) == v, s"cube/rollup disagree at ($rf,$ls)")
    }
    // the cube-only sets are exactly gid=2 (per-linestatus over all flags)
    val extra = cube.keys.filter(_._3 == 2L).toSeq
    assert(extra.nonEmpty && cube.size == rollup.size + extra.size)
  }

  test("exact dedup groups cover all documents exactly once") {
    val docs = Tables.documents(spark, sfDir).count()
    val groups = dedup.Dedup.dd01_exact(spark, sfDir)
      .agg(sum("n_copies")).collect()(0).getLong(0)
    assert(groups == docs)
  }

  test("approx aggregates land within tolerance of exact answers") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    val apx = operators.Relational.q34_approx(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (d, m)) =>
      val (ad, am) = apx(k)
      assert(math.abs(ad - d).toDouble / d < 0.1, s"$k distinct: $ad vs $d")
      assert(math.abs(am - m) / m < 0.25, s"$k median: $am vs $m")
    }
  }

  test("multimodal decode: fixed feature shape, branch-bounded l2") {
    val out = multimodal.Multimodal.mm02_decode_stub(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("feat_dim") == 64L))
    // feat_l2 is the emitted feature's L2 norm: the L1-normalized
    // histogram fallback bounds it by 1 (Σh=1, h≥0 ⇒ Σh² ≤ 1) and is
    // strictly positive for any non-empty payload; a decoded image's
    // 64-dim luma/255 grid bounds it by √64 = 8 and CAN be 0 (an
    // all-black frame). Keyed off the sniffed format so a future
    // fixture with real image payloads degrades to the image bound,
    // not a red spec.
    assert(out.forall { r =>
      val l2 = r.getAs[Double]("feat_l2")
      if (r.getAs[String]("format") == "opaque") l2 > 0 && l2 <= 1.0
      else l2 >= 0 && l2 <= 8.0
    })
  }

  test("dd13: exact shared-content counts; Jaccard estimate bounded vs exact") {
    import spark.implicits._
    val m = dedup.Dedup.dd13_cross_source_overlap(spark, sfDir).collect()
    assert(m.nonEmpty, "no source pairs")
    // ground truth, computed directly at fixture scale
    val fps = Tables.documents(spark, sfDir)
      .select(col("source"),
        xxhash64(text.TextAnalysis.normText(col("text"))).as("fp"))
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sh = Tables.documents(spark, sfDir)
      .select(col("source"), expr(text.TextAnalysis.toksExpr).as("t"))
      .select(col("source"), explode(array_distinct(
        graft.functions.GraftFunctions.rollingHashes("t", 3))).as("sh"))
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    m.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      // the bitmap64 inclusion–exclusion column is EXACT
      assert(r.getAs[Long]("n_shared_exact") == (fps(a) & fps(b)).size.toLong,
        s"$a/$b exact overlap diverges")
      assert(r.getAs[Long]("n_content_a") == fps(a).size.toLong &&
        r.getAs[Long]("n_content_b") == fps(b).size.toLong,
        s"$a/$b content counts diverge")
      // bottom-k estimate: |err| well inside the k=512 sketch bound
      val jac = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
      val est = r.getAs[Double]("jaccard_est")
      assert(math.abs(est - jac) <= 0.1, s"$a/$b estimate $est vs exact $jac")
    }
  }

  test("IVF index append: probe-after-append finds batch-2 vectors, no rebuild") {
    import java.nio.file.{Files, Path}
    import spark.implicits._
    // build on half the corpus staged as its own dir, append the rest
    val all = Tables.embeddings(spark, sfDir)
    val buildHalf = all.filter(col("vec_id") % 2 === 0)
    val appendHalf = all.filter(col("vec_id") % 2 =!= 0)
    val corpus = tmpDir("ivf-app-corpus")
    buildHalf.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("ivf-app-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    val vectors = () => similarity.Similarity.indexVectors(spark, dir)
    val before = vectors().count()
    val residentCells = vectors().select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val trainedRoot = similarity.Similarity.trainedDir(dir)
    val trainedFiles = Files.list(Path.of(trainedRoot, "centroids")).toArray.toSeq ++
      Files.list(Path.of(trainedRoot, "pqbooks")).toArray.toSeq
    // probes AT five batch-2 vectors (q_id offset dodges the
    // self-match filter): absent before the append...
    val probes = appendHalf.orderBy("vec_id").limit(5)
      .select((col("vec_id") + 1000000L).as("q_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
    def top5(q: org.apache.spark.sql.DataFrame) =
      similarity.Similarity.probeIvf(spark, dir, q)
        .select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    top5(probes).foreach { case (q, ns) =>
      assert(!ns.contains(q - 1000000L), s"batch-2 id ${q - 1000000L} in index before append")
    }
    similarity.Similarity.appendToIvfIndex(spark, dir,
      appendHalf.select("vec_id", "embedding"))
    // ...and found by the same probe afterwards (identical vector →
    // cosine 1.0, top-5 member), with nothing rebuilt: row delta ==
    // batch, every appended row in an EXISTING cell, training
    // artifacts byte-untouched
    top5(probes).foreach { case (q, ns) =>
      assert(ns.contains(q - 1000000L), s"appended ${q - 1000000L} not found by probe: $ns")
    }
    assert(vectors().count() == before + appendHalf.count(), "append row delta != batch")
    val cellsAfter = vectors().select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cellsAfter.subsetOf(residentCells),
      s"append invented cells: ${cellsAfter -- residentCells}")
    assert(similarity.Similarity.trainedDir(dir) == trainedRoot,
      "append moved the trained-artifact pointer")
    assert((Files.list(Path.of(trainedRoot, "centroids")).toArray.toSeq ++
      Files.list(Path.of(trainedRoot, "pqbooks")).toArray.toSeq) == trainedFiles,
      "append touched the trained artifacts (centroids/pqbooks)")
    // schema parity with the built layout: the IVF-PQ probe runs
    // unchanged over the mixed (built + appended) files
    assert(vectors().columns.sorted.toSeq == Seq("cell", "code", "nrm", "v", "vec_id"),
      vectors().columns.mkString(","))
    val pq = similarity.Similarity.probeIvfPq(spark, dir, probes)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    pq.foreach { case (q, ns) =>
      assert(ns.contains(q - 1000000L), s"IVF-PQ probe missed appended ${q - 1000000L}: $ns")
    }
  }

  test("IVF takedown: tombstoned vectors vanish from probes; vacuum rewrites only their cells") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val corpus = tmpDir("ivf-td-corpus")
    Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("ivf-td-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    val probes = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
      .select(col("q_id"), col("va"), col("na"))
    def top(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSeq
    val before = top(similarity.Similarity.probeIvf(spark, dir, probes))
    // tombstone every probe's current top-1 neighbor — removal must
    // actually change answers, not just delete strangers
    val removedIds = before.filter(_._2 == 1L).map(_._3).distinct
    similarity.Similarity.tombstoneVectors(spark, dir,
      removedIds.toDF("vec_id"))

    val governedIvf = top(similarity.Similarity.probeIvf(spark, dir, probes))
    val governedPq = top(similarity.Similarity.probeIvfPq(spark, dir, probes))
    assert(governedIvf != before, "tombstoning the top-1s must change results")
    assert(governedIvf.forall(t => !removedIds.contains(t._3)), "IVF probe leaked a tombstoned id")
    assert(governedPq.forall(t => !removedIds.contains(t._3)), "PQ probe leaked a tombstoned id")

    // vacuum: only the affected cells' LIVE files change — read the
    // truth from the generation manifest, the same source probes use
    val rootV = Path.of(dir, "vectors")
    def filesNow(): Map[Int, Set[String]] =
      graft.operators.IndexManifest.head(dir).get.files
        .groupBy(similarity.Similarity.cellOfPath).view.mapValues(_.toSet).toMap
    val affectedCells = similarity.Similarity.indexVectors(spark, dir)
      .filter(col("vec_id").isin(removedIds: _*))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val preVac = filesNow()
    val n = similarity.Similarity.vacuumVectorTombstones(spark, dir)
    assert(n == removedIds.size.toLong)
    val postVac = filesNow()
    preVac.keySet.foreach { c =>
      if (affectedCells(c)) assert(postVac.get(c) != Some(preVac(c)), s"cell $c should be rewritten")
      else assert(postVac(c) == preVac(c), s"untouched cell $c was rewritten")
    }
    // physically gone — from the live read AND from the superseded
    // bytes (vacuum deletes its inputs after the swap)
    assert(similarity.Similarity.indexVectors(spark, dir)
      .filter(col("vec_id").isin(removedIds: _*)).isEmpty)
    preVac.view.filterKeys(affectedCells).values.flatten.foreach(f =>
      assert(!Files.exists(rootV.resolve(f)), s"superseded $f not deleted"))
    assert(similarity.Similarity.vectorTombstones(spark, dir).isEmpty)
    assert(top(similarity.Similarity.probeIvf(spark, dir, probes)) == governedIvf,
      "post-vacuum probe diverges from the governed probe")
    // idempotent no-op
    assert(similarity.Similarity.vacuumVectorTombstones(spark, dir) == 0L)
  }

  test("index rebuild: tombstones relocate with the swap and keep governing (r20)") {
    import spark.implicits._
    val corpus = tmpDir("ivf-reb-corpus")
    Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("ivf-reb-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    val probes = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(8)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
      .select(col("q_id"), col("va"), col("na"))
    def top(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSeq
    val removedIds = top(similarity.Similarity.probeIvf(spark, dir, probes))
      .filter(_._2 == 1L).map(_._3).distinct
    similarity.Similarity.tombstoneVectors(spark, dir, removedIds.toDF("vec_id"))
    val governed = top(similarity.Similarity.probeIvf(spark, dir, probes))
    val nBefore = similarity.Similarity.indexVectors(spark, dir).count()
    // rebuild is layout maintenance, NOT governance: the doomed
    // vectors relocate with everything else and the tombstones keep
    // governing through the new generation
    similarity.Similarity.rebuildIvfIndex(spark, dir)
    assert(similarity.Similarity.indexVectors(spark, dir).count() == nBefore,
      "rebuild changed the vector population")
    assert(similarity.Similarity.vectorTombstones(spark, dir).count()
      == removedIds.size.toLong, "rebuild dropped the tombstone set")
    val governedAfter = top(similarity.Similarity.probeIvf(spark, dir, probes))
    assert(governedAfter.forall(t => !removedIds.contains(t._3)),
      "a rebuilt index leaked a tombstoned id into probes")
    // vacuum remains the physical purge on the REBUILT layout
    assert(similarity.Similarity.vacuumVectorTombstones(spark, dir)
      == removedIds.size.toLong)
    assert(similarity.Similarity.indexVectors(spark, dir)
      .filter(col("vec_id").isin(removedIds: _*)).isEmpty)
    assert(top(similarity.Similarity.probeIvf(spark, dir, probes))
      .forall(t => !removedIds.contains(t._3)))
    // governed answers stay sane across the retrain: every governed
    // probe (pre- and post-rebuild) excludes the doomed ids; exact
    // rank equality is NOT asserted — retraining legitimately
    // re-routes cells
    assert(governed.forall(t => !removedIds.contains(t._3)))
  }

  test("kNN join governance is symmetric: tombstoned ids vanish as neighbors AND as queries") {
    import spark.implicits._
    val corpus = tmpDir("knn-gov-corpus")
    Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("knn-gov-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    val corpusDf = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.l2norm("v"))
    val removed = Seq(3L, 7L, 11L)
    similarity.Similarity.tombstoneVectors(spark, dir, removed.toDF("vec_id"))
    val rows = similarity.Similarity.knnJoinIvf(spark, dir, corpusDf, nProbe = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(t => !removed.contains(t._2)),
      "a tombstoned id leaked as a NEIGHBOR")
    assert(rows.forall(t => !removed.contains(t._1)),
      "a tombstoned id leaked as a QUERY — governance must be symmetric")
    // ids outside the index's id space are unaffected by the anti-join
    assert(rows.map(_._1).toSet.subsetOf(
      corpusDf.select("vec_id").as[Long].collect().toSet -- removed))
  }

  test("IVF takedown: an empty tombstone set never poisons the index") {
    import spark.implicits._
    val dir = tmpDir("ivf-td-empty")
    // an empty takedown batch writes nothing — probes must not start
    // paying the governed anti-join for a zero-row part file
    similarity.Similarity.tombstoneVectors(spark, dir,
      Seq.empty[Long].toDF("vec_id"))
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(dir, "tombstones")),
      "empty takedown batch must not create a tombstone dir")
    // and a tombstone dir holding ONLY zero-row part files (a
    // pre-guard writer's leftover) vacuums to a clean no-op instead
    // of NPEing on null min/max bounds
    Seq.empty[Long].toDF("vec_id")
      .coalesce(1).write.parquet(s"$dir/tombstones")
    assert(similarity.Similarity.vacuumVectorTombstones(spark, dir) == 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(dir, "tombstones")),
      "vacuum must clear a rows-empty tombstone dir")
    assert(similarity.Similarity.vectorTombstones(spark, dir).isEmpty)
  }

  test("IVF cell compaction: folds append fragments, probes unchanged, crashed pass invisible") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    import spark.implicits._
    // build on a third, append twice: cells accumulate file fragments
    val all = Tables.embeddings(spark, sfDir)
    val corpus = tmpDir("ivf-cpt-corpus")
    all.filter(col("vec_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val dir = tmpDir("ivf-cpt-idx")
    similarity.Similarity.buildIvfIndex(spark, corpus, dir)
    Seq(1, 2).foreach(r => similarity.Similarity.appendToIvfIndex(spark, dir,
      all.filter(col("vec_id") % 3 === r).select("vec_id", "embedding")))
    // the live layout per cell, read from the manifest (probe truth)
    def cellFiles(): Map[Int, Seq[String]] =
      graft.operators.IndexManifest.head(dir).get.files
        .groupBy(similarity.Similarity.cellOfPath).view.mapValues(_.toSeq).toMap
    val fragmented = cellFiles().filter(_._2.size >= 2)
    assert(fragmented.nonEmpty, "appends produced no fragmented cells")
    val rowsBefore = similarity.Similarity.indexVectors(spark, dir).count()
    val probes = all.orderBy("vec_id").limit(5)
      .select((col("vec_id") + 1000000L).as("q_id"),
        col("embedding").cast("array<double>").as("va"))
      .withColumn("na", graft.functions.GraftFunctions.l2norm("va"))
    def probe() = similarity.Similarity.probeIvf(spark, dir, probes)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pre = probe()

    val folds = similarity.Similarity.compactIvfCells(spark, dir)
    assert(folds.map(_.cell).toSet == fragmented.keySet.map(c => s"cell=$c"),
      "compaction touched a different cell set than the fragmented one")
    assert(folds.forall(_.filesAfter == 1))
    val after = cellFiles()
    fragmented.keys.foreach(c => assert(after(c).size == 1, s"cell $c not folded"))
    // superseded fragments are RETIRED with the swap, not deleted: a
    // reader that planned its scan against the pre-fold manifest
    // finishes instead of failing FILE_NOT_EXIST mid-stage (the
    // wrong-failure the concurrent ingest property surfaced) — the
    // bytes stay on disk, unreferenced, on a fresh grace clock
    val retired = fragmented.values.flatten.toSeq
    retired.foreach(f => assert(Files.exists(Path.of(dir, "vectors", f)),
      s"fragment $f should be retired (still readable), not deleted"))
    assert(spark.read.parquet(retired.map(f => s"$dir/vectors/$f"): _*)
      .count() > 0, "retired fragments must stay readable")
    // ...and the grace-expired sweep is what reclaims them
    assert(similarity.Similarity.sweepUncommittedVectorFiles(dir, graceMs = 0L)
      == retired.size, "sweep did not reclaim exactly the retired fragments")
    retired.foreach(f => assert(!Files.exists(Path.of(dir, "vectors", f)),
      s"retired fragment $f survived the grace-expired sweep"))
    // compaction is invisible: same rows, same probe answers
    assert(similarity.Similarity.indexVectors(spark, dir).count() == rowsBefore)
    assert(probe() == pre, "probe answers changed across compaction")
    // a compact index is never reopened: second pass is a no-op
    assert(similarity.Similarity.compactIvfCells(spark, dir).isEmpty)

    // crash simulation, manifest era: a pass that staged its fold but
    // died BEFORE the commit leaves an unreferenced segment — readers
    // never see it (no doubled rows, unlike the pre-r18 window), and
    // the grace-expired sweep reclaims it
    val liveFile = cellFiles().values.flatten.head
    val orphanSeg = Path.of(dir, "vectors", "seg-deadpass", "pcell=0")
    Files.createDirectories(orphanSeg)
    Files.copy(Path.of(dir, "vectors", liveFile),
      orphanSeg.resolve("part-orphan.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    assert(similarity.Similarity.indexVectors(spark, dir).count() == rowsBefore,
      "an uncommitted staged segment leaked into the live read")
    assert(probe() == pre)
    assert(similarity.Similarity.sweepUncommittedVectorFiles(dir, graceMs = 0L) == 1,
      "sweep did not reclaim the crashed pass's staged file")
    assert(!Files.exists(orphanSeg), "orphan seg dir not pruned")
    assert(similarity.Similarity.indexVectors(spark, dir).count() == rowsBefore)
  }
}
