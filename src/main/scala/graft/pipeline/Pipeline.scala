package graft.pipeline

import graft.Tables
import graft.text.TextAnalysis.{normText, toksExpr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2 composite: the end-to-end corpus-cleaning pass a training-data
  * pipeline runs — quality filter + stopword-density filter + exact
  * dedup keep-list — composed from the §2.2/§2.4 operators in ONE
  * declarative plan (scan once, no materialization between stages).
  *
  * At 100 TB this is a single narrow-dependency projection/filter
  * chain plus one hash shuffle for the dedup groupBy — the minimum
  * possible for these semantics.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  val pp01_clean_corpus: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), expr(toksExpr).as("t"))
      .select(col("doc_id"),
        md5(normText(col("text")).cast("binary")).as("fp"),
        size(col("t")).cast("long").as("n_tokens"),
        (expr("size(filter(t, x -> x IN ('the','a','an','of','and','to','in','is')))")
          .cast("double") / size(col("t"))).as("stop_ratio"))
    val keep = scored.groupBy("fp").agg(min("doc_id").as("keep_id"))
    scored.join(keep, Seq("fp"))
      .filter(col("doc_id") === col("keep_id") &&
        col("n_tokens") >= 20 && col("stop_ratio") >= 0.01)
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")
  }

  /** pp02: full curation pass — repetition-quality gates (tx08's
    * signals) + NEAR-dup representative selection (dd06's clusters:
    * drop every clustered doc except its component minimum) in one
    * declarative flow. The near-dup pair set is the memoized/cached
    * plan shared with dd02/dd06, so running the whole family costs
    * one pair-set build. This is the "keep one copy of each
    * near-duplicate group, drop degenerate docs" step that precedes
    * tokenization in a training-data pipeline.
    */
  val pp02_curate: Q = (s, d) =>
    gatedDocs(s, d)
      .join(dupMembersOf(graft.dedup.Dedup.jaccardPairs(s, d)),
        col("doc_id") === col("dup_id"), "left_anti")
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")

  /** pp03: the same curation pass with the near-dup pair set from the
    * SUBLINEAR dd04 path — MinHash band bucketing proposes candidates,
    * exact Jaccard verifies them — instead of dd02's full
    * inverted-index pair generation. This is the documented 100 TB
    * default: pair-generation cost follows the LSH collision count,
    * not the posting-list area. LSH recall < 1 makes it rows-only by
    * design; the spec quantifies keep-list agreement with pp02 (≥95%
    * on this corpus).
    */
  val pp03_curate_lsh: Q = (s, d) =>
    gatedDocs(s, d)
      .join(dupMembersOf(graft.dedup.Dedup.minhashPairs(s, d)),
        col("doc_id") === col("dup_id"), "left_anti")
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")

  /** pp14: leakage-safe train/val/test split — the assignment step a
    * training pipeline runs AFTER curation and BEFORE packing, where
    * the correctness property is that near-duplicates never straddle
    * splits (a test doc whose near-copy sits in train is silent eval
    * contamination; Lee et al. 2021 measured the inflation). The unit
    * of assignment is therefore the near-dup GROUP, not the doc:
    * dd06's connected components give every clustered doc its
    * component-min representative, singletons are their own group,
    * and the whole group lands in one split by hashing the GROUP id —
    * a doc can't disagree with its near-copy by construction.
    *
    * The split hash is the first hex char of md5(group_id as string):
    * deterministic, engine-portable (the oracle reproduces it
    * verbatim in DuckDB), stable under corpus growth (a doc's split
    * never changes when unrelated docs arrive — no row_number, no
    * global ordering), and proportioned in sixteenths: '0'-'1' → test
    * (1/8), '2'-'3' → val (1/8), rest → train (3/4).
    *
    * Scale: the group frame is one left join of the corpus against
    * the star forest (bounded by clustered-doc count, broadcastable
    * in practice since dup members are a small fraction); the split
    * is a narrow projection. Pair generation dominates and is dd06's
    * documented cost; at 100 TB swap [[graft.dedup.Dedup.jaccardPairs]]
    * for the LSH path exactly as pp03 does for pp02.
    */
  val pp14_split_leakage_safe: Q = (s, d) => {
    val groups = Tables.documents(s, d).select(col("doc_id"))
      .join(graft.dedup.ConnectedComponents
          .stars(graft.dedup.Dedup.jaccardPairs(s, d).select("id1", "id2"))
          .toDF("doc_id", "cluster_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    val h = substring(md5(col("group_id").cast("string")), 1, 1)
    groups.withColumn("split",
        when(h.isin("0", "1"), "test")
          .when(h.isin("2", "3"), "val")
          .otherwise("train"))
      .orderBy("doc_id")
  }

  /** Non-representative members of near-dup clusters over any
    * (id1, id2) pair set: CC assigns every clustered doc its
    * component minimum, and [[graft.dedup.ConnectedComponents.stars]]
    * emits exactly the non-root members — dropping them keeps one doc
    * per group.
    */
  private def dupMembersOf(pairs: org.apache.spark.sql.DataFrame) =
    graft.dedup.ConnectedComponents.stars(pairs.select("id1", "id2"))
      .toDF("doc_id", "cluster_id")
      .select(col("doc_id").as("dup_id"))

  /** The repetition-quality gate shared by pp02/pp03 (tx08's
    * signals, via the same native TokenStats counts).
    */
  private def gatedDocs(s: SparkSession, d: String) = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .select(col("doc_id"), graft.functions.GraftFunctions.tokenStats("t").as("ts"))
      .select(col("doc_id"),
        col("ts.n_tokens").as("n_tokens"),
        when(col("ts.n_tokens") >= 2,
          lit(1.0) - col("ts.n_big_uniq").cast("double") /
            (col("ts.n_tokens") - 1).cast("double"))
          .otherwise(lit(null).cast("double")).as("dup2"),
        (when(col("ts.n_tokens") > 0, col("ts.top_count").cast("double"))
          .otherwise(lit(null).cast("double")) /
          nullif(col("ts.n_tokens"), lit(0L))).as("top_share"))
    // Filtering directly on the aliased columns lets Catalyst collapse
    // filter+projection, duplicating the big lambda trees into one
    // oversized stage (measured 7× slower at sf0.1 — codegen gives
    // up). The lazy localCheckpoint is a barrier: signals materialize
    // once (a narrow doc_id+3-doubles row per doc), the filter reads
    // materialized rows, and blocks free on dereference without a
    // cache-manager entry.
    scored.localCheckpoint(false)
      .filter(col("n_tokens") >= 40 &&
        col("dup2") <= 0.05 && col("top_share") <= 0.12)
  }

  /** pp04: token-budget sequence packing — the step that lays cleaned
    * documents head-to-tail into fixed-size training sequences and
    * reports, per chunk, how many documents and tokens landed in it.
    * A document is assigned to the chunk where its FIRST token falls
    * (cumulative tokens before it ÷ budget), so the layout is a pure
    * function of (doc order, token counts): deterministic, and
    * oracle-checkable as a window query.
    *
    * The global running sum does NOT use a single-partition window
    * (the classic 100 TB non-starter): [[globalCumSum]] range-
    * partitions by doc_id, computes per-bucket prefix totals on a
    * bucket-count-sized side table, and adds each bucket's offset to
    * its local cumulative window — the same two-pass selection shape
    * as [[graft.operators.Quantiles]], with the same eager
    * localCheckpoint pin (RangePartitioner reseeds per
    * materialization; the two passes must agree on bucket bounds).
    */
  val pp04_pack_sequences: Q = (s, d) => {
    val budget = 512
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n"))
    globalCumSum(toks)
      .withColumn("chunk", floor((col("cum") - col("n")) / lit(budget.toDouble)))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("chunk")
  }

  /** pp08: deterministic global shuffle + fixed-size shard packing —
    * the write side of a training pipeline. Docs are permuted into a
    * pseudo-random but REPRODUCIBLE order (md5 of the doc id — no
    * RNG, identical across engines and reruns) and packed into
    * 128-doc shards by global rank; the output is the shard manifest
    * (doc/char totals + id bounds per shard). The global rank uses
    * [[globalRank]] — the same range-partition + per-bucket offset
    * machinery as [[globalCumSum]], so no single-partition window
    * touches the corpus: the hash sort-key makes repartitionByRange
    * itself the shuffle (balanced by construction — hash keys are
    * uniform, so range buckets are even without sampling skew).
    */
  val pp08_shard_pack: Q = (s, d) => {
    val shardSize = 128
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("k"))
    shardManifest(globalRank(docs, Seq("k", "doc_id"))
      .withColumn("shard", floor((col("rn") - 1) / shardSize).cast("long")))
  }

  /** The shard manifest's ONE aggregation shape — pp08's declarative
    * manifest, writeShards' physical one and pp11's build all render
    * it from here, so the three can't drift from each other (the
    * pp12 gate then pins them to the shared oracle text).
    */
  private def shardManifest(assign: DataFrame): DataFrame =
    assign.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("shard")

  /** pp08's manifest made PHYSICAL: materialize the shard FILES a
    * training pipeline actually reads, crash-safely. Layout:
    * `outDir/shards/shard=N/` (one parquet file per shard, (doc_id,
    * text) in permuted order) + `outDir/manifest` (pp08's schema) +
    * `outDir/_committed`.
    *
    * Files and manifest derive from ONE pinned shard assignment (the
    * [[globalRank]] localCheckpoint), so they cannot disagree; the
    * doc→shard permutation is md5-keyed (no RNG), so the output is a
    * pure function of the corpus. Text is NOT carried through the
    * rank's checkpoint — the assignment is a narrow (doc_id, n_chars,
    * shard) frame and text joins back in by doc_id for the write,
    * keeping the pinned state corpus-metadata-sized at 100 TB.
    *
    * Crash-safety is the write-once + pointer-flip discipline of the
    * table format's control plane ([[graft.operators.CommitStore]];
    * the bloom sidecar's `_bloomseg`/`_bloomptr` publish is the
    * in-repo template): data writes ONCE into an immutable tokened
    * segment dir `outDir/_shardseg-<token>/{manifest,shards}`, and the
    * `_committed` marker IS the pointer — one atomic
    * [[graft.operators.CommitStore.putReplace]] whose bytes name the
    * segment. Nothing is ever renamed, so the commit is atomic on
    * object stores too (where a dir rename is a copy with a wide torn
    * window — the pre-r15 layout's weakness). A crash before the flip
    * leaves no marker (the orphan segment is swept by the next
    * replay); a crash after it leaves a complete committed output. A
    * replay against a committed dir is a no-op returning the manifest;
    * determinism makes a from-scratch rewrite byte-stable.
    */
  def writeShards(s: SparkSession, d: String, outDir: String,
                  shardSize: Int = 128): DataFrame =
    writeShardsOf(s,
      Tables.documents(s, d).select("doc_id", "text", "n_chars"),
      outDir, shardSize)

  /** [[writeShards]] over an arbitrary (doc_id, text, n_chars) frame —
    * the curated-corpus entry the CLI `build` verb uses (write the
    * TRAIN set, not the raw table). The frame is read twice (manifest
    * assignment + the data write); a caller whose frame is an
    * expensive pipeline should localCheckpoint it first.
    */
  def writeShardsOf(s: SparkSession, docsIn: DataFrame, outDir: String,
                    shardSize: Int = 128): DataFrame = {
    import graft.operators.SegmentPointer
    shardDataRoot(outDir) match {
      case Some(root) => return s.read.parquet(s"$root/manifest")
      case None => ()
    }
    // not committed: whatever exists is crash debris — a dangling
    // marker (segment swept mid-replay) goes FIRST so no reader can
    // resolve a half-cleaned dir, then the debris (orphan segments)
    SegmentPointer.dropMarker(outDir, "_committed")
    graft.IndexLifecycle.deleteRecursively(outDir)
    val seg = SegmentPointer.newSegName("_shardseg-")
    val segRoot = s"$outDir/$seg"
    val docs = docsIn
      .select(col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("k"))
    val assign = globalRank(docs, Seq("k", "doc_id"))
      .withColumn("shard", floor((col("rn") - 1) / shardSize).cast("long"))
      .select("doc_id", "n_chars", "shard", "rn")
    shardManifest(assign)
      .coalesce(1)
      .write.parquet(s"$segRoot/manifest")
    // one shuffle keyed on shard id → each shard's rows sit in exactly
    // one task → exactly one file per shard=N directory; rows inside a
    // shard file keep the PERMUTED (global-rank) order — a training
    // reader streaming a shard sequentially must not see doc_id-
    // correlated data
    val shardRows = docsIn.select("doc_id", "text")
      .join(assign.select("doc_id", "shard", "rn"), "doc_id")
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "rn")
      .select("doc_id", "text", "shard")
    // an EMPTY curated frame is realistic on the writeShardsOf path
    // (an aggressive gate can empty the train set): a partitioned
    // write of zero rows emits only _SUCCESS — no schema-carrying
    // file — and readShards on the committed dir would die on schema
    // inference. Commit a readable empty layout instead: one 0-row
    // non-partitioned parquet still carries the schema (the shard
    // column is a data column in the empty form — readShards reads it
    // the same either way). The emptiness probe reads the rank pass's
    // checkpoint, not the caller's frame.
    if (assign.isEmpty)
      shardRows.coalesce(1).write.parquet(s"$segRoot/shards")
    else
      shardRows.write.partitionBy("shard").parquet(s"$segRoot/shards")
    // the flip: one atomic pointer PUT — readers see uncommitted or
    // the complete segment, never a partial
    SegmentPointer.publish(outDir, "_committed", seg)
    s.read.parquet(s"$segRoot/manifest")
  }

  /** Resolve a shard dir's committed data root — the `_shardseg-`
    * dir the `_committed` marker names, holding `manifest/` +
    * `shards/` — or None when `outDir` is uncommitted (no marker, a
    * dangling pointer whose segment was swept, or a body that names
    * no `_shardseg-` dir, so replay rewrites it). The one discovery
    * point shared by [[writeShards]]'s replay check, [[readShards]]
    * and the specs, so the publication scheme lives in exactly one
    * place (the [[graft.operators.MergeTableBloom]] bloomDirs
    * pattern).
    */
  def shardDataRoot(outDir: String): Option[String] =
    graft.operators.SegmentPointer
      .resolveName(outDir, "_committed", "_shardseg-")
      .map(n => s"$outDir/$n")

  /** pp12: the WRITTEN manifest — pp08's numbers re-read from the
    * crash-safe physical artifact [[writeShards]] produces, which
    * puts the writer itself (segment write, pointer flip, shard files)
    * under the driver's DuckDB hash gate: a writer bug that drifted
    * the on-disk artifact from the declarative manifest fails this
    * row. Each call clears the derived output dir first, so the gate
    * (and the bench row) always pays a FULL write — never the
    * committed-replay shortcut — while reusing one per-process
    * location so repeated runs don't accumulate temp dirs. The dir
    * name folds in the PID and session identity: two processes (or
    * two sessions) benching the same corpus dir must not race one
    * shared dir's delete-then-write cycle.
    */
  /** pp13: overlapping token-window chunking — the embedding/RAG
    * splitter a retrieval corpus build runs ahead of the embedder:
    * W-token windows every S tokens (W−S tokens of overlap so no
    * boundary context is lost), the last window covering the tail.
    * Chunk count per doc is 1 + ⌈max(n−W, 0)/S⌉ over n tokens; the
    * ceil runs on a non-negative value so both engines agree (ceil
    * of a negative ratio rounds toward zero and differs). One narrow
    * per-row explode, NO shuffle — mm03's frame-sampler shape on the
    * token axis; at 100 TB this is a pure map stage whose output
    * feeds ann0x/dd0x over chunks instead of docs.
    */
  val pp13_chunk_windows: Q = (s, d) => {
    val W = 64; val S = 48
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"), explode(expr(
        s"sequence(0, cast(ceil(greatest(size(t) - $W, 0) / $S.0) as int))")).as("ci"))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        (col("ci").cast("long") * S).as("start_tok"),
        expr(s"size(slice(t, ci * $S + 1, $W))").cast("long").as("n_toks"),
        expr(s"array_join(slice(t, ci * $S + 1, $W), ' ')").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  // pp12's output dir is a session artifact: `IndexLifecycle.evictAll`
  // deletes it (the query itself rewrites it on every run)
  private val shardDirLife = new graft.IndexLifecycle[String]("pp12-shard-dir",
    release = (_, dir) => graft.IndexLifecycle.deleteRecursively(dir))

  val pp12_shard_files: Q = (s, d) => {
    val out = shardDirLife.getOrBuild(s, d)(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      "graft-shards-" + java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL) +
        "-p" + ProcessHandle.current().pid() +
        "-s" + java.lang.Integer.toHexString(System.identityHashCode(s))).toString)
    graft.IndexLifecycle.deleteRecursively(out)
    writeShards(s, d, out).orderBy("shard")
  }

  /** The reader side of [[writeShards]]: stream a committed shard dir
    * back in a fresh deterministic order PER EPOCH — the "reshuffle
    * every epoch" a training loop needs, without an RNG and without a
    * driver-side file list. Epoch e orders rows by
    * (xxhash64(shard, e), xxhash64(doc_id, e)): shard-level order and
    * intra-shard order both re-permute each epoch, any two epochs
    * yield the same multiset in different orders, and a rerun of the
    * same epoch is bit-stable. Cost is ONE range shuffle per epoch
    * (repartitionByRange + local sort — no single-partition global
    * sort); a reader that only needs shard-level reshuffling can drop
    * the second key and keep the read narrow.
    */
  def readShards(s: SparkSession, outDir: String, epoch: Long = 0L): DataFrame = {
    val root = shardDataRoot(outDir).getOrElse(throw new IllegalArgumentException(
      s"$outDir is not a committed shard dir (no resolvable _committed marker)"))
    s.read.parquet(s"$root/shards")
      .withColumn("__sh", xxhash64(col("shard"), lit(epoch)))
      .withColumn("__dh", xxhash64(col("doc_id"), lit(epoch)))
      .repartitionByRange(col("__sh"), col("__dh"))
      // doc_id as the last key: a 64-bit hash tie must not make the
      // epoch order run-dependent
      .sortWithinPartitions(col("__sh"), col("__dh"), col("doc_id"))
      .drop("__sh", "__dh")
  }

  /** Exact global row_number over `sortCols` order, scalably: the
    * rank twin of [[globalCumSum]]. Range-partition on the sort key →
    * bucket-local row_number → per-bucket counts → prefix offsets
    * over the nParts-row side table (the only unpartitioned window,
    * bucket-count-sized) → local rank + bucket offset. Internal
    * columns are __-prefixed (Quantiles' collision-hygiene rule).
    */
  private[graft] def globalRank(df: DataFrame, sortCols: Seq[String],
                                nParts: Int = 32): DataFrame = {
    val keys = sortCols.map(col)
    val data = df
      .repartitionByRange(nParts, keys: _*)
      .withColumn("__bkt", spark_partition_id())
      .localCheckpoint(true) // pin bucket bounds across the two passes
    val wOff = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = data.groupBy("__bkt").agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum("__bn").over(wOff), lit(0L)))
      .select("__bkt", "__off")
    val wRn = Window.partitionBy("__bkt").orderBy(keys: _*)
    data.withColumn("__prn", row_number().over(wRn).cast("long"))
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn("rn", col("__prn") + col("__off"))
      .drop("__bkt", "__prn", "__off")
  }

  /** Exact global cumulative token count in doc_id order, scalably:
    * range-partition → per-bucket totals → prefix offsets over the
    * (nParts)-row bucket table → bucket-local running sum + offset.
    * Input (doc_id, n); output adds `cum`. No window ever sees more
    * than one bucket's rows.
    */
  private[pipeline] def globalCumSum(toks: DataFrame, nParts: Int = 32): DataFrame = {
    // internal columns __-prefixed (Quantiles' collision-hygiene rule,
    // the discipline globalRank/keyedCumSum already follow): a caller
    // legitimately carrying a `bkt`/`off` column must not be clobbered
    val data = toks
      .repartitionByRange(nParts, col("doc_id"))
      .withColumn("__gcs_bkt", spark_partition_id())
      .localCheckpoint(true) // pin bucket bounds across the two passes
    val wOff = Window.orderBy("__gcs_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // nParts rows: the unpartitioned prefix window is bucket-count-sized
    val offsets = data.groupBy("__gcs_bkt").agg(sum("n").as("__gcs_bn"))
      .withColumn("__gcs_off", coalesce(sum("__gcs_bn").over(wOff), lit(0L)))
      .select("__gcs_bkt", "__gcs_off")
    val wCum = Window.partitionBy("__gcs_bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data.withColumn("__gcs_pcum", sum("n").over(wCum))
      .join(broadcast(offsets), Seq("__gcs_bkt"))
      .select(col("doc_id"), col("n"),
        (col("__gcs_pcum") + col("__gcs_off")).as("cum"))
  }

  /** [[globalCumSum]] generalized to a KEYED running sum: per-key
    * cumulative `n` in (orderCol, tieCol) order without ever putting
    * a whole key in one partition (the naive
    * `Window.partitionBy(key)` plans one partition per key — a
    * scale-killer when a key is a corpus source holding terabytes).
    * Same two-pass shape: range-partition by (key, order, tie) so
    * each key spans a RUN of buckets, per-(key, bucket) totals form a
    * keys×buckets-sized side table whose per-key prefix offsets are
    * cheap, and each bucket's local per-key window adds its offset.
    * Same eager localCheckpoint pin, same reasons. Internal columns
    * are __-prefixed (Quantiles' collision-hygiene rule — this helper
    * passes ALL caller columns through); the one appended OUTPUT
    * column is `cum`. NULL keys are a key like any other: the offset
    * join is null-safe, so a null-keyed partition gets its own
    * running sum instead of silently vanishing (grouping and window
    * partitioning already treat NULL as one group — an EqualTo join
    * would drop exactly those rows).
    *
    * The offsets side table is keys×buckets-sized, so the per-key
    * single-partition limit this helper removes would otherwise come
    * back as a BROADCAST limit on distinct-key count. The broadcast is
    * therefore gated: the offsets frame is eagerly checkpointed (it is
    * small relative to `data` and the join reads it anyway), counted,
    * and broadcast only while ≤ [[KcsBroadcastMaxRows]] rows — past
    * that the hint is dropped and Spark plans a shuffle join (AQE may
    * still pick broadcast at runtime if the actual bytes allow).
    */
  /** Broadcast ceiling for [[keyedCumSum]]'s keys×buckets offsets
    * table: 1M rows ≈ tens of MB — comfortably under executor memory,
    * far under driver OOM territory.
    */
  private[graft] val KcsBroadcastMaxRows: Long = 1000000L

  private[graft] def keyedCumSum(df: DataFrame, key: String,
                                 orderCol: String, tieCol: String,
                                 nCol: String, nParts: Int = 32,
                                 broadcastMaxRows: Long = KcsBroadcastMaxRows)
      : DataFrame = {
    val data = df
      .repartitionByRange(nParts, col(key), col(orderCol), col(tieCol))
      .withColumn("__kcs_bkt", spark_partition_id())
      .localCheckpoint(true)
    val wOff = Window.partitionBy(key).orderBy("__kcs_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = data.groupBy(key, "__kcs_bkt").agg(sum(nCol).as("__kcs_bn"))
      .withColumn("__kcs_off", coalesce(sum("__kcs_bn").over(wOff), lit(0L)))
      .select(col(key).as("__kcs_key"), col("__kcs_bkt").as("__kcs_obkt"),
        col("__kcs_off"))
      .localCheckpoint(true)
    val offSide =
      if (offsets.count() <= broadcastMaxRows) broadcast(offsets) else offsets
    val wCum = Window.partitionBy(key, "__kcs_bkt").orderBy(orderCol, tieCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data.withColumn("__kcs_pcum", sum(nCol).over(wCum))
      .join(offSide,
        col(key) <=> col("__kcs_key") && col("__kcs_bkt") === col("__kcs_obkt"))
      .withColumn("cum", col("__kcs_pcum") + col("__kcs_off"))
      .drop("__kcs_bkt", "__kcs_pcum", "__kcs_off", "__kcs_key", "__kcs_obkt")
  }

  /** pp15: token-budget MIXTURE sampling — the domain-reweighting
    * step a training-data build runs when the raw corpus's source
    * proportions are not the mixture the run wants: sample each
    * source down to a per-source token budget (here the uniform
    * mixture at half the corpus: budget = 0.5 × total_tokens /
    * n_sources), so over-represented sources shrink and
    * under-budget sources keep everything.
    *
    * Selection is the greedy md5(doc_id)-ordered PREFIX per source:
    * keep a doc iff the tokens of docs ordered before it (same
    * source) are still under budget — so each source overshoots by
    * at most its boundary doc. Deterministic (no RNG), engine-
    * portable (md5 hex ordering, the pp08 discipline), and stable:
    * a new doc perturbs only its own source's boundary.
    *
    * Scale: tokenization — the expensive stage — runs ONCE:
    * [[keyedCumSum]]'s eager checkpoint pins the tokenized frame, the
    * per-source totals read off it as max(cum) per source (a
    * source-count-sized driver collect — driver-sized by definition,
    * the budget rule needs ONE scalar per source), and the budget
    * filter reads the same checkpoint. The running sum itself is the
    * range-partitioned two-pass — keys×buckets side table, NO
    * per-source single-partition window anywhere.
    */
  val pp15_mixture_sample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(expr(toksExpr)).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
    val cum = keyedCumSum(docs, "source", "h", "doc_id", "n_tokens")
    // totals from the cumsum's own checkpoint (a source's inclusive
    // running max IS its total) — the raw corpus is never re-scanned
    val totals = cum.groupBy("source").agg(max("cum").as("src_toks"))
      .collect().map(r => r.getLong(1))
    val budget = 0.5 * totals.sum.toDouble / totals.length
    cum.filter(col("cum") - col("n_tokens") < budget)
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")
  }

  /** pp05: benchmark decontamination — flag training documents that
    * share any 5-token shingle with the held-out evaluation split
    * (here the deterministic split doc_id % 10 = 0). The join key is
    * the shingle itself: distinct eval grams form a (small) filter
    * set, one equi-join shuffle keyed on the gram — the inverted-
    * index shape, never doc × doc. At 100 TB the eval side is a
    * benchmark suite (tiny), so Spark broadcasts it and the pass is
    * a single corpus scan.
    */
  val pp05_decontaminate: Q = (s, d) => {
    val sh = shingles5(s, d)
    val evalGrams = sh.filter(col("doc_id") % 10 === 0)
      .select("g").distinct()
    sh.filter(col("doc_id") % 10 =!= 0)
      .join(evalGrams, Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Distinct 5-token shingles per doc. The size guard matters: Spark
    * `sequence(1, size-4)` on a 4-token doc would generate a
    * DESCENDING sequence, not an empty one.
    */
  private def shingles5(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(t) - 4), i -> concat_ws(' ', slice(t, i, 5)))")))
        .as("g"))

  /** pp06: per-stratum deterministic sampling — keep ceil(20%) of
    * each (lang, source) stratum, selected by md5(doc_id) rank so the
    * sample is reproducible across runs and engines (no RNG). The
    * window partitions by stratum: each sort is stratum-local, and a
    * skewed stratum is still only ever ranked, never collected.
    */
  val pp06_stratified_sample: Q = (s, d) => {
    val frac = 0.2
    val wN = Window.partitionBy("lang", "source")
    val wRn = wN.orderBy(md5(col("doc_id").cast("string").cast("binary")),
      col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("rn") <= ceil(lit(frac) * col("n")))
      .select("lang", "source", "doc_id")
      .orderBy("lang", "source", "doc_id")
  }

  /** pp07: weighted corpus mixing with epoch oversampling — the data-
    * mixing step that builds a training mixture from per-source
    * weights (the "wiki × 2.5, common-crawl × 0.25" knob). A weight w
    * emits floor(w) full epochs of the source plus one extra epoch
    * for its md5-rank-first ceil(frac(w)·n) documents, so both
    * upsampling (w > 1) and downsampling (w < 1) are the same
    * deterministic mechanism. One scan, stratum-local windows, then a
    * narrow per-row explode of at most ceil(w) epoch rows — no
    * shuffle beyond the stratum exchange. Weights here are exact
    * binary fractions so frac(w)·n is reproducible FP on both
    * engines.
    */
  val pp07_mix_epochs: Q = (s, d) => {
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    val wgt = when(srcNum < 5, 2.5).when(srcNum < 10, 1.0).otherwise(0.25)
    val wN = Window.partitionBy("source")
    val wRn = wN.orderBy(md5(col("doc_id").cast("string").cast("binary")),
      col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("wgt", wgt)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("n_copies", floor(col("wgt")).cast("long") +
        when(col("rn") <= ceil((col("wgt") - floor(col("wgt"))) * col("n")), 1L)
          .otherwise(0L))
      .filter(col("n_copies") >= 1)
      .select(col("source"), col("doc_id"),
        explode(expr("sequence(1L, n_copies)")).as("epoch"))
      .orderBy("source", "doc_id", "epoch")
  }

  /** pp09: FUZZY benchmark decontamination — pp05 catches verbatim
    * 5-gram overlap; this catches paraphrased/near-copy contamination
    * via MinHash similarity to any eval doc (the dd04 machinery
    * pointed at the train/eval boundary). Scale shape: the eval split
    * is benchmark-suite-sized — its band keys and signatures are
    * BROADCAST — so the whole pass is ONE narrow signature scan over
    * the train corpus plus broadcast joins; candidate rows (shared
    * band buckets) are the only thing ever aggregated. Rows-only
    * (hash-seeded semantics); spec: exact agreement with a
    * brute-force train×eval estimated-Jaccard sweep.
    */
  // --- pp10: gate ablation report — the rollup a pipeline owner
  // actually reads after a tx16 run ("why did we drop 12% of this
  // crawl?"): per (lang, source, rule) failure counts with the
  // stratum's doc/drop totals and failure rate. ONE pass over the
  // gate output: each doc explodes into a '__doc__' sentinel (+ a
  // '__drop__' sentinel and its failed-rule names when dropped), so
  // a single (lang, source, rule) count aggregation carries the
  // stratum totals alongside the rule counts — no second gate scan,
  // no self-join of the expensive signal projection (pp02's
  // CollapseProject lesson). The re-assembly join is over
  // strata-sized aggregates (broadcast). Rules that never fire in a
  // stratum produce no row, like any incident report.
  val pp10_gate_report: Q = (s, d) => {
    val gate = graft.text.TextAnalysis.tx16_quality_gate(s, d)
    val dims = Tables.documents(s, d).select("doc_id", "lang", "source")
    val counts = gate.join(dims, Seq("doc_id"))
      .select(col("lang"), col("source"),
        explode(concat(
          array(lit("__doc__")),
          when(col("keep"), typedlit(Array.empty[String]))
            .otherwise(concat(array(lit("__drop__")),
              split(col("reasons"), ","))))).as("rule"))
      .groupBy("lang", "source", "rule").agg(count(lit(1)).as("n"))
    val strata = counts.filter(col("rule") === "__doc__")
      .select(col("lang"), col("source"), col("n").as("n_docs"))
    val drops = counts.filter(col("rule") === "__drop__")
      .select(col("lang"), col("source"), col("n").as("n_dropped"))
    counts.filter(!col("rule").isin("__doc__", "__drop__"))
      .select(col("lang"), col("source"), col("rule"), col("n").as("n_failed"))
      .join(broadcast(strata), Seq("lang", "source"))
      .join(broadcast(drops), Seq("lang", "source"))
      .select(col("lang"), col("source"), col("rule"), col("n_failed"),
        col("n_docs"), col("n_dropped"),
        (round(col("n_failed").cast("double") / col("n_docs") * 10000) / 10000)
          .as("fail_rate"))
      .orderBy("lang", "source", "rule")
  }

  val pp09_decontaminate_fuzzy: Q = (s, d) => {
    val tau = 0.35
    val docs = Tables.documents(s, d)
    // both signature sets feed two plan branches each (band keys +
    // the verify join); the lazy localCheckpoint barrier materializes
    // each ONCE — without it Spark re-tokenizes and re-minhashes the
    // corpus per branch (no shared exchange for ReuseExchange)
    val evalSigs = graft.dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 === 0))
      .localCheckpoint(false)
    val trainSigs = graft.dedup.Dedup.sigsOf(docs.filter(col("doc_id") % 10 =!= 0))
      .localCheckpoint(false)
    val cand = graft.dedup.Dedup.bandKeysOf(trainSigs).toDF("doc_id", "bkey")
      .join(broadcast(graft.dedup.Dedup.bandKeysOf(evalSigs).toDF("eval_id", "bkey")),
        Seq("bkey"))
      .select("doc_id", "eval_id").distinct()
    cand
      .join(trainSigs, Seq("doc_id"))
      .join(broadcast(evalSigs.toDF("eval_id", "eval_sig")), Seq("eval_id"))
      .withColumn("est",
        graft.dedup.Dedup.estJaccard(col("sig"), col("eval_sig")))
      .filter(col("est") >= tau)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_matches"), (round(max(col("est")) * 10000) / 10000).as("max_est"))
      .orderBy("doc_id")
  }

  /** pp11: the full training-data build as ONE declarative plan —
    * the capstone composition a user of this library actually runs:
    * quality gate (tx16's keep bit) → exact dedup among survivors
    * (dd01's fingerprint, keep min id) → benchmark decontamination
    * (pp05's eval-5-gram overlap) → deterministic shard packing
    * (pp08's md5-order global rank). Every stage is the REGISTERED
    * standalone operator's subplan (tx16 / pp05 called directly,
    * dd01's fp expression, pp08's globalRank), so the pipeline can't
    * drift from the pieces the gate already verifies; the oracle
    * likewise embeds the stage oracles as CTEs. Output is the shard
    * manifest of the cleaned corpus. Scale shape: each stage is the
    * proven per-stage plan; the composition adds only keyed
    * semi-/anti-joins on doc_id (the natural partitioning key) and
    * inherits pp08's range-partitioned rank — no new shuffle shapes,
    * no driver loops, one logical plan end to end.
    */
  /** The full-build SELECTION (quality gate → exact dedup → eval
    * split-off → decontamination), shape (doc_id, n_chars) — shared
    * verbatim by pp11's declarative manifest and the CLI `build`
    * verb's physical write, so the two can't drift.
    */
  private[graft] def trainSet(s: SparkSession, d: String): DataFrame = {
    val keep = graft.text.TextAnalysis.tx16_quality_gate(s, d)
      .filter(col("keep")).select("doc_id")
    val f = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      md5(graft.text.TextAnalysis.normText(col("text"))).as("fp"))
    val kept = f.join(keep, Seq("doc_id"))
    val dedupKeep = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val contaminated = pp05_decontaminate(s, d).select("doc_id")
    kept.join(dedupKeep, Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_chars")
  }

  val pp11_full_build: Q = (s, d) => {
    val shardSize = 128
    val train = trainSet(s, d)
    shardManifest(
      globalRank(train.withColumn("k", md5(col("doc_id").cast("string"))),
          Seq("k", "doc_id"))
        .withColumn("shard", floor((col("rn") - 1) / shardSize).cast("long")))
  }

  val registry: Map[String, Q] = Map(
    "pp15_mixture_sample" -> pp15_mixture_sample,
    "pp14_split_leakage_safe" -> pp14_split_leakage_safe,
    "pp13_chunk_windows" -> pp13_chunk_windows,
    "pp12_shard_files" -> pp12_shard_files,
    "pp11_full_build" -> pp11_full_build,
    "pp10_gate_report" -> pp10_gate_report,
    "pp09_decontaminate_fuzzy" -> pp09_decontaminate_fuzzy,
    "pp08_shard_pack" -> pp08_shard_pack,
    "pp07_mix_epochs" -> pp07_mix_epochs,
    "pp01_clean_corpus" -> pp01_clean_corpus,
    "pp02_curate" -> pp02_curate,
    "pp03_curate_lsh" -> pp03_curate_lsh,
    "pp04_pack_sequences" -> pp04_pack_sequences,
    "pp05_decontaminate" -> pp05_decontaminate,
    "pp06_stratified_sample" -> pp06_stratified_sample)

  private val sqlToks =
    "list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')"

  private val shardManifestSql =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT CAST(floor((rn - 1) / 128.0) AS BIGINT) AS shard,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM r GROUP BY shard ORDER BY shard""".stripMargin

  val oracles: Map[String, String] = Map(
    // pp13: DuckDB list slicing t[a:b] is 1-based inclusive and
    // clamps like Spark's slice(t, a, len); the ceil runs on a
    // greatest(.., 0) value on both sides (negative-ratio ceil
    // semantics differ between engines)
    "pp13_chunk_windows" ->
      s"""WITH x AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |n AS (SELECT doc_id, t, len(t) AS n FROM x WHERE len(t) > 0),
         |k AS (SELECT doc_id, t,
         |        unnest(generate_series(0,
         |          CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS ci
         |      FROM n)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         |  CAST(ci * 48 AS BIGINT) AS start_tok,
         |  CAST(len(t[ci * 48 + 1 : ci * 48 + 64]) AS BIGINT) AS n_toks,
         |  array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
         |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    // pp15: the budget scalar is 0.5 × sum / count over the per-source
    // totals — both engines compute it from the same BIGINTs in the
    // same double arithmetic, so the long-vs-double prefix comparison
    // cuts identically; the exclusive prior is the 1-PRECEDING window
    // (Spark side: cum − n_tokens)
    "pp15_mixture_sample" ->
      s"""WITH t AS (SELECT doc_id, source, len($sqlToks) AS n_tokens,
         |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |s AS (SELECT source, sum(n_tokens) AS src_toks FROM t GROUP BY 1),
         |b AS (SELECT 0.5 * (SELECT sum(src_toks) FROM s) / (SELECT count(*) FROM s) AS budget),
         |c AS (SELECT t.*, coalesce(sum(n_tokens) OVER (
         |        PARTITION BY source ORDER BY h, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |      FROM t)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM c, b WHERE prior < budget ORDER BY doc_id""".stripMargin,
    // pp14 embeds dd06's cluster oracle verbatim (the same anti-drift
    // discipline as pp10/pp11's tx16 embedding): group = component
    // min for clustered docs, self for singletons; split = first hex
    // char of md5(group id), identical expression both engines
    "pp14_split_leakage_safe" ->
      s"""WITH cl AS (${graft.dedup.Dedup.oracles("dd06_neardup_clusters")}),
         |g AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_id
         |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT doc_id, group_id,
         |  CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 1) IN ('0', '1') THEN 'test'
         |       WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 1) IN ('2', '3') THEN 'val'
         |       ELSE 'train' END AS split
         |FROM g ORDER BY doc_id""".stripMargin,
    // pp11 embeds the tx16 gate oracle and pp05's shingle CTEs
    // verbatim — the same anti-drift discipline as pp10
    "pp11_full_build" ->
      s"""WITH gate AS (${graft.text.TextAnalysis.oracles("tx16_quality_gate")}),
         |f AS (SELECT doc_id, n_chars,
         |        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |      FROM documents),
         |kept AS (SELECT f.* FROM f JOIN gate USING (doc_id) WHERE gate.reasons = ''),
         |dd AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp),
         |t5 AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM t5)),
         |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0),
         |cont AS (SELECT DISTINCT doc_id FROM sh JOIN ev USING (g) WHERE doc_id % 10 <> 0),
         |train AS (SELECT k.doc_id, k.n_chars FROM kept k
         |          JOIN dd USING (doc_id)
         |          WHERE k.doc_id % 10 <> 0
         |            AND k.doc_id NOT IN (SELECT doc_id FROM cont)),
         |r AS (SELECT doc_id, n_chars,
         |        row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |      FROM train)
         |SELECT CAST(floor((rn - 1) / 128.0) AS BIGINT) AS shard,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM r GROUP BY shard ORDER BY shard""".stripMargin,
    // pp10 embeds tx16's oracle verbatim as its gate CTE, so the two
    // can't drift apart
    "pp10_gate_report" ->
      s"""WITH g AS (${graft.text.TextAnalysis.oracles("tx16_quality_gate")}),
         |j AS (SELECT g.doc_id, g.reasons, d.lang, d.source
         |      FROM g JOIN documents d USING (doc_id)),
         |strata AS (SELECT lang, source, count(*) AS n_docs,
         |    sum(CASE WHEN reasons <> '' THEN 1 ELSE 0 END) AS n_dropped
         |  FROM j GROUP BY lang, source),
         |rc AS (SELECT lang, source, rule, count(*) AS n_failed FROM (
         |    SELECT lang, source, unnest(string_split(reasons, ',')) AS rule
         |    FROM j WHERE reasons <> '') GROUP BY lang, source, rule)
         |SELECT lang, source, rule, CAST(n_failed AS BIGINT) AS n_failed,
         |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_dropped AS BIGINT) AS n_dropped,
         |  round(n_failed * 1.0 / n_docs * 10000) / 10000 AS fail_rate
         |FROM rc JOIN strata USING (lang, source)
         |ORDER BY lang, source, rule""".stripMargin,
    "pp08_shard_pack" -> shardManifestSql,
    // pp12 writes the physical shards and returns the manifest read
    // back off disk — the SAME oracle text by construction, so the
    // writer's artifact is held to pp08's declarative truth
    "pp12_shard_files" -> shardManifestSql,
    "pp01_clean_corpus" ->
      s"""WITH scored AS (
         |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |    len(t) AS n_tokens,
         |    CAST(len(list_filter(t, x -> x IN ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
         |      / len(t) AS stop_ratio
         |  FROM (SELECT doc_id, text, $sqlToks AS t FROM documents) x),
         |keep AS (SELECT fp, min(doc_id) AS keep_id FROM scored GROUP BY fp)
         |SELECT doc_id, n_tokens FROM scored JOIN keep USING (fp)
         |WHERE doc_id = keep_id AND n_tokens >= 20 AND stop_ratio >= 0.01
         |ORDER BY doc_id""".stripMargin,
    "pp02_curate" ->
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
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |dups AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a),
         |q AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    CASE WHEN len(t) >= 2 THEN
         |      1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 1),
         |            i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE) / (len(t) - 1)
         |      ELSE NULL END AS dup2,
         |    CAST(list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
         |      / nullif(len(t), 0) AS top_share
         |  FROM t)
         |SELECT doc_id, n_tokens FROM q
         |WHERE doc_id NOT IN (SELECT doc_id FROM dups)
         |  AND n_tokens >= 40 AND dup2 <= 0.05 AND top_share <= 0.12
         |ORDER BY doc_id""".stripMargin,
    "pp04_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS n FROM documents),
         |c AS (SELECT doc_id, n,
         |        sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT CAST(floor((cum - n) / 512.0) AS BIGINT) AS chunk,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY chunk ORDER BY chunk""".stripMargin,
    "pp05_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM t)),
         |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM sh JOIN ev USING (g)
         |WHERE doc_id % 10 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pp07_mix_epochs" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 2.5
        |         WHEN CAST(substr(source, 4) AS INT) < 10 THEN 1.0
        |         ELSE 0.25 END AS wgt,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |c AS (SELECT source, doc_id,
        |        CAST(floor(wgt) AS BIGINT) +
        |          (CASE WHEN rn <= ceil((wgt - floor(wgt)) * n) THEN 1 ELSE 0 END) AS n_copies
        |      FROM b)
        |SELECT source, doc_id, CAST(epoch AS BIGINT) AS epoch
        |FROM c, LATERAL (SELECT unnest(generate_series(1, n_copies)) AS epoch) e
        |WHERE n_copies >= 1
        |ORDER BY source, doc_id, epoch""".stripMargin,
    "pp06_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang, source) AS n
        |  FROM documents)
        |SELECT lang, source, doc_id FROM s
        |WHERE rn <= CAST(ceil(0.2 * n) AS BIGINT)
        |ORDER BY lang, source, doc_id""".stripMargin)
}
