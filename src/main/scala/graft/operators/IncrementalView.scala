package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental (delta-maintained) aggregate views over a
  * [[MergeTable]] change feed — the classic IVM shape (materialized
  * view maintenance, cf. the view-maintenance treatment in Gupta &
  * Mumick's survey and Delta Live Tables / Materialize in practice),
  * built on the CDC pre-image feed this engine already has.
  * Reference surface: the monoid-bolt state discipline
  * (`src/Hailstorm/Processor/Bolt.hs:1-60` — state advances by
  * merging deltas, never by recomputation) applied to SQL aggregates
  * over a keyed table.
  *
  * The maintained aggregates are count + named SUMs (avg derives as
  * sum/count downstream) plus, since r20, named MIN/MAX. Count/sum
  * are self-maintainable: insert adds, delete retracts, update
  * retracts the pre-image and adds the post-image — which is exactly
  * why [[applyDelta]] demands the `preImages = true` CDC shape
  * (`U_pre`/`U_post`); a post-only feed cannot retract what it never
  * saw. min/max are NOT self-maintainable (deleting the extremum
  * can't be folded from the delta — the standard IVM limitation), so
  * they ride the OTHER mechanism refresh already has: the affected
  * groups are re-read anyway (broadcast semi-join on the delta's
  * group keys), and [[applyDeltaWithSource]] recomputes min/max for
  * exactly those groups from the SOURCE rows — cost stays ∝ delta +
  * affected groups, never the base table, and `max(event_ts)`
  * freshness views (the single most common real view) become
  * maintainable.
  *
  * Exactness: each sum also maintains its non-null contribution
  * count, so a group whose inputs are all NULL reports SQL's NULL
  * (not 0) and a group emptied by deletes leaves the view. THE
  * EXACTNESS REGIME IS EXACT ARITHMETIC ONLY — integer, long and
  * decimal sums are row-for-row what recomputation would produce
  * (associative and invertible), and the q69 oracle holds a
  * decimal-cents sum to DuckDB's answer. FLOAT/DOUBLE sums are NOT in
  * the regime: retract-then-assert accumulates IEEE rounding error
  * against a fresh fold (x + δ - δ ≠ x in general), so a
  * double-typed sum expression is REJECTED at [[compute]]/
  * [[applyDelta]] with a decimal-cast hint — `cast(round(amt * 100)
  * as decimal(38,0))` is the standard spelling (the same
  * explicit-IEEE-parity posture q55 takes, inverted).
  *
  * Scale shape: refresh cost is ∝ |delta| + |affected groups|, never
  * ∝ the base table. The delta aggregation is one map-side-combined
  * shuffle over the CDC span (itself manifest-pruned to the files
  * that changed); the persisted view is touched only on affected
  * group keys through [[MergeTable.merge]]'s banded rewrite. At
  * 100 TB base with a day's churn, the view advances in time
  * proportional to the day.
  */
object IncrementalView {

  /** View definition: group columns plus named sum expressions (SQL
    * expression strings over the base table's columns), and optional
    * named min/max expressions (r20). `count(*)` is always maintained
    * as `mv_count`; each sum `name -> exprSql` surfaces as column
    * `name` with its non-null contribution count in `__nn_name`; each
    * min/max surfaces as column `name` (maintained by affected-group
    * recomputation — see the object scaladoc).
    */
  final case class ViewSpec(groupCols: Seq[String], sums: Seq[(String, String)],
                            mins: Seq[(String, String)] = Nil,
                            maxs: Seq[(String, String)] = Nil) {
    require(groupCols.nonEmpty, "a view needs at least one group column")
    private val aggNames = (sums ++ mins ++ maxs).map(_._1)
    require(aggNames.distinct.size == aggNames.size,
      s"duplicate aggregate names in ${aggNames.mkString(",")}")
    // the spec round-trips through the store's commit meta (one line
    // per family, entries ';'-joined) so refresh needs no
    // re-declaration — names stay identifiers, exprs single-line
    (sums ++ mins ++ maxs).foreach { case (n, e) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"aggregate name '$n' must be an identifier")
      require(!e.exists(c => c == ';' || c == '\n' || c == '\r'),
        s"aggregate expression '$e' must be single-line without ';'")
    }
    groupCols.foreach(c => require(!c.exists(ch => ch == ',' || ch == '\n'),
      s"group column '$c' must not contain ',' or newlines"))
    /** The extremum columns in stable order: mins then maxs. */
    def extremes: Seq[(String, String, Boolean)] =
      mins.map { case (n, e) => (n, e, true) } ++
        maxs.map { case (n, e) => (n, e, false) }
  }

  private def nn(name: String) = s"__nn_$name"

  /** The exact-arithmetic regime gate (see the object scaladoc): a
    * sum expression resolving to float/double is refused LOUDLY here,
    * at both maintenance entry points, rather than silently drifting
    * the view under retraction. Resolution is one driver-side
    * analysis pass, no job.
    */
  private def assertExactSumTypes(frame: DataFrame, spec: ViewSpec): Unit =
    spec.sums.foreach { case (n, e) =>
      val t = frame.select(expr(e)).schema.head.dataType
      require(t != org.apache.spark.sql.types.DoubleType &&
        t != org.apache.spark.sql.types.FloatType,
        s"sum '$n' ($e) resolves to ${t.simpleString}: floating-point sums are " +
          "outside the incremental-maintenance exactness regime (retract-then-" +
          "assert accumulates IEEE error vs recomputation) — sum an exact type " +
          s"instead, e.g. cast(round(($e) * 100) as decimal(38,0)) for cents")
    }

  /** Ground-truth computation: full groupBy over `table`. Used once at
    * [[materialize]] time (and by specs to check maintenance).
    */
  def compute(table: DataFrame, spec: ViewSpec): DataFrame = {
    assertExactSumTypes(table, spec)
    val aggs = (count(lit(1L)).as("mv_count") +:
      spec.sums.flatMap { case (n, e) =>
        Seq(sum(expr(e)).as(n), count(expr(e)).as(nn(n))) }) ++
      spec.extremes.map { case (n, e, isMin) =>
        (if (isMin) min(expr(e)) else max(expr(e))).as(n) }
    table.groupBy(spec.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Apply one CDC delta to a maintained state frame and return the
    * new state. `changes` must be the `preImages = true` shape
    * (`change_op` ∈ I, D, U_pre, U_post); a plain `U` row fails the
    * job loudly (via `raise_error`) rather than silently drifting the
    * view. Extra feed columns (`_commit_gen`) are ignored.
    *
    * One aggregation over the delta + one full-outer join against the
    * state — no base-table access. Groups whose row count reaches 0
    * leave the view; sums whose non-null count reaches 0 become NULL
    * (SQL semantics under retraction).
    *
    * Group identity rides the same U+0001/U+0002 string encoding as
    * the persisted store key (null-SAFE, which a raw-column join is
    * not): the encoding assumes group values don't contain those two
    * control characters — a value that does could collide with a
    * neighboring group or the NULL sentinel (the standard composite-
    * key caveat; pick a different separator upstream if your domain
    * legitimately contains U+0001).
    */
  def applyDelta(state: DataFrame, changes: DataFrame, spec: ViewSpec): DataFrame = {
    require(spec.mins.isEmpty && spec.maxs.isEmpty,
      "applyDelta maintains counts and sums only — min/max retraction " +
        "cannot fold from the delta alone; use applyDeltaWithSource " +
        "(or refresh, which supplies the source rows)")
    assertExactSumTypes(changes, spec)
    val w = when(col("change_op").isin("I", "U_post"), lit(1L))
      .when(col("change_op").isin("D", "U_pre"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("IncrementalView.applyDelta needs a preImages=true feed; got change_op="),
        col("change_op"))).cast("long"))
    val dAggs = sum(w).as("__d_count") +:
      spec.sums.flatMap { case (n, e) =>
        Seq(sum(w * expr(e)).as(s"__d_$n"),
          sum(when(expr(e).isNotNull, w).otherwise(lit(0L))).as(s"__d_nn_$n")) }
    val delta = changes.groupBy(spec.groupCols.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*)
    // join on the NULL-SAFE composite key, not the raw group columns:
    // a USING join is null-unsafe, so a NULL group's retraction would
    // silently miss its state row (and duplicate the group). The
    // encoded key is never null; group values surface via coalesce of
    // the two sides (both null ⇔ the NULL group — still correct).
    val sk = state.select((Seq(keyExpr(spec).as("__gk")) ++
      spec.groupCols.map(c => col(c).as(s"__sg_$c")) ++
      Seq(col("mv_count")) ++
      spec.sums.flatMap { case (n, _) => Seq(col(n), col(nn(n))) }): _*)
    val dk = delta.select((Seq(keyExpr(spec).as("__gk")) ++
      spec.groupCols.map(c => col(c).as(s"__dg_$c")) ++
      Seq(col("__d_count")) ++
      spec.sums.flatMap { case (n, _) =>
        Seq(col(s"__d_$n"), col(s"__d_nn_$n")) }): _*)
    val joined = sk.join(dk, Seq("__gk"), "full_outer")
    val outCols: Seq[Column] =
      spec.groupCols.map(c => coalesce(col(s"__sg_$c"), col(s"__dg_$c")).as(c)) ++
      Seq((coalesce(col("mv_count"), lit(0L)) +
        coalesce(col("__d_count"), lit(0L))).as("mv_count")) ++
      spec.sums.flatMap { case (n, _) =>
        val nnNew = coalesce(col(nn(n)), lit(0L)) + coalesce(col(s"__d_nn_$n"), lit(0L))
        val sNew = coalesce(col(n), lit(0)) + coalesce(col(s"__d_$n"), lit(0))
        Seq(when(nnNew > 0, sNew).as(n), nnNew.as(nn(n)))
      }
    joined.select(outCols: _*).filter(col("mv_count") > 0)
  }

  /** [[applyDelta]] for specs carrying min/max aggregates: counts and
    * sums fold from the delta exactly as there; min/max are
    * RECOMPUTED for the affected groups from `source` (the base table
    * at the delta's END generation), restricted by a broadcast
    * semi-join on the delta's group keys — a deleted extremum cannot
    * be folded back from the delta, but the affected groups' source
    * rows decide it exactly. Unaffected groups keep their state
    * extremes untouched. Cost: ∝ |delta| + affected groups' source
    * rows (file-pruned where the source clusters on the group
    * dimension), never the base table.
    */
  def applyDeltaWithSource(state: DataFrame, changes0: DataFrame, spec: ViewSpec,
                           source: DataFrame): DataFrame = {
    val exts = spec.extremes
    if (exts.isEmpty) return applyDelta(state, changes0, spec)
    // materialize the delta once (r21): it feeds BOTH the count/sum
    // fold and the deltaKeys derivation below — unbarriered, a caller
    // handing the raw CDC diff (q76's direct-call shape) paid the
    // full-outer diff join twice; the delta is batch-sized by the CDC
    // contract, exactly what refresh() already materializes upstream
    val changes = changes0.localCheckpoint(false)
    val folded = applyDelta(state.drop(exts.map(_._1): _*), changes,
      spec.copy(mins = Nil, maxs = Nil))
    // materialize the (tiny, group-count-sized) affected-key set once:
    // it feeds THREE plan branches below (the source semi-join, the
    // __aff flag, and via them two broadcasts) with no shared exchange
    // for ReuseExchange to dedupe — without the barrier each branch
    // re-runs the whole CDC diff that produced `changes` (the q76 plan
    // audit found three FullOuter diff subtrees where one suffices;
    // applyChanges' own checkpoint covers only ITS caller)
    val deltaKeys = changes.select(keyExpr(spec).as("__gk")).distinct()
      .localCheckpoint(false)
    val aggs = exts.map { case (n, e, isMin) =>
      (if (isMin) min(expr(e)) else max(expr(e))).as(s"__x_$n") }
    val recomputed = source.join(broadcast(deltaKeys),
        keyExpr(spec) === col("__gk"), "left_semi")
      .groupBy(spec.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keyExpr(spec).as("__gk") +: exts.map(t => col(s"__x_${t._1}")): _*)
    val oldExt = state.select(keyExpr(spec).as("__gk") +:
      exts.map(t => col(t._1).as(s"__o_${t._1}")): _*)
    // stitch on the null-safe encoded key: affected groups (flagged by
    // the delta-key join) take the recomputed extremum — which is
    // legitimately NULL when the group's inputs are all null — the
    // rest carry the state's value; both side frames are group-count-
    // sized (recomputed: affected groups; oldExt: the state, which the
    // persisted path already restricts to affected groups)
    folded.withColumn("__gk", keyExpr(spec))
      .join(broadcast(deltaKeys.withColumn("__aff", lit(true))), Seq("__gk"), "left")
      .join(oldExt, Seq("__gk"), "left")
      .join(broadcast(recomputed), Seq("__gk"), "left")
      .select(folded.columns.map(col) ++ exts.map { case (n, _, _) =>
        when(col("__aff"), col(s"__x_$n")).otherwise(col(s"__o_$n")).as(n) }: _*)
  }

  // ---- persisted views (state = its own MergeTable) ----

  /** Composite group key for the backing store: group values joined on
    * U+0001, with U+0002 standing in for NULL (distinct from any
    * rendered value, keeps null groups mergeable).
    */
  val keyColName = "__mv_key"
  private def keyExpr(spec: ViewSpec): Column =
    concat_ws("\u0001",
      spec.groupCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)

  private def metaOf(spec: ViewSpec, srcKeyCol: String, srcGen: Int) = Map(
    "mv_src_gen" -> srcGen.toString,
    "mv_src_key" -> srcKeyCol,
    "mv_group" -> spec.groupCols.mkString(","),
    "mv_sums" -> spec.sums.map { case (n, e) => s"$n=$e" }.mkString(";"),
    "mv_mins" -> spec.mins.map { case (n, e) => s"$n=$e" }.mkString(";"),
    "mv_maxs" -> spec.maxs.map { case (n, e) => s"$n=$e" }.mkString(";"))

  /** The view's consumer id in the SOURCE's CDC-horizon registry: a
    * persisted view IS an incremental consumer — its refresh replays
    * `changesBetween(mv_src_gen, cur)`, which needs the manifest at
    * its watermark and the superseded pre-image files of the span —
    * so it registers like a stream (materialize claims, every refresh
    * advances) and a source vacuum can no longer silently break a
    * stale view's next refresh. Decommission a dropped view with
    * [[release]].
    */
  def consumerId(mvDir: String): String = {
    // normalized absolute path: "store/mv", "./store/mv" and
    // "a/../store/mv" must all resolve to ONE registry entry, or the
    // stale spelling's horizon would pin retention forever (symlinked
    // spellings remain distinct — the documented caveat; use one
    // canonical path per view)
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Path.of(mvDir).toAbsolutePath.normalize()
        .toString.getBytes("UTF-8"))
    "mv-" + d.map(b => f"$b%02x").mkString
  }

  /** Floor-advance the view's horizon at the source — also the
    * CRASH-CATCH-UP path: a death between the view store's merge
    * commit and the registration leaves the horizon stale, so every
    * idempotent re-entry (refresh with nothing pending, a replayed
    * stream span hitting the reflectedGen guard) re-advances it to
    * the reflected watermark instead of leaving vacuum blocked until
    * the source happens to commit again.
    */
  private def advanceHorizon(srcDir: String, mvDir: String, gen: Int): Unit =
    if (!MergeTable.cdcHorizons(srcDir).get(consumerId(mvDir)).exists(_ >= gen))
      MergeTable.registerCdcHorizon(srcDir, consumerId(mvDir), gen)

  /** Drop the view's retention registration at its source (the view
    * store itself is untouched); returns whether one existed.
    */
  def release(srcDir: String, mvDir: String): Boolean =
    MergeTable.releaseCdcHorizon(srcDir, consumerId(mvDir))

  /** Materialize the view of `srcDir` (a committed [[MergeTable]])
    * into `mvDir` as its own MergeTable keyed by the composite group
    * key. The source generation rides the commit-log meta, so
    * [[refresh]] knows where its CDC span starts; the view also
    * registers a retention horizon at the source (see [[consumerId]]).
    * Returns the source generation the view now reflects.
    */
  def materialize(s: SparkSession, srcDir: String, srcKeyCol: String,
                  mvDir: String, spec: ViewSpec, nFiles: Int = 4): Int = {
    val gen = MergeTable.committedGen(srcDir).getOrElse(
      sys.error(s"$srcDir is not a committed keyed table (no commit log)"))
    val st = compute(MergeTable.readTable(s, srcDir, asOf = Some(gen)), spec)
      .withColumn(keyColName, keyExpr(spec))
    MergeTable.write(s, st, keyColName, mvDir, nFiles,
      meta = metaOf(spec, srcKeyCol, gen))
    MergeTable.registerCdcHorizon(srcDir, consumerId(mvDir), gen)
    gen
  }

  /** Newest commit on the store that carries the view watermark — a
    * maintenance commit (compact/recluster on the store itself) has
    * its own meta, so the scan walks back through the commit log
    * instead of trusting only the latest entry. The walk is BOUNDED
    * by the newest commit-log checkpoint: its rollup records the
    * newest watermark meta at or below it, so resolution reads the
    * short tail plus one checkpoint — flat in generation count, where
    * the unbounded walk paid one tiny log read per maintenance commit
    * (a streaming sink mints one per micro-batch). With no checkpoint
    * (young table, or every rollup write failed) the walk reaches
    * gen 0 as before.
    */
  private def srcMetaMap(mvDir: String): Map[String, String] = {
    val cur = MergeTable.committedGen(mvDir).getOrElse(
      sys.error(s"$mvDir is not a committed keyed table (no commit log)"))
    val ckpt = MergeTable.lastCheckpointGen(mvDir)
    val floor = ckpt.map(_ + 1).getOrElse(0)
    (cur to floor by -1).iterator.map(g => MergeTable.metaAt(mvDir, g))
      .collectFirst { case m if m.contains("mv_src_gen") => m }
      .orElse(ckpt.flatMap(g => MergeTable.checkpointMvMeta(mvDir, g)))
      .getOrElse(sys.error(
        s"$mvDir is not a materialized view (no mv_src_gen in any commit meta)"))
  }

  private def srcMeta(mvDir: String): (Int, String) = {
    val m = srcMetaMap(mvDir)
    (m("mv_src_gen").toInt, m.getOrElse("mv_src_key",
      sys.error(s"$mvDir commit meta has mv_src_gen but no mv_src_key")))
  }

  /** Source generation the persisted view currently reflects. */
  def reflectedGen(mvDir: String): Int = srcMeta(mvDir)._1

  /** The view definition as persisted in the store's commit meta —
    * what an operator's `mv-refresh` runs with, no re-declaration.
    */
  /** Inverse of `metaOf`'s mv_sums rendering — also what the CLI's
    * `mv-create` argument uses, so the two parses cannot drift.
    */
  def parseSums(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"malformed sum entry '$kv' (want name=expr)")
      kv.take(i) -> kv.drop(i + 1)
    }

  def specOf(mvDir: String): ViewSpec = {
    val m = srcMetaMap(mvDir)
    val grp = m.getOrElse("mv_group",
      sys.error(s"$mvDir commit meta lacks mv_group")).split(",").toSeq
    // an ABSENT key is not a count-only view (that writes mv_sums="")
    // — it's a store materialized by an older writer whose sums this
    // reader can't know; silently refreshing with no sums would null
    // out every affected group's sum columns. Fail loudly; the 4-arg
    // refresh with the explicit spec still works on such a store.
    val sums = m.getOrElse("mv_sums", sys.error(
      s"$mvDir commit meta lacks mv_sums — refresh with an explicit ViewSpec"))
    // pre-r20 stores have no mins/maxs keys: they simply maintain none
    ViewSpec(grp, parseSums(sums),
      m.get("mv_mins").map(parseSums).getOrElse(Nil),
      m.get("mv_maxs").map(parseSums).getOrElse(Nil))
  }

  /** An explicit spec must MATCH the persisted view definition when
    * one exists: a same-shaped spec with a different sum expression
    * (sb -> bal*2 vs the persisted bal) would fold mismatched deltas
    * onto the existing state and silently drift the view. The
    * unchecked path remains only for legacy stores lacking the meta.
    */
  private def assertSpecMatchesStore(mvDir: String, spec: ViewSpec): Unit = {
    val m = srcMetaMap(mvDir)
    (m.get("mv_group"), m.get("mv_sums")) match {
      case (Some(grp), Some(sums)) =>
        val persisted = ViewSpec(grp.split(",").toSeq, parseSums(sums),
          m.get("mv_mins").map(parseSums).getOrElse(Nil),
          m.get("mv_maxs").map(parseSums).getOrElse(Nil))
        def render(v: ViewSpec) =
          s"group=[${v.groupCols.mkString(",")}] " +
            s"sums=[${v.sums.map { case (n, e) => s"$n=$e" }.mkString(";")}] " +
            s"mins=[${v.mins.map { case (n, e) => s"$n=$e" }.mkString(";")}] " +
            s"maxs=[${v.maxs.map { case (n, e) => s"$n=$e" }.mkString(";")}]"
        require(persisted == spec,
          s"spec for $mvDir does not match the persisted view definition " +
            s"(persisted: ${render(persisted)}; passed: ${render(spec)}) — " +
            "use specOf(mvDir), or re-materialize to change the definition")
      case _ => () // pre-meta store: caller owns spec fidelity
    }
  }

  /** [[refresh]] with the PERSISTED spec — the operational form. */
  def refresh(s: SparkSession, srcDir: String, mvDir: String): Option[Int] =
    refresh(s, srcDir, mvDir, specOf(mvDir))

  /** Advance the persisted view to the source's current generation by
    * delta maintenance — or no-op (None) if already current. Only
    * AFFECTED groups are read back from the view (broadcast semi-join
    * on the delta's group keys; the view store is itself key-banded,
    * so the merge rewrites only the files holding those groups).
    * Idempotent per source generation: a replayed span (crash between
    * merge and checkpoint in the streaming driver) is skipped by the
    * `mv_src_gen` guard, which is what makes [[maintainStream]]
    * exactly-once.
    */
  def refresh(s: SparkSession, srcDir: String, mvDir: String,
              spec: ViewSpec): Option[Int] = {
    assertSpecMatchesStore(mvDir, spec)
    val (last, srcKey) = srcMeta(mvDir)
    val cur = MergeTable.committedGen(srcDir).getOrElse(
      sys.error(s"$srcDir is not a committed keyed table (no commit log)"))
    if (cur <= last) {
      // nothing pending, but a prior refresh may have died between
      // its store commit and its registration — catch the horizon up
      advanceHorizon(srcDir, mvDir, last)
      None
    } else {
      val changes = MergeTable.changesBetween(s, srcDir, last, cur, srcKey,
        preImages = true)
      applyChanges(s, srcDir, mvDir, spec, changes, srcKey, cur)
      Some(cur)
    }
  }

  /** Core of [[refresh]]/[[maintainStream]]: fold one already-read
    * change span into the store, committing `newSrcGen` into the meta.
    * Skips (idempotence) when the store already reflects `newSrcGen`.
    */
  private def applyChanges(s: SparkSession, srcDir: String, mvDir: String, spec: ViewSpec,
                           changes0: DataFrame, srcKey: String,
                           newSrcGen: Int): Unit = {
    val reflected = reflectedGen(mvDir)
    if (reflected >= newSrcGen) {
      advanceHorizon(srcDir, mvDir, reflected) // crash-catch-up (see advanceHorizon)
      return
    }
    // materialize the delta once: it feeds three actions below (key
    // broadcast, the fold, the merge write) and recomputing the CDC
    // diff join per action would triple the hot path's IO
    val changes = changes0.localCheckpoint()
    val state = MergeTable.readTable(s, mvDir)
    // null-safe affected-group restriction via the encoded key (a
    // raw-column semi join would miss the NULL group's state row)
    val deltaKeys = changes.select(keyExpr(spec).as("__gk")).distinct()
    val stateAff = state.join(broadcast(deltaKeys),
      col(keyColName) === col("__gk"), "left_semi")
    // min/max specs route through the source-assisted fold: the base
    // table AT THE SPAN'S END generation decides the affected groups'
    // extremes (the state here is already affected-groups-only, so
    // every output row takes the recomputed branch)
    val newAff = (if (spec.extremes.isEmpty)
        applyDelta(stateAff.drop(keyColName), changes, spec)
      else applyDeltaWithSource(stateAff.drop(keyColName), changes, spec,
        MergeTable.readTable(s, srcDir, asOf = Some(newSrcGen))))
      .withColumn(keyColName, keyExpr(spec))
    // delete-then-insert per affected group: same-key D+I in one merge
    // generation nets to an exact replace (no coalesce-keeps-old-value
    // semantics for legitimately-NULL maintained sums), and groups
    // emptied to zero rows simply have no insert
    val ins = newAff.withColumn("op", lit("I"))
    val dels = stateAff.select(col(keyColName)).withColumn("op", lit("D"))
    MergeTable.merge(s, mvDir, ins.unionByName(dels, allowMissingColumns = true),
      keyColName, meta = metaOf(spec, srcKey, newSrcGen) + ("op" -> "mv_refresh"))
    // advance the view's retention horizon at the SOURCE: spans below
    // the new watermark are no longer replayable by this consumer
    advanceHorizon(srcDir, mvDir, newSrcGen)
    ()
  }

  /** Keep the persisted view current by tailing the table's graft-cdc
    * stream: each micro-batch (one or more committed generations, as
    * a net pre-image delta) is folded in with [[applyDelta]] and
    * committed under the span's end generation. Exactly-once end to
    * end: the source replays a checkpointed span deterministically,
    * and the `mv_src_gen` guard makes re-folding it a no-op. The query
    * and its source run on [[graft.streaming.Topology.streamingSession]]'s
    * clone of `s` (graft's checkpoint manager); the merges run on `s`.
    */
  def maintainStream(s: SparkSession, srcDir: String, mvDir: String,
                     spec: ViewSpec, checkpointDir: String): StreamingQuery = {
    assertSpecMatchesStore(mvDir, spec)
    val (startGen, srcKey) = srcMeta(mvDir)
    MergeTable.changesStream(graft.streaming.Topology.streamingSession(s), srcDir,
      srcKey, startGen = startGen, preImages = true)
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch fixes the span's END generation; its CONTENT is
        // recomputed from the view's OWN watermark — a batch replayed
        // from a stale checkpoint (stream stopped, refresh() run
        // out-of-band, stream restarted) can partially OVERLAP the
        // already-reflected span, and folding it directly would
        // double-apply the overlap; changesBetween(reflected, end) is
        // exact under any overlap, and a fully-reflected span no-ops
        val gen = batch.agg(max(col("_commit_gen"))).head() match {
          case r if r.isNullAt(0) => -1L // empty batch: nothing to fold
          case r => r.getLong(0)
        }
        if (gen >= 0) {
          val last = reflectedGen(mvDir)
          if (gen > last) {
            val changes = MergeTable.changesBetween(s, srcDir, last, gen.toInt,
              srcKey, preImages = true)
            applyChanges(s, srcDir, mvDir, spec, changes, srcKey, gen.toInt)
          }
        }
      }
      .start()
  }
}
