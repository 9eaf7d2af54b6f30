package graft.cli

import graft.streaming.{Clock, ExactlyOnceSink, RateLimit, WordCountTopology}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** CLI analog of the reference's HailstormCLI.hs:
  *
  *   - `run_sample -f <file>`: the reference's flagship
  *     `hailstorm -f data/test.txt run_sample` — streams the file
  *     through the word-count topology and writes `top_words.txt`
  *     (WordCountSample.hs outputFilename), then prints the final
  *     clock.
  *   - `show <checkpoint>`: `hailstorm zk_show` analog — prints the
  *     committed offsets/batches recorded in the checkpoint (the
  *     state Zookeeper held for the reference).
  *   - `init <checkpoint>`: `hailstorm zk_init` analog — creates a
  *     fresh checkpoint root.
  *   - `emit [rowsPerSec] [--update]`: `run_sample_emitter` analog —
  *     the reference emits synthetic load into Kafka for the sample
  *     topology; here the rate spout drives the same topology
  *     in-process and the sustained-throughput measurement is printed
  *     (see [[graft.streaming.ThroughputHarness]]).
  */
object GraftCLI {
  def main(args: Array[String]): Unit = args.toList match {
    case "run_sample" :: "-f" :: file :: rest =>
      val flags = rest.filter(_.startsWith("--")).toSet
      val out = rest.filterNot(_.startsWith("--")).headOption.getOrElse(".")
      runSample(file, out, update = flags("--update"))
    case "show" :: ckpt :: _  => show(ckpt)
    case "init" :: ckpt :: _  =>
      Files.createDirectories(Paths.get(ckpt))
      println(s"initialized checkpoint root at $ckpt")
    case "emit" :: rest =>
      val flags = rest.filter(_.startsWith("--")).toSet
      // a non-numeric or non-positive rate is a usage error, not a
      // NumberFormatException stack trace / rate-source failure
      rest.filterNot(_.startsWith("--")).headOption match {
        case None => emit(100000, update = flags("--update"))
        case Some(arg) =>
          scala.util.Try(arg.toInt).toOption.filter(_ > 0) match {
            case Some(rps) => emit(rps, update = flags("--update"))
            case None =>
              System.err.println(s"emit: rowsPerSec must be a positive integer, got '$arg'")
              usage()
          }
      }
    case "table" :: cmd :: rest => tableMain(cmd, rest)
    case "index" :: cmd :: rest => indexMain(cmd, rest)
    case "build" :: sfDir :: outDir :: rest =>
      // strict arg posture, matching the malformed-shardSize handling:
      // trailing garbage is a usage error, not silently ignored input
      val shardSize = rest match {
        case sz :: Nil => scala.util.Try(sz.toInt).toOption.filter(_ > 0).getOrElse {
          System.err.println(s"build: shardSize must be a positive integer, got '$sz'")
          usage()
        }
        case Nil => 128
        case _ =>
          System.err.println(s"build: unexpected arguments ${rest.tail.mkString(" ")}")
          usage()
      }
      build(sfDir, outDir, shardSize)
    case _ => usage()
  }

  private def usage(): Nothing = {
    System.err.println(
      "usage: GraftCLI run_sample -f <file> [outDir] [--update] | show <checkpoint> | init <checkpoint> | emit [rowsPerSec] [--update] | table <cmd> ... | index <cmd> ... | build <sfDir> <outDir> [shardSize]")
    sys.exit(2)
  }

  /** One command from raw documents to a committed training corpus:
    * pp11's selection (quality gate → exact dedup → eval split-off →
    * decontamination) written as crash-safe physical shards via
    * [[graft.pipeline.Pipeline.writeShardsOf]] (tokened segment,
    * pointer-flip commit). Own-session wrapper, [[runSample]]'s shape.
    */
  def build(sfDir: String, outDir: String, shardSize: Int): Unit = {
    val spark = session("graft-build")
    try build(spark, sfDir, outDir, shardSize)
    catch {
      case u: Usage =>
        System.err.println(u.getMessage)
        spark.stop()
        sys.exit(2)
    }
    finally spark.stop()
  }

  /** Caller-owned-session build (not stopped here); returns nothing,
    * prints the committed manifest summary. The curated selection is
    * lazily checkpointed: writeShardsOf reads its frame twice
    * (manifest assignment + data write) and the gating chain is the
    * expensive part of the whole build.
    *
    * The two raw user paths are validated BEFORE anything destructive
    * runs: writeShardsOf's replay contract deletes an uncommitted
    * outDir first (correct for the derived dirs the library owns,
    * catastrophic for a swapped-arguments or unrelated user dir), so
    * the CLI layer refuses an input dir without documents.parquet and
    * an existing non-empty outDir that is neither a committed shard
    * dir nor recognizable shard-build debris (`_committed` marker /
    * `_shardseg-*` segments only).
    */
  def build(spark: SparkSession, sfDir: String, outDir: String,
            shardSize: Int = 128): Unit = {
    import graft.pipeline.Pipeline
    if (!Files.exists(Paths.get(sfDir, "documents.parquet")))
      throw new Usage(s"build: $sfDir has no documents.parquet — not a corpus dir")
    // replay: an already-committed dir is a no-op by contract; say so
    // instead of printing the OLD manifest as though it were fresh
    Pipeline.shardDataRoot(outDir) match {
      case Some(root) =>
        println(s"$outDir is already committed (data at $root) — replay no-op; " +
          "delete the dir to rebuild")
        return
      case None => ()
    }
    // a plain FILE at outDir must refuse here: File.list() is null on a
    // non-directory, and the getOrElse below would read that as "empty
    // dir", letting writeShardsOf's delete-first replay destroy the file
    val outPath = Paths.get(outDir)
    if (Files.exists(outPath) && !Files.isDirectory(outPath))
      throw new Usage(s"build: refusing to clobber $outDir — it is an existing " +
        "file, not a directory; pick an empty or derived output dir")
    val existing = Option(new java.io.File(outDir).list()).getOrElse(Array.empty)
    val debris = (n: String) => n == "_committed" || n.startsWith("_shardseg-")
    if (!existing.forall(debris))
      throw new Usage(s"build: refusing to clobber $outDir — it exists and holds " +
        s"non-shard content (${existing.filterNot(debris).take(3).mkString(", ")}…); " +
        "pick an empty or derived output dir")
    val train = Pipeline.trainSet(spark, sfDir).select("doc_id")
      .localCheckpoint(false)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "n_chars")
      .join(train, Seq("doc_id"), "left_semi")
    val manifest = Pipeline.writeShardsOf(spark, docs, outDir, shardSize)
      .collect()
    val nDocs = manifest.map(_.getAs[Long]("n_docs")).sum
    val nChars = manifest.map(_.getAs[Long]("sum_chars")).sum
    println(s"committed ${manifest.length} shard(s), $nDocs docs, " +
      s"$nChars chars to $outDir")
  }

  /** Malformed `table` invocation — carries the usage text; thrown
    * (not sys.exit'd) so CLISpec can drive the error paths without a
    * process boundary. [[tableMain]] turns it into the stderr usage +
    * exit 2 the shell expects.
    */
  final class Usage(msg: String) extends IllegalArgumentException(msg)

  private val tableUsage: String =
    "usage: GraftCLI table stats <dir> | history <dir> | restore <dir> <gen> | " +
      "clone <src> <dst> | vacuum <dir> [minAgeMs] [--force | --retain] | " +
      "compact <dir> <keyCol> [targetRows] | " +
      "recluster <dir> <keyCol> <col[,col…]> [nFiles] [--partial] | " +
      "bloom-index <dir> <col> [numBits] | " +
      "constraints <dir> [add <name> <expr…> | drop <name>] | " +
      "drop-column <dir> <keyCol> <col> | " +
      "delete-where <dir> <keyCol> <col> <lo|_> <hi|_> | " +
      "update-where <dir> <keyCol> <col> <lo|_> <hi|_> <name=expr[;…]> | " +
      "merge <dir> <keyCol> <changesParquetDir> | "  +
      "delete-keys <dir> <keyCol> <k1,k2,…> | " +
      "cdc-horizons <dir> [maxAgeSec] | cdc-release <dir> <consumer> | " +
      "mv-create <src> <srcKey> <mv> <grpCol[,…]> <name=expr[;…]> | " +
      "mv-refresh <src> <mv>"

  // numeric verb arguments parse totally: a malformed value is a
  // usage error, not a NumberFormatException stack trace
  private def intArg(v: String, what: String): Int =
    v.toIntOption.getOrElse(throw new Usage(s"$what must be an integer, got '$v'\n$tableUsage"))
  private def longArg(v: String, what: String): Long =
    v.toLongOption.getOrElse(throw new Usage(s"$what must be an integer, got '$v'\n$tableUsage"))

  /** A band bound: `_` = unbounded on that side; otherwise typed
    * long → double → string (matching the manifest stat's native
    * ordering for the common key types).
    */
  private def boundArg(v: String): Option[Any] =
    if (v == "_") None
    else Some(v.toLongOption.getOrElse(v.toDoubleOption.getOrElse(v)))

  /** The local session every own-session verb runs on: the harness
    * mains' [[graft.HarnessSession]] at `SPARK_GRAFT_CPUS` (default 4),
    * logging at WARN.
    */
  private def session(appName: String): SparkSession =
    graft.HarnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "WARN",
      "spark.app.name" -> appName)

  /** Table-format ops console (`GraftCLI table <cmd> …`): the
    * operational verbs for [[graft.operators.MergeTable]] dirs —
    * what an operator runs in a maintenance window (the reference CLI
    * only drives topologies; the table layer is graft surface).
    */
  /** One console-session shape for every verb-family main: build the
    * local session, print the verb's lines, turn a thrown [[Usage]]
    * into the stderr text + exit 2 the shell expects. A config or
    * error-handling change lands once, not per family.
    */
  private def consoleMain(appName: String)(
      body: SparkSession => Seq[String]): Unit = {
    val spark = session(appName)
    try body(spark).foreach(println)
    catch {
      case u: Usage =>
        System.err.println(u.getMessage)
        sys.exit(2)
    } finally spark.stop()
  }

  def tableMain(cmd: String, rest: List[String]): Unit =
    consoleMain("graft-table")(table(_, cmd, rest))

  /** Session-scoped `table` verb dispatch, returning the lines to
    * print (spec-testable without a process boundary).
    */
  def table(spark: SparkSession, cmd: String, args: List[String]): Seq[String] = {
    import graft.operators.MergeTable
    // flags validate per verb BEFORE dispatch: a typo'd `--partail`
    // silently filtered away would change WHICH operation runs (a
    // full 100 TB rewrite instead of the day-sized partial) while
    // reporting success — unknown flags are a usage error like
    // malformed numerics
    val flags = args.filter(_.startsWith("--")).toSet
    val allowedFlags: Set[String] = cmd match {
      case "vacuum" => Set("--force", "--retain")
      case "recluster" => Set("--partial")
      case _ => Set.empty
    }
    val unknownFlags = flags -- allowedFlags
    if (unknownFlags.nonEmpty) throw new Usage(
      s"unknown flag(s) ${unknownFlags.toSeq.sorted.mkString(", ")} for '$cmd'\n$tableUsage")
    (cmd, args.filterNot(_.startsWith("--"))) match {
      case ("stats", dir :: Nil) =>
        // the one-screen operator read: where the table stands and
        // what's attached to it — all driver-sized except one tiny
        // agg over the file-count-sized manifest
        val g = MergeTable.committedGen(dir).getOrElse(
          throw new IllegalArgumentException(
            s"$dir is not a committed keyed table (no commit log)"))
        val m = MergeTable.manifest(spark, dir)
        val row = m.agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("n_rows"))).head()
        val (files, rows) =
          (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        val cons = MergeTable.checkConstraints(dir)
        val dropped = MergeTable.droppedColumns(dir)
        val blooms = MergeTable.bloomIndexedColumns(dir)
        val horizons = MergeTable.cdcHorizons(dir)
        Seq(
          s"$dir at generation $g (${g + 1} commits; log checkpoint " +
            MergeTable.lastCheckpointGen(dir)
              .map(c => s"at g$c").getOrElse("none") + ")",
          s"$files live files, $rows rows" +
            MergeTable.dvInfo(dir, g).map { case (_, dvRows) =>
              // dvRows is -1 when the commit meta lacks/corrupts
              // dv_rows — printing the sentinel would render a bogus
              // "(-1 dv-hidden, rows+1 visible)" line
              if (dvRows >= 0) s" ($dvRows dv-hidden, ${rows - dvRows} visible)"
              else " (dv present, row count unrecorded)" }.getOrElse(""),
          "schema: " + MergeTable.schemaAt(dir, g)
            .map(_.fieldNames.mkString(", ")).getOrElse("(not recorded in log)"),
          "constraints: " + (if (cons.isEmpty) "none"
            else cons.toSeq.sorted.map { case (n, e) => s"$n CHECK ($e)" }
              .mkString("; ")),
          "retired columns: " + (if (dropped.isEmpty) "none"
            else dropped.toSeq.sorted.mkString(", ")),
          "bloom sidecars: " + (if (blooms.isEmpty) "none"
            else {
              val split = MergeTable.bloomFamilySplit(dir)
              blooms.toSeq.sorted.map { case (c, bg) =>
                s"$c (covers g$bg)" + split.get(c).map(n =>
                  s" [$n k-families — rebuild to collapse]").getOrElse("")
              }.mkString(", ")
            }),
          "cdc consumers: " + (if (horizons.isEmpty) "none"
            else horizons.toSeq.sorted.map { case (c, hg) => s"$c at g$hg" }
              .mkString(", ")))
      case ("history", dir :: _) =>
        MergeTable.history(spark, dir).collect().toSeq.map { r =>
          val detail = r.getAs[Map[String, String]]("detail")
          val extra =
            if (detail.isEmpty) ""
            else detail.toSeq.sorted.map { case (k, v) => s"$k=$v" }
              .mkString(" [", " ", "]")
          s"g${r.getAs[Int]("gen")} ${Option(r.getAs[String]("op")).getOrElse("?")} " +
            s"ts=${r.getAs[Long]("ts")}$extra"
        }
      case ("restore", dir :: gen :: _) =>
        val toGen = intArg(gen, "restore <gen>")
        val g = MergeTable.restore(spark, dir, toGen)
        Seq(s"restored $dir to generation $toGen as generation $g")
      case ("clone", src :: dst :: _) =>
        val g = MergeTable.cloneTable(spark, src, dst)
        Seq(s"cloned $src@g$g -> $dst (shallow)")
      case ("vacuum", dir :: more) =>
        val minAge = more.headOption.map(longArg(_, "vacuum [minAgeMs]")).getOrElse(0L)
        if (args.contains("--retain") && args.contains("--force"))
          throw new Usage(s"vacuum: --retain and --force are exclusive\n$tableUsage")
        val n =
          if (args.contains("--retain")) MergeTable.vacuumRetaining(spark, dir, minAge)
          else MergeTable.vacuum(spark, dir, minAge, force = args.contains("--force"))
        Seq(s"vacuumed $n object(s) from $dir")
      case ("compact", dir :: keyCol :: more) =>
        val target = more.headOption.map(longArg(_, "compact [targetRows]"))
          .getOrElse(1000000L)
        MergeTable.compact(spark, dir, keyCol, targetRows = target)
        Seq(s"compacted $dir (target $target rows/file) -> generation " +
          s"${MergeTable.committedGen(dir).get}")
      case ("recluster", dir :: keyCol :: cols :: more) =>
        val nFiles = more.headOption.map(intArg(_, "recluster [nFiles]")).getOrElse(16)
        val st =
          if (args.contains("--partial"))
            MergeTable.reclusterPartial(spark, dir, keyCol, cols.split(",").toSeq,
              if (more.isEmpty) 0 else nFiles)
          else MergeTable.recluster(spark, dir, keyCol, cols.split(",").toSeq, nFiles)
        Seq(s"reclustered $dir on ($cols) -> generation ${st.gen} " +
          s"(${st.touched.size} files rewritten, ${st.untouched.size} carried)")
      case ("bloom-index", dir :: colName :: more) =>
        val bits = more.headOption.map(intArg(_, "bloom-index [numBits]"))
          .getOrElse(1 << 17)
        val g = MergeTable.buildBloomIndex(spark, dir, colName, numBits = bits)
        Seq(s"built bloom sidecar for $dir.$colName at generation $g ($bits bits/file)")
      case ("constraints", dir :: Nil) =>
        val cons = MergeTable.checkConstraints(dir)
        if (cons.isEmpty) Seq(s"no CHECK constraints on $dir")
        else cons.toSeq.sorted.map { case (n, e) => s"$n CHECK ($e)" }
      case ("constraints", dir :: "add" :: name :: exprParts) if exprParts.nonEmpty =>
        MergeTable.addCheckConstraint(spark, dir, name, exprParts.mkString(" "))
        Seq(s"added CHECK constraint '$name' to $dir")
      case ("constraints", dir :: "drop" :: name :: _) =>
        if (MergeTable.dropCheckConstraint(dir, name))
          Seq(s"dropped CHECK constraint '$name' from $dir")
        else Seq(s"no constraint '$name' on $dir")
      case ("drop-column", dir :: keyCol :: colName :: _) =>
        val g = MergeTable.dropColumn(spark, dir, keyCol, colName)
        Seq(s"dropped column '$colName' from $dir as generation $g " +
          "(metadata-only; name retired until a rewrite sheds the bytes)")
      case ("delete-where", dir :: keyCol :: colName :: lo :: hi :: _) =>
        val st = MergeTable.deleteWhere(spark, dir, keyCol, colName,
          boundArg(lo), boundArg(hi))
        Seq(s"deleted from $dir where $colName in [$lo, $hi] -> generation ${st.gen} " +
          s"(${st.dropped.size} files dropped metadata-only, " +
          s"${st.rewritten.size} rewritten, ${st.carried.size} carried)")
      case ("update-where", dir :: keyCol :: colName :: lo :: hi :: sets :: _) =>
        val assignments = graft.operators.IncrementalView.parseSums(sets)
          .map { case (n, e) => n -> org.apache.spark.sql.functions.expr(e) }.toMap
        val st = MergeTable.updateWhere(spark, dir, keyCol, colName,
          boundArg(lo), boundArg(hi), assignments)
        Seq(s"updated $dir where $colName in [$lo, $hi] set $sets -> " +
          s"generation ${st.gen} (${st.rewritten.size} files rewritten, " +
          s"${st.carried.size} carried)")
      case ("merge", dir :: keyCol :: changesDir :: _) =>
        val st = MergeTable.merge(spark, dir, spark.read.parquet(changesDir), keyCol)
        Seq(s"merged $changesDir into $dir -> generation ${st.gen} " +
          s"(${st.touched.size} files rewritten, ${st.untouched.size} carried)")
      case ("delete-keys", dir :: keyCol :: keysArg :: _) =>
        // scattered keys → a deletion-vector commit, zero data rewritten
        val g = MergeTable.committedGen(dir).getOrElse(
          throw new IllegalArgumentException(
            s"$dir is not a committed keyed table (no commit log)"))
        val kt = MergeTable.schemaAt(dir, g)
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(keyCol)))
          .map(_.dataType).getOrElse(throw new Usage(
            s"no column '$keyCol' in the committed schema of $dir\n$tableUsage"))
        import spark.implicits._
        val withRaw = keysArg.split(",").toSeq.toDF("__raw")
          .select(org.apache.spark.sql.functions.col("__raw"),
            // try_cast, not cast: ANSI mode (Spark 4 default) makes a
            // failed cast THROW mid-job; the null-then-validate path
            // below reports every bad literal in one Usage error
            org.apache.spark.sql.functions.expr(
              s"try_cast(__raw AS ${kt.sql})").as(keyCol))
        // a typo'd literal casts to null and would read as "that key
        // was already gone" — a GDPR deletion job must fail loudly
        val bad = withRaw.filter(
          org.apache.spark.sql.functions.col(keyCol).isNull)
          .select("__raw").collect().map(_.getString(0))
        if (bad.nonEmpty) throw new Usage(
          s"key literal(s) not parsable as ${kt.simpleString}: " +
            s"${bad.mkString(", ")}\n$tableUsage")
        val st = MergeTable.deleteKeys(spark, dir, keyCol,
          withRaw.select(keyCol))
        if (st.gen == g)
          Seq(s"no matching visible rows in $dir; nothing committed")
        else {
          val n = MergeTable.metaAt(dir, st.gen).getOrElse("deleted", "?")
          Seq(s"hid $n row(s) in $dir as generation ${st.gen} " +
            s"(deletion vector; ${st.touched.size} files affected, zero rewritten)")
        }
      case ("cdc-horizons", dir :: rest) =>
        // optional [maxAgeSec] (default 24h): a LAGGING slot whose
        // last advance is older than this is flagged STALE — the
        // abandoned-consumer signal (slots retain storage forever by
        // replication-slot semantics; this is how you spot one worth
        // `cdc-release`-ing). A caught-up slot is never stale.
        val maxAgeSec = rest.headOption
          .map(v => longArg(v, "maxAgeSec")).getOrElse(86400L)
        val hs = MergeTable.cdcHorizonDetails(dir)
        if (hs.isEmpty) Seq(s"no registered CDC consumers on $dir")
        else {
          val cur = MergeTable.committedGen(dir).getOrElse(0)
          val now = System.currentTimeMillis()
          hs.toSeq.sorted.map { case (c, (g, ts)) =>
            val ageSec = math.max(0L, (now - ts) / 1000)
            val lag = cur - g
            s"$c at generation $g (lag $lag of current $cur; " +
              s"last advanced ${ageSec}s ago)" +
              (if (lag > 0 && ageSec > maxAgeSec)
                " — STALE: candidate for cdc-release" else "")
          }
        }
      case ("cdc-release", dir :: consumer :: _) =>
        if (MergeTable.releaseCdcHorizon(dir, consumer))
          Seq(s"released CDC horizon of '$consumer' on $dir")
        else Seq(s"no registered consumer '$consumer' on $dir")
      case ("mv-create", src :: srcKey :: mv :: grp :: sums :: _) =>
        val spec = graft.operators.IncrementalView.ViewSpec(
          grp.split(",").toSeq,
          graft.operators.IncrementalView.parseSums(sums))
        val g = graft.operators.IncrementalView.materialize(
          spark, src, srcKey, mv, spec)
        Seq(s"materialized $mv from $src@g$g (group $grp; sums $sums)")
      case ("mv-refresh", src :: mv :: _) =>
        graft.operators.IncrementalView.refresh(spark, src, mv) match {
          case Some(g) => Seq(s"refreshed $mv to $src@g$g")
          case None => Seq(s"$mv already current with $src")
        }
      case _ => throw new Usage(tableUsage)
    }
  }

  private val indexUsage: String =
    "usage: GraftCLI index stats <indexDir> | rebuild <indexDir> [nCells] | " +
      "compact <indexDir> [minFiles] | " +
      "vacuum <indexDir> | tombstone <indexDir> <id1,id2,…> | " +
      "sweep <indexDir> [graceSec]"

  def indexMain(cmd: String, rest: List[String]): Unit =
    consoleMain("graft-index")(index(_, cmd, rest))

  /** ANN-index ops console (`GraftCLI index <cmd> …`): the
    * operational verbs for [[graft.similarity.Similarity]]'s
    * manifest-committed vector index — the maintenance loop
    * (compact / vacuum / sweep), the governance entry (tombstone),
    * and the drift dial (stats: cell skew is the rebuild trigger).
    * Session-scoped and spec-testable like [[table]].
    */
  def index(spark: SparkSession, cmd: String, args: List[String]): Seq[String] = {
    import graft.similarity.Similarity
    (cmd, args) match {
      case ("stats", dir :: Nil) =>
        val genLine = graft.operators.IndexManifest.head(dir) match {
          case Some(h) =>
            s"generation ${h.gen} (${h.files.size} live files)"
          case None => "no index manifest"
        }
        val cells = Similarity.ivfCellStats(spark, dir)
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        val occ =
          if (cells.isEmpty) Seq("0 cells")
          else {
            val total = cells.map(_._2).sum
            val mx = cells.maxBy(_._2)
            val skew = Similarity.cellSkewOf(cells.toSeq)
            val floor = Similarity.IvfRebuildSkewFloor
            Seq(s"${cells.length} cells, $total vectors",
              f"cell skew: max ${mx._2} in cell ${mx._1} ($skew%.1fx mean)") ++
              // the drift dial's verdict, not just its reading — the
              // cdc-horizons STALE-flag posture: an operator reading
              // `stats` output learns what to DO, threshold included
              (if (skew >= floor)
                Seq(f"REBUILD-RECOMMENDED: cell skew $skew%.1fx >= $floor%.1fx floor — " +
                  "appended distribution has drifted from the trained centroids; " +
                  "run `index rebuild` (probes stay live, commit is CAS'd)")
              else
                Seq(f"skew under the $floor%.1fx rebuild floor — no action needed"))
          }
        val tombs = Similarity.vectorTombstones(spark, dir).count()
        (genLine +: occ) :+
          (if (tombs == 0) "no live tombstones"
           else s"$tombs live tombstone(s) governing probes — run vacuum")
      case ("rebuild", dir :: more) =>
        // the REBUILD-RECOMMENDED flag's remedy as a command (stats
        // renders the verdict; this closes the loop): retrain + swap
        // from the index's own vectors under the manifest CAS with
        // the entry-generation fence — probes stay live throughout,
        // a concurrent mutation aborts the swap loudly
        val nCells = more.headOption.map(intArg(_, "rebuild [nCells]")).getOrElse(0)
        Similarity.rebuildIvfIndex(spark, dir, nCells)
        val cells = Similarity.ivfCellStats(spark, dir)
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        val total = cells.map(_._2).sum
        val skew = Similarity.cellSkewOf(cells.toSeq)
        Seq(s"rebuilt $dir: ${cells.length} cells retrained over $total vectors",
          f"cell skew now $skew%.1fx mean (rebuild floor " +
            f"${Similarity.IvfRebuildSkewFloor}%.1fx)")
      case ("compact", dir :: more) =>
        val minFiles = more.headOption.map(intArg(_, "minFiles")).getOrElse(2)
        val folds = Similarity.compactIvfCells(spark, dir, minFiles)
        if (folds.isEmpty) Seq(s"$dir already compact (every cell < $minFiles files)")
        else Seq(s"folded ${folds.size} cell(s): " +
          s"${folds.map(_.filesBefore).sum} -> ${folds.map(_.filesAfter).sum} files")
      case ("vacuum", dir :: Nil) =>
        val n = Similarity.vacuumVectorTombstones(spark, dir)
        if (n == 0) Seq(s"no tombstones to vacuum on $dir")
        else Seq(s"vacuumed $n tombstoned vector(s) from $dir")
      case ("tombstone", dir :: idsArg :: _) =>
        // total parse — a typo'd id must fail loudly, not register a
        // takedown for the wrong (or no) vector
        val ids = idsArg.split(",").toSeq.map(v => v.trim.toLongOption
          .getOrElse(throw new Usage(s"vec_id not a long: '$v'\n$indexUsage")))
        import spark.implicits._
        Similarity.tombstoneVectors(spark, dir, ids.toDF("vec_id"))
        Seq(s"tombstoned ${ids.distinct.size} vec_id(s) on $dir " +
          "(probes governed immediately; run vacuum to make removal physical)")
      case ("sweep", dir :: more) =>
        val graceSec = more.headOption.map(longArg(_, "graceSec")).getOrElse(3600L)
        val n = Similarity.sweepUncommittedVectorFiles(dir, graceSec * 1000L)
        Seq(s"reclaimed $n uncommitted data file(s) older than ${graceSec}s on $dir")
      case _ => throw new Usage(indexUsage)
    }
  }

  def emit(rowsPerSec: Int, update: Boolean): Unit = {
    val spark = session("graft-emit")
    try println(graft.streaming.ThroughputHarness.run(spark, update, rowsPerSec).json)
    finally spark.stop()
  }

  def runSample(file: String, outDir: String, update: Boolean): Unit = {
    val spark = session("graft-run-sample")
    try runSample(spark, file, outDir, update)
    finally spark.stop()
  }

  /** Topology run against a caller-owned session (not stopped here).
    * `update = true` runs the bounded-state update-mode top-N path
    * instead of the Complete-mode re-sort.
    */
  def runSample(spark: SparkSession, file: String, outDir: String,
                update: Boolean = false): Unit = {
    // stage the file as a streaming source dir (partition = file,
    // offset = position — the reference's FileSource contract)
    val inDir = Files.createTempDirectory("graft-sample-in")
    Files.copy(Paths.get(file), inDir.resolve(Paths.get(file).getFileName))
    val ckpt = Files.createTempDirectory("graft-sample-ckpt").toString
    val batchOut = Files.createTempDirectory("graft-sample-out").toString
    var q: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      val spout = WordCountTopology.fileSpout(inDir.toString, RateLimit())
      val topo =
        if (update) WordCountTopology.updateMode(spout, batchOut, ckpt)
        else WordCountTopology(spout, batchOut, ckpt)
      val started = topo.run(spark)
      q = Some(started)
      started.processAllAvailable()
      val clock = Clock.of(started)

      val last = ExactlyOnceSink.committed(batchOut).max
      val top = spark.read.parquet(ExactlyOnceSink.batchDir(batchOut, last))
        .orderBy(col("cnt").desc, col("word"))
        .collect().map(r => s"${r.getString(0)},${r.getLong(1)}")
      Files.createDirectories(Paths.get(outDir))
      Files.write(Paths.get(outDir, "top_words.txt"),
        (top.mkString("\n") + "\n").getBytes)
      println(s"wrote ${top.length} words to $outDir/top_words.txt")
      println(s"clock: ${clock.offsets}")
    } finally {
      // stop FIRST: a mid-run failure leaves the query active on the
      // caller-owned session, and deleting its dirs under it would
      // strand an orphan query failing for the session's lifetime
      q.foreach(x => scala.util.Try(x.stop()))
      // the deliverable is outDir/top_words.txt; the staged input,
      // checkpoint and batch-output trees are intermediates that would
      // otherwise persist in the temp dir past process exit (the same
      // leak class ThroughputHarness.run sweeps)
      Seq(inDir.toString, ckpt, batchOut).foreach(d =>
        scala.util.Try(graft.IndexLifecycle.deleteRecursively(d)))
    }
  }

  def show(ckpt: String): Unit = {
    val offsets = Paths.get(ckpt, "offsets")
    val commits = Paths.get(ckpt, "commits")
    def batches(p: java.nio.file.Path): Seq[String] =
      if (Files.isDirectory(p)) {
        val ls = Files.list(p)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.forall(_.isDigit)).toSeq.sortBy(_.toLong)
        finally ls.close()
      } else Seq.empty
    println(s"offsets: ${batches(offsets).mkString(", ")}")
    println(s"commits: ${batches(commits).mkString(", ")}")
    val latest = batches(offsets).lastOption
    latest.foreach { b =>
      println(s"latest offset log (batch $b):")
      Files.readAllLines(offsets.resolve(b)).asScala.foreach(l => println(s"  $l"))
    }
  }
}
