package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Commit-log checkpointing: rollups every [[MergeTable.checkpointInterval]]
  * commits, pointer-bounded resolution for committedGen and the view
  * watermark, graceful fallback when the pointer or a rollup is
  * missing/corrupt, and survival through vacuum. The flat-in-commits
  * SCALING claim lives in the `ckpt` scale probe; these specs pin the
  * correctness surface.
  */
class CheckpointSpec extends SparkSpecBase {
  import spark.implicits._

  private val K = MergeTable.checkpointInterval

  private def files(dir: String, prefix: String): Seq[String] = {
    val ls = java.nio.file.Files.list(java.nio.file.Path.of(dir, "_log"))
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSeq.sorted
    } finally ls.close()
  }

  private def mkTable(dir: String, n: Int = 200): Unit =
    MergeTable.write(spark,
      (1 to n).map(k => (k.toLong, s"s${k % 4}", k * 1.5)).toDF("k", "seg", "bal"),
      "k", dir, nFiles = 4)

  test("rollups land every K commits, the pointer advances, resolution agrees with the log") {
    val dir = tmpDir("ckpt-basic")
    mkTable(dir)
    (1 to 2 * K + 3).foreach(i =>
      MergeTable.commitCarryForward(dir, Map("op" -> "carry", "i" -> i.toString)))
    assert(files(dir, "_checkpoint-g") == Seq(s"_checkpoint-g$K", s"_checkpoint-g${2 * K}"))
    assert(MergeTable.lastCheckpointGen(dir).contains(2 * K))
    assert(MergeTable.committedGen(dir).contains(2 * K + 3))
    // the rollup records the generation's own meta verbatim
    val ck = MergeTable.checkpointAt(dir, 2 * K)
    assert(ck("gen") == (2 * K).toString)
    assert(ck(s"meta.i") == (2 * K).toString &&
      ck("meta.op") == "carry" && ck.contains("meta.token"), ck.toString)
    // carry-forward commits keep the table byte-identical and readable
    assert(MergeTable.readTable(spark, dir).count() == 200)
    assert(MergeTable.readTable(spark, dir, asOf = Some(0)).count() == 200)
    // history still walks the full log, newest first
    val h = MergeTable.history(spark, dir)
    assert(h.count() == 2 * K + 4)
    assert(h.select(max("gen")).head().getInt(0) == 2 * K + 3)
  }

  test("a missing or corrupt pointer falls back to the listing path, same answers") {
    val dir = tmpDir("ckpt-fallback")
    mkTable(dir)
    (1 to K + 2).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    val ptr = java.nio.file.Path.of(dir, "_log", "_last_checkpoint")
    val want = MergeTable.committedGen(dir)
    assert(want.contains(K + 2))
    java.nio.file.Files.delete(ptr)
    assert(MergeTable.lastCheckpointGen(dir).isEmpty)
    assert(MergeTable.committedGen(dir) == want, "listing fallback disagreed")
    java.nio.file.Files.write(ptr, "not-a-number\n".getBytes("UTF-8"))
    assert(MergeTable.lastCheckpointGen(dir).isEmpty)
    assert(MergeTable.committedGen(dir) == want)
    // pointer naming a MISSING rollup (swept by hand) is ignored too
    java.nio.file.Files.write(ptr, s"$K\n".getBytes("UTF-8"))
    java.nio.file.Files.delete(java.nio.file.Path.of(dir, "_log", s"_checkpoint-g$K"))
    assert(MergeTable.lastCheckpointGen(dir).isEmpty)
    assert(MergeTable.committedGen(dir) == want)
    // and the NEXT interval commit re-establishes checkpointing
    (1 to 2 * K).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    assert(MergeTable.lastCheckpointGen(dir).contains(3 * K))
  }

  test("real DML commits write rollups too, and a stale pointer only lengthens the tail") {
    val dir = tmpDir("ckpt-dml")
    mkTable(dir)
    (1 to K - 1).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    // generation K lands through the real merge path → rollup + pointer
    MergeTable.merge(spark, dir,
      Seq((1L, "U", "s9", 9.9)).toDF("k", "op", "seg", "bal"), "k")
    assert(MergeTable.lastCheckpointGen(dir).contains(K))
    assert(MergeTable.committedGen(dir).contains(K))
    assert(MergeTable.readTable(spark, dir).filter(col("k") === 1)
      .select("seg").as[String].collect().toSeq == Seq("s9"))
    // freeze the pointer at K, advance past the next interval: the
    // probe walks the longer tail and still resolves the head
    val frozen = java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(dir, "_log", "_last_checkpoint"))
    (1 to K + 2).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    java.nio.file.Files.write(
      java.nio.file.Path.of(dir, "_log", "_last_checkpoint"), frozen)
    assert(MergeTable.lastCheckpointGen(dir).contains(K))
    assert(MergeTable.committedGen(dir).contains(2 * K + 2))
  }

  test("the view watermark resolves from tail + rollup, not the whole log") {
    val store = tmpDir("ckpt-src")
    val mv = tmpDir("ckpt-mv") + "/v"
    mkTable(store)
    IncrementalView.materialize(spark, store, "k", mv,
      IncrementalView.ViewSpec(Seq("seg"),
        Seq("cents" -> "cast(round(bal * 100) as decimal(38,0))")))
    assert(IncrementalView.reflectedGen(mv) == 0)
    // K+4 maintenance-shaped commits on the VIEW STORE itself — none
    // carries the watermark, exactly the walk-amplifying shape
    (1 to K + 4).foreach(_ => MergeTable.commitCarryForward(mv, Map("op" -> "carry")))
    assert(IncrementalView.reflectedGen(mv) == 0)
    // prove the walk is BOUNDED by the rollup: hide gen 0's log entry
    // — the ONLY one carrying the watermark. An unbounded walk would
    // find nothing and error "not a materialized view"; the bounded
    // walk reads tail + rollup and never looks below the checkpoint.
    val hidden = java.nio.file.Path.of(mv, "_log", "_commit-g0")
    val aside = java.nio.file.Path.of(mv, "_log", "_hidden-g0")
    java.nio.file.Files.move(hidden, aside)
    assert(IncrementalView.reflectedGen(mv) == 0)
    java.nio.file.Files.move(aside, hidden)
    // the rollup carries the mv meta the resolution used
    val mvMeta = MergeTable.checkpointMvMeta(mv, K)
    assert(mvMeta.exists(_.get("mv_src_gen").contains("0")), mvMeta.toString)
    // refresh still works across the checkpoint boundary
    MergeTable.merge(spark, store,
      Seq((500L, "I", "s1", 2.0)).toDF("k", "op", "seg", "bal"), "k")
    assert(IncrementalView.refresh(spark, store, mv).contains(1))
    assert(IncrementalView.reflectedGen(mv) == 1)
  }

  test("vacuum bounds the rollup population to the newest two") {
    val dir = tmpDir("ckpt-bound")
    mkTable(dir)
    (1 to 4 * K + 1).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    assert(files(dir, "_checkpoint-g").size == 4)
    MergeTable.vacuum(spark, dir)
    // newest for readers, one predecessor so the next rollup write's
    // previous-checkpoint probe stays O(interval)
    assert(files(dir, "_checkpoint-g") ==
      Seq(s"_checkpoint-g${3 * K}", s"_checkpoint-g${4 * K}"))
    assert(MergeTable.lastCheckpointGen(dir).contains(4 * K))
    assert(MergeTable.committedGen(dir).contains(4 * K + 1))
    // the NEXT interval rollup still finds its predecessor
    (1 to K).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    assert(MergeTable.lastCheckpointGen(dir).contains(5 * K))
    // a LAGGING pointer's target survives the sweep (failed pointer
    // advances must not downgrade resolution to the listing path)
    java.nio.file.Files.write(
      java.nio.file.Path.of(dir, "_log", "_last_checkpoint"),
      s"${3 * K}\n".getBytes("UTF-8"))
    MergeTable.vacuum(spark, dir)
    assert(files(dir, "_checkpoint-g").toSet ==
      Set(s"_checkpoint-g${3 * K}", s"_checkpoint-g${4 * K}", s"_checkpoint-g${5 * K}"))
    assert(MergeTable.lastCheckpointGen(dir).contains(3 * K))
    assert(MergeTable.committedGen(dir).contains(5 * K + 1))
  }

  test("4-writer carry storm: dense log, exactly one winner per generation, rollups land") {
    val dir = tmpDir("ckpt-race")
    mkTable(dir)
    val threads = 4
    val perThread = 40 // 160 commits → 10 rollups, all under racing
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val futs = (1 to threads).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = (1 to perThread).foreach { _ =>
          var ok = false
          while (!ok) {
            try {
              MergeTable.commitCarryForward(dir,
                Map("op" -> "carry", "w" -> t.toString))
              ok = true
            } catch {
              case _: java.util.ConcurrentModificationException => ()
            }
          }
        }
      })
    }
    try futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
    val cur = MergeTable.committedGen(dir).get
    // every success advanced exactly one generation — no lost updates
    assert(cur == threads * perThread, s"lost/duplicated commits: $cur")
    // dense: every generation committed with a token (the CAS loser
    // never half-publishes)
    (0 to cur).foreach(g =>
      assert(MergeTable.metaAt(dir, g).contains("token"), s"gen $g torn"))
    // rollups kept landing under racing and the pointer is recent
    assert(MergeTable.lastCheckpointGen(dir).exists(_ >= cur - K),
      s"checkpointing stalled: ${MergeTable.lastCheckpointGen(dir)} vs $cur")
    assert(MergeTable.readTable(spark, dir).count() == 200)
    MergeTable.vacuum(spark, dir)
    assert(MergeTable.readTable(spark, dir).count() == 200)
    assert(MergeTable.committedGen(dir).contains(cur))
  }

  test("vacuum keeps rollups and pointer, sweeps only their staged tmp files") {
    val dir = tmpDir("ckpt-vac")
    mkTable(dir)
    (1 to K + 1).foreach(_ => MergeTable.commitCarryForward(dir, Map("op" -> "carry")))
    java.nio.file.Files.write(
      java.nio.file.Path.of(dir, "_log", "_checkpoint.tmp-dead"), "x".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Path.of(dir, "_log", "_last_checkpoint.tmp-dead"), "x".getBytes)
    MergeTable.vacuum(spark, dir)
    assert(files(dir, "_checkpoint-g") == Seq(s"_checkpoint-g$K"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(dir, "_log", "_last_checkpoint")))
    assert(files(dir, "_checkpoint.tmp").isEmpty &&
      files(dir, "_last_checkpoint.tmp").isEmpty)
    assert(MergeTable.lastCheckpointGen(dir).contains(K))
    assert(MergeTable.committedGen(dir).contains(K + 1))
    assert(MergeTable.readTable(spark, dir).count() == 200)
  }
}
