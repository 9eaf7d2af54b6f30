package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Metadata-only DROP COLUMN: zero data IO, immediate invisibility,
  * retired-name guard against byte resurrection, automatic un-retire
  * after a physical rewrite, time-travel/restore semantics.
  */
class DropColumnSpec extends SparkSpecBase {
  import spark.implicits._
  import java.nio.file.{Files, Path}

  private def table(n: Int) =
    (1 to n).map(k => (k.toLong, s"seg${k % 4}", k * 1.5, s"note$k"))
      .toDF("k", "seg", "bal", "note")

  test("drop is metadata-only, immediately invisible, and time-travel keeps the column") {
    val dir = tmpDir("dropcol")
    MergeTable.write(spark, table(200), "k", dir, nFiles = 4)
    val paths0 = MergeTable.manifest(spark, dir).select("path")
      .collect().map(_.getString(0)).toSeq
    val mt0 = paths0.map(p => p -> Files.getLastModifiedTime(
      Path.of(java.net.URI.create(p))).toMillis).toMap

    assert(MergeTable.dropColumn(spark, dir, "k", "note") == 1)
    // no data file touched; same files referenced
    val man1 = MergeTable.manifest(spark, dir).select("path")
      .collect().map(_.getString(0)).toSeq
    assert(man1.sorted == paths0.sorted)
    paths0.foreach(p => assert(Files.getLastModifiedTime(
      Path.of(java.net.URI.create(p))).toMillis == mt0(p), s"$p rewritten"))
    // column gone through every read path
    assert(MergeTable.readTable(spark, dir).columns.toSeq == Seq("k", "seg", "bal"))
    assert(MergeTable.readIndexed(spark, dir).columns.toSeq == Seq("k", "seg", "bal"))
    // CDC across the drop: same files on both sides → zero changes
    assert(MergeTable.changesBetween(spark, dir, 0, 1, "k").count() == 0)
    // pre-drop generation still carries it; history records the op
    assert(MergeTable.readTable(spark, dir, asOf = Some(0)).columns.contains("note"))
    val hist = MergeTable.history(spark, dir).select("gen", "op")
      .as[(Int, String)].collect().toSeq
    assert(hist == Seq((1, "dropcol"), (0, "write")))

    // guards: unknown column, the key, constraint references
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "k", "nope")
    }
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "k", "k")
    }
    MergeTable.addCheckConstraint(spark, dir, "bal-pos", "bal > 0")
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "k", "bal")
    }
    assert(MergeTable.dropCheckConstraint(dir, "bal-pos"))
    // Spark resolves case-insensitively, so must the reference check:
    // dropping 'bal' out from under 'BAL > 0' would brick every later
    // mutation's enforcement with an analysis error
    MergeTable.addCheckConstraint(spark, dir, "bal-up", "BAL > 0")
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, dir, "k", "bal")
    }
    assert(MergeTable.dropCheckConstraint(dir, "bal-up"))
  }

  test("catch-up CDC across a drop stays the logical delta (no per-resident U storm)") {
    val dir = tmpDir("dropcol3")
    MergeTable.write(spark, table(200), "k", dir, nFiles = 4)
    MergeTable.dropColumn(spark, dir, "k", "note")      // gen 1
    MergeTable.merge(spark, dir,                         // gen 2
      Seq((10L, "U", "WEB", 9.9)).toDF("k", "op", "seg", "bal"), "k")
    // per-generation tailing: 0→1 empty, 1→2 one U — the catch-up
    // span 0→2 (what a resumed stream delivers) must net the same,
    // NOT one U per untouched resident of the rewritten file whose
    // 'note' the old side still carries
    val span = MergeTable.changesBetween(spark, dir, 0, 2, "k")
      .select("k", "change_op").as[(Long, String)].collect().toSeq
    assert(span == Seq((10L, "U")), s"spurious changes across the drop: $span")
    assert(!MergeTable.changesBetween(spark, dir, 0, 2, "k").columns.contains("note"))
  }

  test("a shallow clone inherits retirement and constraints (shared files stay guarded)") {
    val dir = tmpDir("dropcol4")
    MergeTable.write(spark, table(200), "k", dir, nFiles = 4)
    MergeTable.dropColumn(spark, dir, "k", "note")
    MergeTable.addCheckConstraint(spark, dir, "bal-pos", "bal > 0")
    val clone = dir + "-clone"
    MergeTable.cloneTable(spark, dir, clone)
    assert(MergeTable.droppedColumns(clone) == Set("note"))
    assert(MergeTable.checkConstraints(clone).keySet == Set("bal-pos"))
    // the clone's carried files still bury 'note' bytes — resurrection
    // must be blocked THERE too, in any case variant
    val ex = intercept[IllegalStateException] {
      MergeTable.merge(spark, clone,
        Seq((500L, "I", "NEW", 1.0, "x")).toDF("k", "op", "seg", "bal", "NOTE"), "k")
    }
    assert(ex.getMessage.contains("NOTE"), ex.getMessage)
    intercept[IllegalStateException] {
      MergeTable.merge(spark, clone,
        Seq((500L, "I", "NEW", -1.0)).toDF("k", "op", "seg", "bal"), "k")
    }
    graft.IndexLifecycle.deleteRecursively(clone)
  }

  test("governance CAS: concurrent retire/un-retire transforms never lose an update") {
    // the failure mode being excluded: a read-modify-write loser
    // restoring its pre-race snapshot and erasing the winner's
    // retirement of a DIFFERENT column (silently disabling the
    // byte-resurrection guard). With the link(2)-CAS the loser
    // re-applies its transform to the winner's state instead.
    val dir = tmpDir("governcas")
    Files.createDirectories(Path.of(dir))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try (0 until 25).foreach { i =>
          MergeTable.updateDroppedCols(dir)(_ + s"col-$t-$i")
          if (i % 2 == 0) MergeTable.updateDroppedCols(dir)(_ - s"col-$t-$i")
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"CAS update threw: ${errs.peek()}")
    val want = (for (t <- 0 until 4; i <- 0 until 25 if i % 2 == 1)
      yield s"col-$t-$i").toSet
    assert(MergeTable.droppedColumns(dir) == want,
      s"lost updates: missing ${want -- MergeTable.droppedColumns(dir)}, " +
        s"ghosts ${MergeTable.droppedColumns(dir) -- want}")
  }

  test("lost-race rollback keeps the retirement when a same-column drop already committed") {
    val dir = tmpDir("dropcas2")
    MergeTable.write(spark, table(50), "k", dir, nFiles = 2)
    // state A: the column is still in the committed schema (the race
    // winner was some OTHER writer) → the loser's rollback un-retires
    MergeTable.updateDroppedCols(dir)(_ + "note")
    MergeTable.rollbackRetirement(dir, "note")
    assert(MergeTable.droppedColumns(dir).isEmpty)
    // state B: a racing dropColumn of the SAME column won — the
    // committed schema no longer carries it, and its commit NEEDS the
    // (shared) retirement: the loser's rollback must keep the guard
    MergeTable.dropColumn(spark, dir, "k", "note")
    MergeTable.updateDroppedCols(dir)(_ + "note") // loser's own retire (idempotent)
    MergeTable.rollbackRetirement(dir, "note")
    assert(MergeTable.droppedColumns(dir) == Set("note"),
      "lost-race rollback stripped the winner's byte-resurrection guard")
  }

  test("vacuum sweeps superseded governance versions; the state reads identically") {
    val dir = tmpDir("governvacuum")
    MergeTable.write(spark, table(50), "k", dir, nFiles = 2)
    MergeTable.updateDroppedCols(dir)(_ + "note")
    MergeTable.updateDroppedCols(dir)(_ + "extra")
    MergeTable.addCheckConstraint(spark, dir, "bal-pos", "bal > 0")
    assert(MergeTable.dropCheckConstraint(dir, "bal-pos"))
    assert(Files.exists(Path.of(dir, "_dropped_cols-v1")))
    assert(Files.exists(Path.of(dir, "_constraints-v1")))
    // vacuum keeps only the newest version of each governance file
    MergeTable.vacuum(spark, dir)
    assert(!Files.exists(Path.of(dir, "_dropped_cols-v1")))
    assert(Files.exists(Path.of(dir, "_dropped_cols-v2")))
    assert(!Files.exists(Path.of(dir, "_constraints-v1")))
    assert(Files.exists(Path.of(dir, "_constraints-v2")))
    assert(MergeTable.droppedColumns(dir) == Set("extra", "note"))
    assert(MergeTable.checkConstraints(dir).isEmpty)
  }

  test("retired name blocks resurrection until a physical rewrite sheds the bytes") {
    val dir = tmpDir("dropcol2")
    MergeTable.write(spark, table(200), "k", dir, nFiles = 4)
    MergeTable.dropColumn(spark, dir, "k", "note")
    assert(MergeTable.droppedColumns(dir) == Set("note"))

    // re-introducing 'note' while old bytes are live must fail: the
    // carried files still carry note1..note200 and would resurface
    val ex = intercept[IllegalStateException] {
      MergeTable.merge(spark, dir,
        Seq((500L, "I", "NEW", 1.0, "fresh")).toDF("k", "op", "seg", "bal", "note"), "k")
    }
    assert(ex.getMessage.contains("note"), ex.getMessage)
    // a different new name is fine (ordinary schema evolution)
    MergeTable.merge(spark, dir,
      Seq((500L, "I", "NEW", 1.0, "fresh")).toDF("k", "op", "seg", "bal", "remark"), "k")

    // full rewrite sheds the buried bytes; the name un-retires and a
    // re-add reads cleanly (old rows null, new row populated)
    val total = MergeTable.readTable(spark, dir).count()
    MergeTable.compact(spark, dir, "k", targetRows = total + 1)
    MergeTable.merge(spark, dir,
      Seq((501L, "I", "NEW", 2.0, "clean")).toDF("k", "op", "seg", "bal", "note"), "k")
    assert(MergeTable.droppedColumns(dir).isEmpty)
    val notes = MergeTable.readTable(spark, dir).filter(col("note").isNotNull)
      .select("k", "note").as[(Long, String)].collect().toSeq
    assert(notes == Seq((501L, "clean")), s"buried bytes resurfaced: $notes")
  }
}
