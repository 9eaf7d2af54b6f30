package graft.streaming

import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.CyclicBarrier

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint manager's commit contract, driven directly: the
  * put-if-absent that fences a second writer of one offset entry, the
  * replace that state snapshots use, and the cancel that publishes
  * nothing.
  */
class GraftCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("gcfm")
    try body(dir) finally graft.IndexLifecycle.deleteRecursively(dir.toString)
  }

  private def manager(dir: NioPath) =
    new GraftCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NioPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  private def write(m: GraftCheckpointFileManager, p: Path, overwrite: Boolean,
                    body: String): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  test("racing createAtomic(p, false): exactly one close wins, the loser gets Hadoop's FileAlreadyExistsException") {
    (1 to 20).foreach(round => withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.toString + "/0")
      val barrier = new CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Unit]]()
      val threads = Seq("writer-a", "writer-b").map { who =>
        new Thread(() => {
          val out = m.createAtomic(p, false)
          out.write(who.getBytes("UTF-8"))
          barrier.await() // both staged before either publishes
          results.put(who, try Right(out.close()) catch { case e: Throwable => Left(e) })
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val winners = results.asScala.collect { case (w, Right(_)) => w }.toSeq
      val losers = results.asScala.collect { case (_, Left(e)) => e }.toSeq
      assert(winners.size == 1, s"round $round: winners $winners, losers $losers")
      assert(losers.size == 1 && losers.head.isInstanceOf[FileAlreadyExistsException],
        s"round $round: loser raised ${losers.headOption}")
      assert(new String(Files.readAllBytes(dir.resolve("0")), "UTF-8") == winners.head)
      assert(names(dir) == Set("0"), s"round $round left ${names(dir)}")
    })
  }

  test("cancel() publishes nothing and leaves nothing behind")(withDir { dir =>
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.toUri.toString + "/1.delta"), false)
    out.write("half-written".getBytes("UTF-8"))
    out.cancel()
    out.close() // Spark may close after cancel: still a no-op
    assert(names(dir).isEmpty, s"cancel left ${names(dir)}")
  })

  test("createAtomic(p, true) replaces the file and drops its stale Hadoop sidecar")(withDir { dir =>
    val m = manager(dir)
    val p = new Path(dir.toUri.toString + "/2.snapshot")
    write(m, p, overwrite = false, "old")
    Files.write(dir.resolve(".2.snapshot.crc"), Array[Byte](1, 2, 3)) // the default manager's
    write(m, p, overwrite = true, "new")
    assert(new String(Files.readAllBytes(dir.resolve("2.snapshot")), "UTF-8") == "new")
    assert(names(dir) == Set("2.snapshot"), s"replace left ${names(dir)}")
    // a second put-if-absent on the same name still loses
    intercept[FileAlreadyExistsException](write(m, p, overwrite = false, "again"))
    assert(new String(Files.readAllBytes(dir.resolve("2.snapshot")), "UTF-8") == "new")
  })

  test("reads a default-manager directory: sidecars hidden and never checked, Spark's checksum files listed")(withDir { dir =>
    val m = manager(dir)
    Files.write(dir.resolve("0"), "v1".getBytes("UTF-8"))
    Files.write(dir.resolve(".0.crc"), Array[Byte](9, 9, 9)) // stale: does not match
    Files.write(dir.resolve("0.crc"), Array[Byte](7))        // Spark's own checksum file
    val listed = m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet
    assert(listed == Set("0", "0.crc"))
    val in = m.open(new Path(dir.toUri.toString + "/0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1") finally in.close()
    assert(m.exists(new Path(dir.toUri.toString + "/0")))
    m.delete(new Path(dir.toUri.toString + "/0"))
    assert(names(dir) == Set("0.crc"), s"delete left ${names(dir)}")
    m.delete(new Path(dir.toUri.toString + "/0")) // already gone: a no-op
    intercept[java.io.FileNotFoundException](m.list(new Path(dir.toUri.toString + "/missing")))
  })
}
