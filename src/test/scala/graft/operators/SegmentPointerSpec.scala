package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** [[SegmentPointer]]: the shared segment-publish protocol — pinned
  * directly (its three call sites each spec their own crash windows;
  * this suite pins the helper's contract, including the
  * trailing-slash aliasing the r15 self-review caught in a per-site
  * copy).
  */
class SegmentPointerSpec extends AnyFunSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("segptr").toString

  test("publish/resolve round trip; dangling pointers resolve to None") {
    val root = freshRoot()
    assert(SegmentPointer.resolveName(root, "_head", "_seg-").isEmpty)
    val seg = SegmentPointer.newSegName("_seg-")
    // pointer names a segment that does not exist yet: dangling
    SegmentPointer.publish(root, "_head", seg)
    assert(SegmentPointer.markerBody(root, "_head").contains(seg))
    assert(SegmentPointer.resolveName(root, "_head", "_seg-").isEmpty,
      "a dangling pointer must never resolve")
    Files.createDirectories(Paths.get(root, seg))
    assert(SegmentPointer.resolveName(root, "_head", "_seg-").contains(seg))
    // a marker body with a foreign prefix (legacy form) never resolves
    SegmentPointer.publish(root, "_legacy", "committed")
    assert(SegmentPointer.resolveName(root, "_legacy", "_seg-").isEmpty)
    assert(SegmentPointer.markerBody(root, "_legacy").contains("committed"))
    SegmentPointer.dropMarker(root, "_head")
    assert(SegmentPointer.resolveName(root, "_head", "_seg-").isEmpty)
  }

  test("orphan sweep is name-compared: a trailing-slash root never aliases the live segment") {
    val root = freshRoot()
    val live = SegmentPointer.newSegName("_seg-")
    val orphan = "_seg-orphantok"
    Files.createDirectories(Paths.get(root, live))
    Files.write(Paths.get(root, live, "data.bin"), Array[Byte](1))
    Files.createDirectories(Paths.get(root, orphan))
    // the regression shape: the caller's root carries a trailing slash
    // (a raw-string path compare would see <root>//<live> != <root>/<live>
    // and sweep the LIVE segment)
    SegmentPointer.sweepOrphans(root + "/", "_seg-", Some(live))
    assert(Files.exists(Paths.get(root, live, "data.bin")),
      "live segment swept under a trailing-slash root")
    assert(!Files.exists(Paths.get(root, orphan)), "orphan survived")
    // keep=None sweeps everything prefix-shaped; foreign names survive
    Files.createDirectories(Paths.get(root, "_other-thing"))
    SegmentPointer.sweepOrphans(root, "_seg-", None)
    assert(!Files.exists(Paths.get(root, live)))
    assert(Files.exists(Paths.get(root, "_other-thing")))
    // a missing root is a no-op, not an error
    SegmentPointer.sweepOrphans(root + "/nope", "_seg-", None)
  }

  test("the flip rides a registered CommitStore and resolution reads through it") {
    val root = freshRoot()
    val store = new InMemoryCommitStore
    CommitStore.register(root, store)
    try {
      val seg = SegmentPointer.newSegName("_seg-")
      Files.createDirectories(Paths.get(root, seg))
      SegmentPointer.publish(root, "_head", seg)
      assert(Files.notExists(Paths.get(root, "_head")),
        "pointer leaked onto the filesystem past the store")
      assert(SegmentPointer.resolveName(root, "_head", "_seg-").contains(seg))
      SegmentPointer.dropMarker(root, "_head")
      assert(SegmentPointer.resolveName(root, "_head", "_seg-").isEmpty)
    } finally CommitStore.unregister(root)
  }

  test("segment names are writer-unique and prefix-faithful") {
    val names = (1 to 64).map(_ => SegmentPointer.newSegName("_seg-"))
    assert(names.distinct.size == names.size, "token collision")
    assert(names.forall(_.startsWith("_seg-")))
    assert(names.forall(n => !n.contains('/')), "a name must be one path element")
  }

  test("a path-shaped marker body never resolves (publish refuses, resolveName rejects)") {
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      SegmentPointer.publish(root, "_head", "_seg-x/sub")
    }
    // a corrupted/hand-edited marker naming an existing NESTED dir is
    // unresolvable — otherwise the name-compared sweep would delete
    // the live parent out from under it
    Files.createDirectories(Paths.get(root, "_seg-x", "sub"))
    CommitStore.forDir(root).putReplace(
      Paths.get(root, "_head"), "_seg-x/sub\n".getBytes("UTF-8"))
    assert(SegmentPointer.resolveName(root, "_head", "_seg-").isEmpty)
  }

  test("tokens are unique under thread contention (nanoTime ties can't share staging)") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val all = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val n = 8 * 2000
    val futs = (1 to 8).map(_ => pool.submit(new Runnable {
      def run(): Unit = (1 to 2000).foreach(_ => all.add(WriterToken.next()): Unit)
    }))
    futs.foreach(_.get())
    pool.shutdown()
    assert(all.size == n, s"token collision under contention: ${all.size} of $n unique")
    // and every token keeps the staging-name shape sweeps rely on
    val sample = all.iterator().next()
    assert(PosixCommitStore.isStagingName(s"x.tmp-$sample"),
      s"token '$sample' broke the staging-name contract")
  }
}
