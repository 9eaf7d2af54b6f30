package graft.operators

import scala.jdk.CollectionConverters._

/** The ONE implementation of the write-once tokened-segment +
  * pointer-flip publish protocol that writeShards, Sources.compact
  * and AvroSource.write all ride (the bloom sidecar's
  * `_bloomseg`/`_bloomptr` is the in-repo original; the LSH vacuum's
  * pointer is the catalog itself): data lands ONCE in an immutable
  * `<prefix><token>` dir under the artifact root, one atomic
  * [[CommitStore.putReplace]] of a marker file NAMES it, readers
  * resolve marker → segment, and anything prefix-shaped the marker
  * does not name is a crashed writer's orphan.
  *
  * Why shared: r15's first cut hand-rolled this four times with four
  * different orphan-identification comparisons, and the one that
  * compared RAW PATH STRINGS deleted the live segment when the caller
  * passed a trailing-slash root. All comparisons here are by segment
  * NAME (a single path element, normalized by construction), never by
  * path string.
  */
object SegmentPointer {

  private def store(root: String): CommitStore = CommitStore.forDir(root)

  private def markerPath(root: String, marker: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, marker)

  /** Mint a fresh writer-unique segment name ([[WriterToken]] — pid +
    * nanotime + JVM-wide sequence, unique across threads AND
    * processes).
    */
  def newSegName(prefix: String): String = prefix + WriterToken.next()

  /** The marker's raw trimmed body, if the marker exists. */
  private[operators] def markerBody(root: String, marker: String): Option[String] =
    store(root).read(markerPath(root, marker))
      .map(b => new String(b, "UTF-8").trim)

  /** The committed segment NAME: the marker body, when it carries the
    * segment prefix, is a SINGLE path element (the class invariant
    * the name-compared sweep relies on — a path-shaped body, whether a
    * caller bug or a corrupted marker, must read as unresolvable,
    * never alias a live dir out of the sweep's keep set), and names
    * an existing dir under `root` (a dangling pointer — segment swept
    * mid-replay — resolves to None, never to a half-artifact).
    */
  def resolveName(root: String, marker: String, prefix: String): Option[String] =
    markerBody(root, marker)
      .filter(_.startsWith(prefix))
      .filter(n => !n.contains('/') && !n.contains('\\'))
      .filter(n => java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, n)))

  /** Publish `segName`: the atomic flip. A crash before leaves the old
    * marker (fresh segment = orphan); after, the new segment is live.
    * `segName` must be a bare name, not a path — passing `segRoot`
    * here would publish a marker nothing can resolve.
    */
  def publish(root: String, marker: String, segName: String): Unit = {
    require(!segName.contains('/') && !segName.contains('\\'),
      s"segment name must be a single path element, got '$segName'")
    store(root).putReplace(markerPath(root, marker),
      (segName + "\n").getBytes("UTF-8"))
  }

  /** Drop the marker (used by writers that must make a dir read as
    * uncommitted before clearing debris).
    */
  def dropMarker(root: String, marker: String): Unit = {
    store(root).delete(markerPath(root, marker)); ()
  }

  /** Delete every `<prefix>*` dir under `root` EXCEPT `keep` — the
    * crashed-writer orphan sweep. Name-compared (single path
    * elements), so trailing slashes or unnormalized roots can never
    * alias the live segment into the sweep.
    */
  def sweepOrphans(root: String, prefix: String, keep: Option[String]): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(p)) return
    val ls = java.nio.file.Files.list(p)
    try ls.iterator().asScala.foreach { e =>
      val n = e.getFileName.toString
      if (n.startsWith(prefix) && !keep.contains(n))
        graft.IndexLifecycle.deleteRecursively(e.toString)
    } finally ls.close()
  }
}
