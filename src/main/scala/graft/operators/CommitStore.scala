package graft.operators

import java.nio.file.Path

/** The storage seam under the table format's CONTROL PLANE — every
  * small-file operation whose atomicity the OCC design leans on:
  * commit markers (link-CAS), governance versions (link-CAS),
  * checkpoint rollups and the `_last_checkpoint` pointer (atomic
  * replace), CDC horizon registrations (atomic replace), plus the
  * reads/listings/deletes that resolve and vacuum them.
  *
  * Why a trait: [[MergeTable]]'s commit protocol is correct on any
  * store providing two primitives — an atomic PUT-IF-ABSENT (the
  * generation CAS; `link(2)` on POSIX, a conditional put / If-None-
  * Match on an object store) and an atomic REPLACE (rename on POSIX,
  * a plain PUT on any object store, whose object swaps are atomic) —
  * but the r11 implementation reached `Files.createLink`/`Files.move`
  * directly, hard-wiring the one assumption ("the table lives on a
  * POSIX filesystem") that a 100 TB S3/GCS deployment breaks: rename
  * is copy there and `link(2)` doesn't exist, while conditional put
  * does. Delta draws this exact seam as `LogStore`. Everything above
  * the seam — retry-on-CME, dense generations, checkpoint rollups,
  * crash-staging invisibility — is store-agnostic and proven so by
  * CommitStoreSpec, which replays the OCC suites against an
  * in-memory, fault-injecting implementation.
  *
  * DATA files (parquet written by Spark) are NOT behind this seam:
  * they are published by reference from the commit log, under
  * writer-unique tokened paths, so they never need atomic rename —
  * the property that makes the format object-store-ready in the
  * first place.
  *
  * Contract notes:
  *  - [[putIfAbsent]] returns false when the name already exists
  *    (the CAS loss); it must never replace.
  *  - [[putReplace]] must be atomic: readers see the old or the new
  *    bytes, never a torn file.
  *  - [[list]] returns immediate-child NAMES (not paths) of entries
  *    the store knows under `dir`; a missing dir lists empty.
  *  - [[mtimeMillis]] feeds vacuum's retention window and horizon
  *    staleness only — observability, never correctness.
  */
trait CommitStore {
  def putIfAbsent(path: Path, body: Array[Byte]): Boolean
  def putReplace(path: Path, body: Array[Byte]): Unit
  def read(path: Path): Option[Array[Byte]]
  def exists(path: Path): Boolean
  def list(dir: Path): Seq[String]
  def delete(path: Path): Boolean
  def mtimeMillis(path: Path): Option[Long]
}

/** Writer-unique token mint shared by every staging/segment namer:
  * `<pid>-<hexnanos><16-hex-seq>`. `System.nanoTime` alone is NOT
  * thread-unique — coarse clocks hand racing threads equal readings,
  * and r15's 4-writer carry-storm spec caught two committers sharing
  * one staging tmp that way (writer A's cleanup deleted the tmp out
  * from under writer B's link) — so a JVM-wide monotone sequence
  * rides the hex tail, FIXED-WIDTH so distinct sequence values can
  * never concatenate into the same string. The shape stays
  * `<digits>-<hex>`, which every consumer of
  * [[PosixCommitStore.isStagingName]] relies on.
  */
object WriterToken {
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  def next(): String =
    ProcessHandle.current().pid().toString + "-" +
      java.lang.Long.toHexString(System.nanoTime()) +
      String.format("%016x", Long.box(seq.incrementAndGet()))
}

/** The default store: today's exact POSIX discipline, relocated.
  * putIfAbsent = write a same-directory tmp, `link(2)` it to the
  * final name (link never replaces — a true CAS), delete the tmp;
  * putReplace = tmp + ATOMIC_MOVE. Tmp names are
  * `<final>.tmp-<pid>-<nanos>` so racing writers never collide and
  * vacuum's crash-staging sweep can match them by the `.tmp-`
  * segment.
  */
object PosixCommitStore extends CommitStore {
  private def nonce(): String = WriterToken.next()

  /** Whether `name` is this store's crash-staging debris — the EXACT
    * `<final>.tmp-<pid>-<hexnanos>` nonce shape the staging writer
    * produces, nothing looser. Listings that skip staging (e.g.
    * [[graft.operators.MergeTable.cdcHorizons]]) and sweeps that
    * reclaim it must share this one definition: matching `.tmp-`
    * ANYWHERE would silently drop (and then sweep!) a user-chosen
    * name like `nightly.tmp-replica`, stranding a real registration
    * without the loud refusal the safety designs promise.
    */
  def isStagingName(name: String): Boolean =
    name.matches(".*\\.tmp-\\d+-[0-9a-f]+")

  private def writeTmp(path: Path, body: Array[Byte]): Path = {
    val parent = path.toAbsolutePath.getParent
    java.nio.file.Files.createDirectories(parent)
    val tmp = parent.resolve(path.getFileName.toString + ".tmp-" + nonce())
    java.nio.file.Files.write(tmp, body)
    tmp
  }

  /** The one POSIX commit primitive: publish a fully written staging
    * file `tmp` (same directory as `path`) under `path`. `replace =
    * false` is put-if-absent through `link(2)`, which never replaces:
    * false on the CAS loss. `replace = true` is an atomic rename over
    * any existing file. The staging file is gone when this returns.
    * Shared with [[graft.streaming.GraftCheckpointFileManager]], so the
    * stream's checkpoint commits the way the table log does.
    */
  def publish(tmp: Path, path: Path, replace: Boolean): Boolean =
    try {
      if (replace)
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else java.nio.file.Files.createLink(path, tmp)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException if !replace => false }
    finally { java.nio.file.Files.deleteIfExists(tmp); () }

  def putIfAbsent(path: Path, body: Array[Byte]): Boolean =
    publish(writeTmp(path, body), path, replace = false)

  def putReplace(path: Path, body: Array[Byte]): Unit = {
    publish(writeTmp(path, body), path, replace = true); ()
  }

  def read(path: Path): Option[Array[Byte]] =
    try Some(java.nio.file.Files.readAllBytes(path))
    catch { case _: java.io.IOException => None } // incl. NoSuchFile — swept mid-read

  def exists(path: Path): Boolean = java.nio.file.Files.exists(path)

  def list(dir: Path): Seq[String] =
    if (!java.nio.file.Files.exists(dir)) Nil
    else {
      val ls = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally ls.close()
    }

  def delete(path: Path): Boolean = java.nio.file.Files.deleteIfExists(path)

  def mtimeMillis(path: Path): Option[Long] =
    try Some(java.nio.file.Files.getLastModifiedTime(path).toMillis)
    catch { case _: java.io.IOException => None }
}

/** A complete in-process store over a concurrent map — the "object
  * store" stand-in CommitStoreSpec proves the OCC protocol against
  * (putIfAbsent ≙ conditional put, putReplace ≙ plain PUT; no
  * rename, no link, no directory semantics). Listing is by absolute-
  * path prefix; entries carry an mtime stamp so vacuum retention and
  * horizon staleness behave as on POSIX.
  */
final class InMemoryCommitStore extends CommitStore {
  private val files =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Long)]()

  private def key(p: Path): String = p.toAbsolutePath.normalize().toString

  def putIfAbsent(path: Path, body: Array[Byte]): Boolean =
    files.putIfAbsent(key(path),
      (body.clone(), System.currentTimeMillis())) == null

  def putReplace(path: Path, body: Array[Byte]): Unit = {
    files.put(key(path), (body.clone(), System.currentTimeMillis())); ()
  }

  def read(path: Path): Option[Array[Byte]] =
    Option(files.get(key(path))).map(_._1.clone())

  def exists(path: Path): Boolean = files.containsKey(key(path))

  def list(dir: Path): Seq[String] = {
    val prefix = key(dir) + "/"
    import scala.jdk.CollectionConverters._
    files.keySet().asScala.iterator
      .filter(k => k.startsWith(prefix) && !k.drop(prefix.length).contains('/'))
      .map(_.drop(prefix.length)).toSeq
  }

  def delete(path: Path): Boolean = files.remove(key(path)) != null

  def mtimeMillis(path: Path): Option[Long] =
    Option(files.get(key(path))).map(_._2)

  /** Test observability: how many control files the store holds. */
  def size: Int = files.size()
}

/** Store resolution: a per-table-prefix registry with the POSIX
  * store as the universal default, so production behavior is
  * byte-identical to r11 while specs pin an alternative store to
  * their temp dirs. Longest registered prefix wins (a registered
  * table's clone at a sibling path stays POSIX unless registered
  * itself).
  */
object CommitStore {
  private val overrides =
    new java.util.concurrent.ConcurrentHashMap[String, CommitStore]()

  private def norm(dir: String): String =
    Path.of(dir).toAbsolutePath.normalize().toString

  def register(dirPrefix: String, store: CommitStore): Unit = {
    overrides.put(norm(dirPrefix), store); ()
  }

  def unregister(dirPrefix: String): Unit = {
    overrides.remove(norm(dirPrefix)); ()
  }

  def forDir(dir: String): CommitStore = {
    if (overrides.isEmpty) return PosixCommitStore
    val n = norm(dir)
    import scala.jdk.CollectionConverters._
    overrides.asScala
      .filter { case (p, _) => n == p || n.startsWith(p + "/") }
      .toSeq.sortBy(-_._1.length).headOption.map(_._2)
      .getOrElse(PosixCommitStore)
  }
}
