package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

/** CAS-committed generation manifests for derived-index layouts (the
  * ANN vector index today) — the same optimistic-concurrency spine
  * [[MergeTable]]'s commit log rides, shrunk to the one thing an
  * index needs: "which data files are live right now", answered
  * atomically.
  *
  * Layout: `<indexDir>/_gens/g<N>` where the body is the FULL live
  * file list (newline-separated paths relative to the index's data
  * root, sorted). Generation N+1 is claimed by [[CommitStore]]
  * `putIfAbsent` — link(2) on POSIX, conditional put on an object
  * store — so exactly one writer owns each generation and a loser
  * rebases against the new head and retries. Readers resolve the
  * newest `g<N>` and read EXACTLY its files: a crashed append or
  * compaction leaves staged data invisible (never referenced), and a
  * maintenance rewrite flips the whole file set in one CAS instead
  * of a delete window readers can fall into.
  *
  * Full-list manifests, not deltas: manifest bytes ∝ live files, and
  * compaction keeps live files ∝ cells, so the head manifest stays
  * MB-scale at 10^5 cells. An index with 10^6+ live files wants the
  * delta-log + checkpoint layer (that is [[MergeTableLog]]'s job);
  * this module deliberately stops below it.
  *
  * Retention: the winner of generation N reclaims manifests ≤
  * N − [[keepGens]]. A reader that resolved a head can therefore
  * never lose it (only strictly older generations are reclaimed, and
  * only after a newer head exists — a re-list finds it).
  */
object IndexManifest {

  /** A committed generation: the live data files plus the
    * generation's METADATA (`#k=v` lines in the body — e.g. the ANN
    * index's trained-artifact pointer), which flips in the SAME CAS
    * as the file list so derived state can never be seen mixed with
    * the wrong data generation.
    */
  final case class Head(gen: Long, files: IndexedSeq[String],
                        meta: Map[String, String] = Map.empty)

  /** Committed manifests kept behind head — enough that a reader's
    * list-then-read can never miss (it would have to sleep through
    * keepGens commits mid-resolve, and the retry re-lists anyway).
    */
  private[graft] val keepGens = 8L

  private def gensDir(indexDir: String): Path =
    Path.of(indexDir, "_gens")
  private def genPath(indexDir: String, gen: Long): Path =
    gensDir(indexDir).resolve(s"g$gen")
  private def store(indexDir: String): CommitStore =
    CommitStore.forDir(indexDir)

  private val genName = "^g(\\d+)$".r

  /** All committed generation numbers (staging debris and foreign
    * names in `_gens/` are ignored, [[PosixCommitStore]]'s `.tmp-`
    * nonce files included).
    */
  private def committedGens(indexDir: String): Seq[Long] =
    store(indexDir).list(gensDir(indexDir)).collect {
      case genName(n) => n.toLong
    }

  def committedGen(indexDir: String): Option[Long] =
    committedGens(indexDir).maxOption

  private def parse(gen: Long, body: Array[Byte]): Head = {
    val lines = new String(body, UTF_8).split('\n').iterator
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val (metaLines, files) = lines.partition(_.startsWith("#"))
    val meta = metaLines.iterator.map(_.drop(1)).flatMap { kv =>
      kv.indexOf('=') match {
        case -1 => None // malformed metadata reads as absent, loudly nothing
        case i => Some(kv.take(i) -> kv.drop(i + 1))
      }
    }.toMap
    Head(gen, files, meta)
  }

  /** The committed head, or None when this index has no manifest yet
    * (never built). The list-then-read retry covers the one benign race: a
    * reader ≥ keepGens generations stale re-resolves instead of
    * failing on the reclaimed file.
    */
  def head(indexDir: String): Option[Head] = {
    var attempts = 0
    while (attempts < 8) {
      committedGen(indexDir) match {
        case None => return None
        case Some(g) =>
          store(indexDir).read(genPath(indexDir, g)) match {
            case Some(b) => return Some(parse(g, b))
            case None => attempts += 1 // reclaimed under us: newer head exists
          }
      }
    }
    sys.error(s"index manifest head unresolvable after 8 attempts: $indexDir")
  }

  /** The OCC commit loop. `next` maps the CURRENT head (None = no
    * manifest yet) to the new full file list, or None to ABORT — the
    * caller's inputs left the manifest, i.e. a concurrent maintenance
    * pass won, and the caller must restage against the new state
    * rather than commit over it. An append never aborts (it only
    * adds), so its loop always terminates with a win; each retry is
    * one head read + one CAS.
    *
    * Returns the committed head, or None when `next` aborted.
    */
  def commit(indexDir: String)(
      next: Option[Head] => Option[Seq[String]]): Option[Head] =
    // metadata carries FORWARD by default: an append or a maintenance
    // fold must never drop the head's trained-artifact pointer
    commitWithMeta(indexDir)(h =>
      next(h).map(fs => (fs, h.map(_.meta).getOrElse(Map.empty))))

  /** [[commit]] that also sets the generation's metadata — for the
    * one writer (a rebuild) that REPLACES derived state rather than
    * carrying it. Keys and values are single-line by construction
    * (the body is line-framed).
    */
  def commitWithMeta(indexDir: String)(
      next: Option[Head] => Option[(Seq[String], Map[String, String])]): Option[Head] = {
    while (true) {
      val h = head(indexDir)
      next(h) match {
        case None => return None
        case Some((fs, meta)) =>
          meta.foreach { case (k, v) =>
            require(!k.contains('\n') && !v.contains('\n') && !k.contains('='),
              s"manifest meta must be line-safe, '=': ($k, $v)")
          }
          val gen = h.map(_.gen + 1L).getOrElse(0L)
          val files = fs.distinct.sorted.toIndexedSeq
          files.foreach(f => require(!f.startsWith("#") && !f.contains('\n'),
            s"manifest entry not line-safe: $f"))
          val body = (meta.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" } ++
            files).mkString("\n").getBytes(UTF_8)
          if (store(indexDir).putIfAbsent(genPath(indexDir, gen), body)) {
            // best-effort retention — a crash here only lengthens a
            // later winner's sweep, never an answer
            committedGens(indexDir).filter(_ <= gen - keepGens)
              .foreach(g => store(indexDir).delete(genPath(indexDir, g)))
            return Some(Head(gen, files, meta))
          }
        // CAS lost: loop — next() recomputes against the new head
      }
    }
    sys.error("unreachable")
  }

  /** Append-only commit: `add` joins the head's live set (empty when
    * there is no head yet). Never aborts.
    */
  def commitAppend(indexDir: String, add: Seq[String]): Head =
    commit(indexDir) { h =>
      Some(h.map(_.files).getOrElse(IndexedSeq.empty) ++ add)
    }.get

  /** Replace-commit for maintenance: atomically swap `remove` for
    * `add` IF every removed file is still live — a concurrent
    * maintenance pass that already rewrote any of them aborts this
    * one (None), and the caller restages from the new head. Pure
    * appends landing between stage and commit rebase transparently.
    */
  def commitReplace(indexDir: String, remove: Set[String],
                    add: Seq[String]): Option[Head] =
    commit(indexDir) { h =>
      val base = h.map(_.files).getOrElse(IndexedSeq.empty)
      val live = base.toSet
      if (!remove.forall(live.contains)) None
      else Some(base.filterNot(remove.contains) ++ add)
    }
}
