package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The standing per-collection artifacts the serving queries read —
  * fits, pinned relations, standing indexes, staged fixture roots —
  * built once and served to every later request, as the reference
  * serves from per-collection artifacts (PAPER.md §1.1 `Collection`,
  * vecpipe's persistent sparse index).
  *
  * An entry is keyed by (session, dir, name):
  *  - the session: entries of a session whose SparkContext has
  *    stopped are dropped on the next lookup, so a new session
  *    rebuilds instead of serving relations bound to a dead context;
  *  - the dir, with its input fingerprint — (path, size, mtime) of
  *    every file under it. When the fingerprint changes the entry is
  *    rebuilt. The cache manager matches a file scan by its path, so
  *    the rebuild would re-serve data cached from the old files: the
  *    registry's relations, and pins made inside builds such as
  *    [[graft.operators.Bm25.Index.pin]]. So the first lookup that
  *    sees a new fingerprint refreshes every cached plan under the dir
  *    (`Catalog.refreshByPath`), and the rebuild materializes the
  *    refreshed entries. Unpersisting a replaced relation instead
  *    would also drop the same plan already rebuilt by another
  *    session of the SparkContext, which shares the cache manager;
  *  - the name, unique per dir: the name of the function that builds
  *    the artifact plus its parameters, e.g. `docsVocabVariants/2`.
  *
  * Each key builds at most once, even with concurrent callers. The
  * build runs under its entry's own lock, never a map-wide one, so a
  * build may look up other keys (nested builds). A build that throws
  * is not memoized. */
private[graft] object StandingArtifacts {
  private type Fingerprint = Vector[(String, Long, Long)]

  /** One key's lazy cell, tied to the fingerprint it was built for. */
  private final class Entry(val fingerprint: Fingerprint) {
    private var value: Option[Any] = None

    def get[T](build: => T): T = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }.asInstanceOf[T]
    }
  }

  private val sessions = new ConcurrentHashMap[SparkSession,
    ConcurrentHashMap[(String, String), Entry]]()

  /** The last fingerprint any lookup saw for each dir. */
  private val lastSeen = new ConcurrentHashMap[String, Fingerprint]()

  /** The artifact `name` of `dir` in session `s`, built on first use. */
  def apply[T](s: SparkSession, dir: String, name: String)(
      build: => T): T = {
    sessions.keySet.removeIf(_.sparkContext.isStopped)
    val entries = sessions.computeIfAbsent(s, _ => new ConcurrentHashMap())
    val fp = fingerprint(dir)
    val seen = lastSeen.put(dir, fp)
    if (seen != null && seen != fp) s.catalog.refreshByPath(dir)
    entries.compute((dir, name), (_, old) =>
      if (old != null && old.fingerprint == fp) old else new Entry(fp))
      .get(build)
  }

  /** A standing relation: cached and materialized once, off the query
    * clock. Re-deriving a corpus-sized relation inside a per-request
    * plan is what standing artifacts exist to avoid. */
  def relation(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    apply(s, dir, name) { val df = build.cache(); df.count(); df }

  /** (relative path, size, mtime) of every regular file under `dir`;
    * empty when `dir` is not a local directory. */
  private def fingerprint(dir: String): Fingerprint = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Vector.empty
    else {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        (root.relativize(p).toString, a.size, a.lastModifiedTime.toMillis)
      }.toVector.sorted
      finally files.close()
    }
  }
}
