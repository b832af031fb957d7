package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** THE stamped-cache rule every JVM-wide metadata cache follows (store
  * schemas and bucket counts, sidecar centroids and entries, fixture
  * table schemas): entries are keyed by PATH and valid for one STAMP. A
  * read whose stamp equals the live entry's reuses the value; any other
  * stamp loads afresh and REPLACES the entry — one live entry per path,
  * so a long-lived serving JVM never strands a dead entry per rewrite
  * (a (path, stamp)-keyed map grows one per sidecar swap). The stamp is
  * the caller's: [[StampedCache.listingStamp]] for directories whose
  * rewrites mint or touch entries, a file status for a single-file
  * fixture. `load` runs under the entry's lock, so concurrent readers
  * of one path load once. */
final class StampedCache[V] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()

  def apply(path: String, stamp: String)(load: => V): V =
    entries.compute(path, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev else (stamp, load))._2
}

object StampedCache {

  /** A directory's stamp: every top-level entry's name:length:mtime,
    * sorted. Writers mint fresh UUID-named parts (or touch the bucket
    * dirs and markers they rewrite), so any content change re-stamps. */
  def listingStamp(listing: Seq[FileStatus]): String =
    listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")

  def listingStamp(fs: FileSystem, dir: Path): String =
    listingStamp(fs.listStatus(dir).toSeq)
}
