package graft

import org.apache.spark.sql.SparkSession

/** The one memo for values derived from a SOURCE FILE. The engine
  * keeps exactly two caches, chosen by what the value derives from:
  *
  *  - derived from a served root → a [[graft.serving.RootCache]] slot
  *    of that root. Refresh, erase and foreign commits rewrite a
  *    served root in place without moving the source fingerprint,
  *    so only the root's generation can tell such a value is stale;
  *  - derived from a source file → an `FpMemo`.
  *
  * An entry is keyed on the file and stamped with its
  * [[Tables.fingerprint]] (path, file count, bytes, max mtime — one
  * listStatus call per `get`, hit or miss). A file regenerated in
  * place reads a new fingerprint: the superseded entry is removed
  * and `release`d, or each regeneration would keep another pinned
  * frame, checkpointed code table or temp-dir corpus copy alive. Two
  * builds that race on the same fingerprint both run (builds are not
  * serialized); the one that loses the insert is released and the
  * winner served to both callers.
  */
final class FpMemo[V](release: V => Unit = (_: V) => ()) {
  private val byFile = scala.collection.concurrent.TrieMap.empty[String, (String, V)]

  /** `file`'s cached value, built by `build` when `file` is new or
    * its fingerprint moved.
    */
  def get(spark: SparkSession, file: String)(build: => V): V = {
    val fp = Tables.fingerprint(spark, file)
    byFile.get(file) match {
      case Some((`fp`, v)) => v
      case superseded =>
        // released BEFORE the rebuild: Spark matches cached plans by
        // path, so a frame rebuilt over the same file shares the old
        // one's cache entry, and a later release would unpersist it
        superseded.foreach(old => if (byFile.remove(file, old)) release(old._2))
        publish(file, fp, build)
    }
  }

  @annotation.tailrec
  private def publish(file: String, fp: String, v: V): V =
    byFile.get(file) match {
      case Some((`fp`, winner)) => drop(v, winner); winner
      case None =>
        if (byFile.putIfAbsent(file, (fp, v)).isEmpty) v
        else publish(file, fp, v)
      case Some(old) =>
        if (byFile.replace(file, old, (fp, v))) { drop(old._2, v); v }
        else publish(file, fp, v)
    }

  /** Release `v` unless it holds `kept`'s storage. */
  private def drop(v: V, kept: V): Unit =
    if (!graft.serving.RootCache.sharesCache(v, kept)) release(v)
}

object FpMemo {

  /** One materialized temp-dir root per fingerprint of
    * `<dir>/<table>.parquet` — the build-once idiom every served,
    * evolved and tiered gate uses, so repeated gate and bench calls
    * reuse one build. Release deletes the directory.
    */
  final class TempRoots(prefix: String, table: String = "events") {
    private val memo = new FpMemo[String](p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

    /** The root for `dir`'s current data, building it on first use. */
    def root(spark: SparkSession, dir: String)(build: String => Unit): String =
      memo.get(spark, s"$dir/$table.parquet") {
        val p = java.nio.file.Files.createTempDirectory(prefix).toString
        build(p)
        p
      }
  }
}
