package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Segment compaction for batch-id-partitioned ingest STATE — the
  * Pinot merge/rollup-task analog for the state tables the
  * foreachBatch legs append to (every [[MergeableState]], the
  * [[CensusState]] profile/census pairs, the admission indexes and
  * the pipeline's rollup segments): without it, state fragments into
  * one partition per micro-batch forever (10 s triggers ≈ 8,640
  * directories/day — a listing and small-file liability long before
  * data volume matters).
  *
  * Folded batches collapse into a CONSOLIDATED generation directory
  * (`_consolidated/gen=G` — underscore-prefixed, so the main
  * partitioned read never sees it), re-aggregated at the state's own
  * grain so the compacted table is also SMALLER, not just fewer
  * files (the Pinot rollup-merge mode).
  *
  * Exactly-once without a transaction log, under BOTH failure modes:
  *
  *  - '''Replay''': Structured Streaming can only re-run the LAST
  *    batch (the one whose checkpoint commit may not have landed);
  *    earlier batches are committed and never re-fire. Compaction
  *    therefore folds strictly-older batches only
  *    (`batch_id < max present id`), so the one replayable batch
  *    still owns its partition and
  *    [[StreamingPipeline.writeBatchIdempotent]]'s overwrite contract
  *    holds unchanged.
  *  - '''Crash mid-compaction''': each generation directory is
  *    written in full (merged data + the `_manifest` file naming
  *    every batch id folded into it), and the ATOMIC CREATE of
  *    `_manifest` is the single commit point — readers use the
  *    highest generation that has one and ignore everything else.
  *    A crash before the manifest lands leaves an unreferenced
  *    half-built directory (deleted as debris by the next attempt);
  *    a crash after it leaves folded partitions and the superseded
  *    generation on disk — garbage readers already exclude, swept by
  *    the next compaction. There is no window in which a reader can
  *    see a fold twice or not at all.
  *
  * Readers go through [[readState]], which resolves the committed
  * generation + batch partitions not yet folded into it. A
  * [[MergeableState]] re-aggregates that view with the same typed
  * [[Merge]]s the fold uses ([[Merge.frame]]), so compaction commutes
  * with reads by the same associativity that makes the state
  * mergeable in the first place.
  */
object StateCompactor {

  private case class Gen(gen: Long, folded: Set[Long])

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genDir(path: String, g: Long) =
    s"$path/_consolidated/gen=$g"

  /** Highest generation with a committed `_manifest`, if any. */
  private def currentGen(spark: SparkSession, path: String): Option[Gen] = {
    val f = fs(spark, path)
    val root = new Path(s"$path/_consolidated")
    if (!f.exists(root)) return None
    val gens = f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("gen=") => s.stripPrefix("gen=").toLong }
      .sorted(Ordering[Long].reverse)
    gens.iterator.flatMap { g =>
      val mp = new Path(s"${genDir(path, g)}/_manifest")
      if (!f.exists(mp)) None
      else {
        val in = f.open(mp)
        try {
          val folded = scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).map(_.toLong).toSet
          Some(Gen(g, folded))
        } finally in.close()
      }
    }.nextOption()
  }

  private def batchIds(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch_id=") =>
        s.stripPrefix("batch_id=").toLong }
      .filter(_ >= 0)
  }

  /** The state AS VISIBLE after compaction: the committed
    * consolidated generation plus every batch partition not yet
    * folded into it. Columns: the state's own schema (no batch_id).
    */
  def readState(spark: SparkSession, path: String): DataFrame =
    readStateIfAny(spark, path).getOrElse(
      throw new IllegalStateException(s"no state at $path"))

  /** [[readState]] that yields None instead of throwing when the root
    * holds no state yet — for ingest twins whose read path must treat
    * an empty index as "nothing admitted" on the very first batch.
    * `excludeLive` drops those LIVE batch partitions from the view
    * (a pruned directory skip): [[SpanIngest]]'s replay contract,
    * where a replaying batch must not see its first run's own claims.
    * Ids already folded into a committed generation cannot be
    * excluded — erasure/compaction fold only in quiesced maintenance
    * slots, after which those ids are no longer replayable.
    */
  def readStateIfAny(spark: SparkSession, path: String,
      excludeLive: Set[Long] = Set.empty): Option[DataFrame] = {
    val g = currentGen(spark, path)
    val folded = g.fold(Set.empty[Long])(_.folded)
    val liveIds = batchIds(spark, path).filterNot(folded)
      .filterNot(excludeLive)
    val live =
      if (liveIds.isEmpty) None
      else Some(spark.read.parquet(path)
        .filter(col("batch_id").isin(liveIds: _*))
        .drop("batch_id"))
    val cons = g.map(x => spark.read.parquet(genDir(path, x.gen)))
    (live, cons) match {
      case (Some(l), Some(c)) =>
        Some(l.unionByName(c.select(l.columns.toIndexedSeq.map(col): _*)))
      case (Some(l), None) => Some(l)
      case (None, Some(c)) => Some(c)
      case (None, None) => None
    }
  }

  /** Fold every committed batch partition (strictly below the max
    * present id — the only replayable batch keeps its own) into the
    * next consolidated generation, re-aggregated by [[Merge.frame]]:
    * `groupBy(keys)` with each column's typed merge, or `distinct`
    * over the keys when `merges` is empty (set-valued state). Call
    * between batches (the maintenance slot Pinot's minion tasks use).
    * No-op when nothing is foldable.
    */
  def compactWith(spark: SparkSession, path: String, keys: Seq[String],
      merges: Seq[Merge]): Unit = {
    val f = fs(spark, path)
    val cur = currentGen(spark, path)
    val folded = cur.fold(Set.empty[Long])(_.folded)
    val present = batchIds(spark, path).filterNot(folded)
    if (present.size < 2) return // nothing strictly-older to fold
    val maxId = present.max
    val foldable = present.filter(_ < maxId)
    val parts = spark.read.parquet(path)
      .filter(col("batch_id").isin(foldable: _*))
      .drop("batch_id")
    val withOld = cur.fold(parts) { g =>
      parts.unionByName(spark.read.parquet(genDir(path, g.gen))
        .select(parts.columns.toIndexedSeq.map(col): _*))
    }
    val merged = Merge.frame(withOld, keys, merges)
    val nextG = cur.fold(1L)(_.gen + 1L)
    val next = new Path(genDir(path, nextG))
    f.delete(next, true) // debris from a previous crashed attempt
    merged.write.mode("overwrite").parquet(next.toString)
    // COMMIT POINT: atomic create of the manifest inside the new gen
    val out = f.create(new Path(s"$next/_manifest"), false)
    try out.write((folded ++ foldable).toSeq.sorted
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // garbage-collect folded partitions + superseded generations —
    // best-effort: leftovers are invisible to readers, never counted
    foldable.foreach(b => f.delete(new Path(s"$path/batch_id=$b"), true))
    cur.foreach(g => f.delete(new Path(genDir(path, g.gen)), true))
  }

  /** Targeted ERASURE over batch-id-partitioned ingest state — the
    * right-to-be-forgotten leg for the additive/monotone state roots
    * (the WAU (user, day) and co-visitation (user, type) sets), which [[graft.serving.Serving.eraseUser]]'s
    * recompute-touched-partitions pass cannot reach. Additive state
    * can't subtract, so the WHOLE visible state (committed
    * generation + every live batch partition) is folded into a new
    * generation with the matching rows filtered out; the manifest
    * create is the single atomic commit point, exactly as in
    * [[compactWith]] — a crash before it leaves debris readers
    * never see, a crash after it is complete.
    *
    * Unlike routine compaction this folds the MAX batch id too (the
    * erased rows must leave every partition), so it must run in a
    * QUIESCED maintenance slot — stream stopped or between committed
    * batches, the natural place for an offline erasure job. If the
    * runtime later replays that last batch anyway, its rewritten
    * partition is already in the manifest and stays invisible to
    * readers: the erased rows cannot resurface through replay, and
    * subsequent [[compactWith]] calls skip folded ids by
    * construction.
    *
    * No-op when the root has no state yet.
    */
  def eraseWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): Unit = {
    val cur = currentGen(spark, path)
    val present = batchIds(spark, path)
      .filterNot(cur.fold(Set.empty[Long])(_.folded))
    if (cur.isEmpty && present.isEmpty) return
    rewriteState(spark, path, readState(spark, path).filter(!pred))
  }

  /** Fold the WHOLE visible state (committed generation + every live
    * batch partition) into a new generation whose CONTENT is the
    * given frame — the generalization [[eraseWhere]] is the
    * filter-special-case of, for erasures that must REPLACE rather
    * than subset (an admission-hash index recomputed from the
    * retained corpus, a census rebuilt from its per-doc profiles).
    * Same commit discipline: the atomic `_manifest` create is the
    * single commit point; the manifest covers every present batch id,
    * so a later replay of the last batch rewrites an already-folded
    * (invisible) partition and cannot resurface erased rows. Must run
    * in a quiesced maintenance slot, exactly as [[eraseWhere]].
    *
    * `content` is fully materialized into the new generation BEFORE
    * any source partition is deleted, so it may read the old state
    * (or anything else); a crash before the manifest leaves debris
    * readers never see, and a re-run with the same content commits
    * the identical generation.
    */
  def rewriteState(spark: SparkSession, path: String,
      content: DataFrame): Unit = {
    val f = fs(spark, path)
    val cur = currentGen(spark, path)
    val folded = cur.fold(Set.empty[Long])(_.folded)
    val present = batchIds(spark, path).filterNot(folded)
    val nextG = cur.fold(1L)(_.gen + 1L)
    val next = new Path(genDir(path, nextG))
    f.delete(next, true) // debris from a previous crashed attempt
    content.write.mode("overwrite").parquet(next.toString)
    // COMMIT POINT: atomic create of the manifest inside the new gen
    val out = f.create(new Path(s"$next/_manifest"), false)
    try out.write((folded ++ present).toSeq.sorted
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    present.foreach(b => f.delete(new Path(s"$path/batch_id=$b"), true))
    cur.foreach(g => f.delete(new Path(genDir(path, g.gen)), true))
  }
}
