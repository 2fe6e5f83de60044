package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** How one state column re-aggregates across batch partials. Only
  * associative and commutative merges exist here — the algebra that
  * lets a partial from any split of the input, in any arrival order,
  * fold to the same state (the reference's Flink `AggregateFunction`
  * merge, TopKStreamingJob.kt:122-147).
  */
sealed trait Merge {
  def column: String
  def agg: Column
}

object Merge {
  final case class Sum(column: String) extends Merge {
    def agg: Column = sum(col(column)).as(column)
  }
  final case class Max(column: String) extends Merge {
    def agg: Column = max(col(column)).as(column)
  }
  final case class Min(column: String) extends Merge {
    def agg: Column = min(col(column)).as(column)
  }
  /** Sketch-valued state (the rollup segments' `users_hll`): union is
    * the sketch's own associative merge.
    */
  final case class HllUnion(column: String) extends Merge {
    def agg: Column = hll_union_agg(col(column)).as(column)
  }

  /** Re-aggregate partials at the state's grain: `groupBy(keys)` with
    * each column's merge, or `distinct` over the keys when `merges` is
    * empty (set-valued state). The one definition both the read path
    * and [[StateCompactor.compactWith]] use, so a compacted generation
    * and a live read can never disagree on the merge.
    */
  def frame(state: DataFrame, keys: Seq[String], merges: Seq[Merge]): DataFrame =
    if (merges.isEmpty) state.select(keys.map(col): _*).distinct()
    else state.groupBy(keys.map(col): _*)
      .agg(merges.head.agg, merges.tail.map(_.agg): _*)
}

/** A purely mergeable ingest state: each micro-batch appends its
  * `partial` under its own `batch_id` partition
  * ([[StreamingPipeline.writeBatchIdempotent]] — a replayed batch
  * overwrites its partition bit-identically), and every read merges
  * the partials at `keys` with `merges`. Because the merges are
  * associative and commutative, `read` after any split of the input,
  * in any arrival order, equals `merge(partial(all input))` — the
  * batch op — and [[StateCompactor]]'s folds commute with reads.
  *
  * Scale contract: `partial` is the map-side pass over the only big
  * thing (raw rows); the stored state is bounded by the key domain ×
  * live batches, and derivations run over the merged frame.
  */
final case class MergeableState(partial: DataFrame => DataFrame,
    keys: Seq[String], merges: Seq[Merge]) {

  def append(batch: DataFrame, batchId: Long, root: String): Unit =
    StreamingPipeline.writeBatchIdempotent(partial(batch), batchId, root)

  def merge(state: DataFrame): DataFrame = Merge.frame(state, keys, merges)

  /** The merged state AS OF everything appended (generation + live
    * batch partitions, [[StateCompactor.readState]]).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    merge(StateCompactor.readState(spark, root))

  /** Fold committed batch partitions (replay/crash-safe maintenance
    * slot — [[StateCompactor.compactWith]]).
    */
  def compact(spark: SparkSession, root: String): Unit =
    StateCompactor.compactWith(spark, root, keys, merges)

  /** Right-to-be-forgotten for state whose rows carry the erased key
    * (quiesced maintenance slot — [[StateCompactor.eraseWhere]]).
    */
  def eraseWhere(spark: SparkSession, root: String, pred: Column): Unit =
    StateCompactor.eraseWhere(spark, root, pred)

  /** Append `batches` in order as batch ids 0.. into a fresh root and
    * read the merged state — the foreachBatch body driven directly,
    * the harness of the stream gates.
    */
  def replay(spark: SparkSession, batches: Seq[DataFrame]): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    batches.zipWithIndex.foreach { case (b, i) => append(b, i.toLong, root) }
    read(spark, root)
  }
}

/** Two additive roots fed by one batch: per-doc `profile` rows (doc_id
  * plus the profile key and count — row-disjoint across batches, so a
  * replay overwrites bit-exactly) and a corpus `census` that is BY
  * CONSTRUCTION `census(profile)`. The LM bigram census, the tokenizer
  * word census and the boilerplate segment counts share this shape.
  */
final case class CensusState(profile: DataFrame => DataFrame,
    census: DataFrame => DataFrame) {

  /** Append the batch's profile and its census delta under `batchId`. */
  def append(batch: DataFrame, batchId: Long, profilePath: String,
      censusPath: String): Unit = {
    val p = profile(batch).persist()
    try {
      StreamingPipeline.writeBatchIdempotent(p, batchId, profilePath)
      StreamingPipeline.writeBatchIdempotent(census(p), batchId, censusPath)
    } finally { p.unpersist(); () }
  }

  /** Right-to-be-forgotten: additive state can't subtract, so the
    * census is REBUILT from the profiles minus the victim, then the
    * victim's profile rows fold out. Both folds are manifest-committed
    * generations ([[StateCompactor.rewriteState]] /
    * [[StateCompactor.eraseWhere]]), and the ORDER makes a crash
    * between them re-run-recoverable: census first, recomputed from
    * the not-yet-erased profiles — a re-run recomputes the identical
    * census and recommits it, never double-subtracting. After both,
    * reads equal a rebuild over the corpus without the doc.
    */
  def eraseDoc(spark: SparkSession, profilePath: String, censusPath: String,
      docId: Long): Unit = {
    StateCompactor.rewriteState(spark, censusPath,
      census(StateCompactor.readState(spark, profilePath)
        .filter(col("doc_id") =!= docId)))
    StateCompactor.eraseWhere(spark, profilePath, col("doc_id") === docId)
  }
}
