package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Merge, MergeableState, StateCompactor}

/** Corpus distribution-drift audit — the data-quality monitor a
  * training pipeline runs between a reference snapshot and a fresh
  * crawl before mixing them: per categorical feature, the total
  * variation distance between the two corpora's value distributions,
  * in EXACT integer permille (2·TVD ∈ [0, 2000]: 0 = identical
  * proportions, 2000 = disjoint supports), plus the single most
  * drifted value. Continuous features enter through a deterministic
  * integer bucketing (the repo's log-histogram kernel,
  * [[graft.serving.Serving.logBucket]]) — same buckets on any
  * engine, no float edges.
  *
  * Proportions are truncated integer permille (c·1000 DIV n), so the
  * whole audit is a pure integer function of the two corpora and
  * hash-checks cross-engine — the property PSI/KL-style float scores
  * give up (and their log() blows up on empty buckets; TVD doesn't).
  *
  * Scale shape: ONE (feature, value)-keyed count exchange with
  * map-side partial aggregation (features unioned via a narrow
  * generator, both corpora counted in the same pass with conditional
  * sums — the data is read ONCE); per-feature totals and the final
  * argmax reduce over the bounded (feature × value-domain) count
  * table. Nothing wide carries text.
  */
object Drift {

  /** `features`: (name, expression) pairs — each expression is
    * evaluated per row and cast to string (bucket continuous values
    * first). `isRef` labels the reference corpus; the rest is the
    * fresh one. Returns one row per feature:
    * (feature, tvd_permille, top_value, top_delta_permille).
    */
  def audit(docs: DataFrame, isRef: Column,
      features: Seq[(String, Column)], weight: Column = lit(1L)): DataFrame = {
    val s = countState(isRef, features, weight)
    auditFromCounts(s.merge(s.partial(docs)))
  }

  /** The additive (feature, value, ca, cb) count table — ca =
    * reference-corpus mass, cb = fresh mass carrying that feature
    * value; `weight` is each row's mass (1 = doc counts; a token
    * count makes proportions token-mass shares — the drift a mixture
    * planner cares about). Counts built per batch MERGE additively
    * (union + re-sum) to exactly the full-corpus counts, the
    * property [[countState]] rests on.
    */
  def featureCounts(docs: DataFrame, isRef: Column,
      features: Seq[(String, Column)], weight: Column = lit(1L)): DataFrame = {
    require(features.nonEmpty, "at least one feature")
    docs
      .select(isRef.as("_ref"), weight.cast("long").as("_w"),
        explode(array(features.map { case (n, c) =>
          struct(lit(n).as("feature"), c.cast("string").as("value"))
        }: _*)).as("fv"))
      .select(col("_ref"), col("_w"),
        col("fv.feature").as("feature"), col("fv.value").as("value"))
      .groupBy(col("feature"), col("value"))
      .agg(sum(when(col("_ref"), col("_w")).otherwise(0L)).as("ca"),
        sum(when(col("_ref"), 0L).otherwise(col("_w"))).as("cb"))
  }

  /** The drift counts as MERGEABLE ingest state — the monitor a
    * pipeline runs CONTINUOUSLY while a fresh crawl lands next to the
    * frozen reference: each micro-batch appends its bounded
    * per-(feature, value) count delta (map-side partial aggregation,
    * nothing row-sized persists), and the audit re-derives from the
    * re-summed deltas. Weighted sums are as additive as counts, so the
    * token-mass monitor streams identically.
    */
  def countState(isRef: Column, features: Seq[(String, Column)],
      weight: Column = lit(1L)): MergeableState =
    MergeableState(featureCounts(_, isRef, features, weight),
      Seq("feature", "value"), Seq(Merge.Sum("ca"), Merge.Sum("cb")))

  /** Right-to-be-forgotten over [[countState]]: the (feature, value)
    * deltas carry no doc dimension, so the erased doc's mass can only
    * leave by rebuilding the counts from the retained corpus —
    * [[StateCompactor.rewriteState]]'s manifest-committed fold, the
    * [[graft.serving.ImportanceProfile]] contract: `docs`/`isRef`/
    * `features`/`weight` must be the same frame and definitions the
    * ingest used. Idempotently re-runnable (same retained corpus →
    * same generation content); replayed folded batches stay invisible.
    */
  def eraseDoc(spark: SparkSession, countsPath: String, docs: DataFrame,
      docId: Long, isRef: Column, features: Seq[(String, Column)],
      weight: Column = lit(1L)): Unit =
    StateCompactor.rewriteState(spark, countsPath, featureCounts(
      docs.filter(col("doc_id") =!= docId), isRef, features, weight))

  /** The TVD audit derived from a merged (feature, value, ca, cb)
    * count table.
    */
  def auditFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    def idiv(a: Column, b: Column) =
      column(IntegralDivide(expression(a), expression(b))).cast("long")
    val totals = counts.groupBy(col("feature"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // a zero-mass corpus (possible after erasure cancels a side's
    // deltas) is the zero measure: its share is 0 permille, so the
    // feature's TVD degenerates to the other side's total (≈1000) —
    // defined identically in the DuckDB oracle, instead of the NULL
    // an IntegralDivide-by-zero would yield
    def share(c: Column, n: Column) =
      when(n > 0L, idiv(c * 1000L, n)).otherwise(lit(0L))
    counts
      .join(broadcast(totals), Seq("feature"))
      .withColumn("delta", abs(share(col("ca"), col("na")) - share(col("cb"), col("nb"))))
      .groupBy(col("feature"))
      .agg(sum(col("delta")).cast("long").as("tvd_permille"),
        // (delta DESC, value ASC) via min of the inverted struct —
        // deterministic ties, one shuffle
        min(struct((-col("delta")).as("nd"), col("value").as("v"))).as("m"))
      .select(col("feature"), col("tvd_permille"),
        col("m.v").as("top_value"), (-col("m.nd")).cast("long").as("top_delta_permille"))
  }
}
