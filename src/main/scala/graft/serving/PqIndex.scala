package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{KMeans, NearDup}

/** MATERIALIZED IVFADC index — the PQ twin of [[AnnIndex]] and the
  * layout a billion-vector serving tier actually stores (FAISS's
  * IVFADC on disk: m bytes of codes per vector instead of dim floats;
  * Jégou et al. TPAMI'11 §V): the residual-PQ code table is written
  * once as parquet PARTITIONED BY coarse cell, the two codebooks ride
  * along as bounded metadata rows, and every query batch reads only
  * the `nprobe` cell directories it probes.
  *
  * Pruning is the [[AnnIndex]] mechanism: the probe side broadcasts
  * per-(query, probed-cell) LUT rows joined on the `cell` PARTITION
  * column, and dynamic partition pruning turns that broadcast into a
  * runtime directory filter on the codes scan — no driver-side query
  * handling, files read scale with nprobe not corpus size
  * (PqIndexSpec asserts both). Queries execute ADC over the stored
  * codes via [[KMeans.ivfAdcQuery]] unchanged, so the served result
  * is bit-identical to the in-memory index's — which is what the
  * gate hash-checks.
  *
  * Append absorbs new vectors with FROZEN codebooks
  * ([[KMeans.stagedCodes]]): encoded rows land as new files inside
  * their cell directories, ids already present drop out first —
  * replay-idempotent, per-cell, no rebuild (the realtime-segment
  * append discipline every serving structure here follows).
  */
object PqIndex {

  /** Build the index from scratch (overwrites `root`). */
  def materialize(spark: SparkSession, corpus: DataFrame, root: String,
      coarseK: Int = 8, m: Int = 16, k: Int = 64, scale: Long = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val idx = KMeans.ivfAdcIndex(corpus, coarseK, m, k, scale, idCol, vecCol)
    RootCache.bumpToken(spark, root)
    idx.codes
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes")
    val cb = idx.coarse.zipWithIndex.map { case (v, i) => ("coarse", i, v) } ++
      idx.subCB.zipWithIndex.map { case (v, i) => ("sub", i, v) }
    import spark.implicits._
    cb.toDF("kind", "idx", "vec").withColumn("m", lit(idx.m))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
    RootCache.invalidate(spark, root)
  }

  /** Rehydrate codebooks (bounded driver metadata — k·dim longs, the
    * same class as IVF centroids) + the lazily-read code table, once
    * per root generation ([[RootCache]]; a cached codes plan pins the
    * file listing of its read time, so every write here invalidates).
    */
  def load(spark: SparkSession, root: String): KMeans.IvfAdcIndex =
    RootCache.get(spark, root, "index") {
      val rows = spark.read.parquet(s"$root/codebooks").collect()
      def grab(kind: String): Seq[Seq[Long]] = rows
        .filter(_.getAs[String]("kind") == kind)
        .sortBy(_.getAs[Int]("idx"))
        .map(r => r.getSeq[Long](r.fieldIndex("vec")).toSeq).toSeq
      KMeans.IvfAdcIndex(spark.read.parquet(s"$root/codes"),
        grab("coarse"), grab("sub"), rows.head.getAs[Int]("m"))
    }

  /** Incrementally admit new vectors: frozen-codebook encode, ids
    * already present dropped, new files appended inside their cell
    * directories. Idempotent under at-least-once replay.
    */
  def append(spark: SparkSession, root: String, newVecs: DataFrame,
      scale: Long = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val codes = KMeans.stagedCodes(load(spark, root), newVecs, scale, idCol, vecCol)
    RootCache.bumpToken(spark, root)
    codes.write.mode("append").partitionBy("cell").parquet(s"$root/codes")
    RootCache.invalidate(spark, root)
  }

  /** Small-file maintenance for the appended code table — the
    * [[AnnIndex.compactCells]] twin over `codes/cell=` directories
    * (same staged commit, same fragmentation threshold, same
    * identical-content contract). Returns the compacted cell ids.
    */
  def compactCells(spark: SparkSession, root: String,
      minFiles: Int = 8): Seq[String] = {
    val done = EraseStage.compactFragmented(spark, root, "codes", "cell", minFiles)
    if (done.nonEmpty) {
      RootCache.bumpToken(spark, root)
      RootCache.invalidate(spark, root)
    }
    done
  }

  /** Targeted VECTOR ERASURE — the PQ-code leg of
    * right-to-be-forgotten ([[AnnIndex.erase]]'s discipline on the
    * codes table): a vector's PQ code is still derived personal data,
    * so the cells holding the erased ids rewrite without them (kept
    * rows MATERIALIZED before the cell directories drop; a cell the
    * erased ids fully owned stays deleted; untouched cells are
    * neither read nor written). Codebooks are corpus-level aggregates
    * trained on many vectors — they stay, like the coarse quantizer
    * after any erase. Quiesced maintenance op; crash mid-erase is
    * recoverable from the durable stage ([[EraseStage.recover]],
    * run at the start of every erase). Absent ids no-op.
    */
  def erase(spark: SparkSession, root: String, vecIds: Seq[Long]): Unit = {
    if (vecIds.isEmpty) return
    if (EraseStage.recover(spark, root)) RootCache.invalidate(spark, root)
    val legs = eraseLegs(spark, root, vecIds)
    if (legs.isEmpty) return
    // staged-commit swap (EraseStage): kept rows are durable before
    // the cell directories drop — crash mid-erase is recoverable
    RootCache.bumpToken(spark, root)
    EraseStage.run(spark, root, legs)
    legs.foreach(l => NearDup.releaseCheckpoint(l._2))
    RootCache.invalidate(spark, root)
  }

  /** The staged legs [[erase]] commits — the seam the read-path
    * recovery specs use to crash exactly at the manifest commit and
    * assert a plain [[load]]/[[query]] completes the erase.
    */
  private[graft] def eraseLegs(spark: SparkSession, root: String,
      vecIds: Seq[Long]): Seq[(EraseStage.Leg, DataFrame)] = {
    val codes = spark.read.parquet(s"$root/codes")
    val cells = codes.filter(col("vec_id").isin(vecIds: _*))
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (cells.isEmpty) return Seq.empty
    val keep = codes.filter(col("cell").isin(cells: _*))
      .filter(!col("vec_id").isin(vecIds: _*))
      .localCheckpoint(true)
    Seq(EraseStage.Swap("codes", "cell", cells.map(_.toString)) -> keep)
  }

  /** CODEBOOK REFRESH under staged commit — [[AnnIndex.reindex]]'s
    * twin for the PQ layout, with one structural difference: PQ codes
    * are LOSSY (m bytes per vector), so re-encoding needs the SOURCE
    * corpus back, exactly as a FAISS reindex does. Both codebooks
    * (coarse + sub-quantizers) retrain on the given corpus via the
    * same deterministic integer-grid trainer the build uses, every
    * vector re-encodes, and codes + codebooks swap under ONE
    * [[EraseStage]] manifest — queries during the stage serve the old
    * index from the old books; a crash at the manifest recovers to
    * the complete new one (load/query recover first), never new codes
    * under old books. The corpus is guarded against silent shrink: a
    * frame missing any STORED vec_id refuses loudly (the
    * [[Serving.eraseUser]] stale-frame discipline) — reindex refreshes
    * codebooks, it must never become an accidental erase.
    */
  def reindex(spark: SparkSession, corpus: DataFrame, root: String,
      coarseK: Int = 8, m: Int = 16, k: Int = 64, scale: Long = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    if (EraseStage.recover(spark, root)) RootCache.invalidate(spark, root)
    val stored = spark.read.parquet(s"$root/codes")
    val missing = stored.select(col("vec_id"))
      .join(corpus.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_anti")
      .count()
    require(missing == 0L,
      s"reindex corpus is missing $missing stored vector(s) of $root — " +
        "a stale/partial corpus would silently erase them; erase " +
        "explicitly via PqIndex.erase, then reindex")
    val oldCells = stored.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx = KMeans.ivfAdcIndex(corpus, coarseK, m, k, scale, idCol, vecCol)
    val cb = idx.coarse.zipWithIndex.map { case (v, i) => ("coarse", i, v) } ++
      idx.subCB.zipWithIndex.map { case (v, i) => ("sub", i, v) }
    import spark.implicits._
    val cbDf = cb.toDF("kind", "idx", "vec").withColumn("m", lit(idx.m))
    val affected = (oldCells ++ (0 until coarseK)).distinct.sorted
    RootCache.bumpToken(spark, root)
    EraseStage.run(spark, root, Seq(
      EraseStage.Swap("codes", "cell", affected.map(_.toString)) -> idx.codes,
      EraseStage.Overwrite("codebooks") -> cbDf))
    RootCache.invalidate(spark, root)
  }

  /** Probe + ADC-rank a query batch against the stored codes —
    * [[KMeans.ivfAdcQuery]] over the loaded index, inheriting its
    * everything-in-the-engine query side and cell equi-join.
    */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      topK: Int, nprobe: Int = 4, scale: Long = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame =
    KMeans.ivfAdcQuery(load(spark, root), queries, topK, nprobe, scale,
      idCol, vecCol, broadcastQueries)
}
