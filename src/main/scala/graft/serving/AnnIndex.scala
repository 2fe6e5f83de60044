package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** MATERIALIZED IVF index — the serving-layer analog for embeddings,
  * mirroring how [[Serving]] materializes ranked event tables: the
  * corpus is written once as parquet PARTITIONED BY coarse-quantizer
  * cell (vectors pre-cast to double, norms precomputed), and each
  * query batch reads only the cell partitions it probes.
  *
  * Pruning is Spark-native: the probe side (queries × nprobe cells)
  * broadcast-joins the index on the `cell` partition column, and
  * DYNAMIC PARTITION PRUNING turns the broadcast's cell set into a
  * runtime partition filter on the scan — at nprobe << nlist a
  * 1000-cell index reads nprobe directories, not the corpus, without
  * any driver-side collect of the query batch. AnnIndexSpec asserts
  * the dynamic-pruning expression is present in the scan and that
  * files read scale with nprobe.
  *
  * The layout also stores the MATRYOSHKA PREFIX as its own column
  * (`vp` = first `prefixDims` dims + its norm `np`, Kusupati et al.
  * 2022): parquet is columnar, so [[queryTruncated]]'s stage-1
  * prefilter scan reads ONLY the dims/prefixDims-smaller prefix
  * column — the storage-layer realization of the MRL "read 4× less"
  * claim — and fetches full vectors just for the candidate set.
  * `prefixDims` is recorded in a `_prefix_dims` manifest so appends
  * and truncated queries cannot silently slice at a different width.
  *
  * Same ranked-merge tail as [[graft.ops.Ann.ivfKnn]] (per-query
  * window over candidates), so exhaustive probe (nprobe = nlist) is
  * bit-identical to brute force — which is what the gate hash-checks.
  */
object AnnIndex {

  val defaultPrefixDims = 16

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writePrefixMeta(spark: SparkSession, root: String,
      prefixDims: Int): Unit = {
    val f = fs(spark, root)
    val out = f.create(
      new org.apache.hadoop.fs.Path(s"$root/_prefix_dims"), true)
    try out.write(prefixDims.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The prefix width this index was built with ([[materialize]]'s
    * manifest) — the single source of truth for append/query slicing.
    */
  def prefixDims(spark: SparkSession, root: String): Int = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/_prefix_dims")
    // a root without the manifest predates the stored-prefix layout —
    // its rows also lack the vp/np columns, so backfilling just the
    // manifest would claim a prefix the data cannot serve; the fix is
    // a ONE-TIME materialize() rebuild, stated here rather than
    // discovered as a null-column failure three operators later
    require(f.exists(p),
      s"no _prefix_dims manifest under $root: this index was " +
        "materialized before the stored-prefix layout (no vp/np " +
        "columns). Rebuild it once with AnnIndex.materialize(...) " +
        "before appending or querying truncated.")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  private def staged(emb: DataFrame, centroids: Seq[Seq[Double]],
      idCol: String, vecCol: String, prefixDims: Int): DataFrame =
    emb.select(
        col(idCol).as("vec_id"),
        Vectors.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
      .withColumn("vp", slice(col("v"), 1, prefixDims))
      .withColumn("np", Vectors.norm(col("vp")))
      .withColumn("cell", Vectors.nearestCentroid(col("v"), centroids).cast("int"))

  /** Write the index: one parquet directory per cell. Rewriting an
    * existing root replaces it atomically per partition (overwrite).
    * The coarse codebook is stored WITH the index (`_centroids`,
    * underscore-prefixed so corpus scans never see it) — the index
    * root is self-describing, which is what makes a staged
    * [[reindex]] atomic: data and codebook swap under one manifest,
    * and [[queryStored]] can never probe new cells with an old
    * caller-held codebook.
    */
  def materialize(emb: DataFrame, centroids: Seq[Seq[Double]], root: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      prefixDims: Int = defaultPrefixDims): Unit = {
    staged(emb, centroids, idCol, vecCol, prefixDims)
      .write.mode("overwrite").partitionBy("cell").parquet(root)
    writePrefixMeta(emb.sparkSession, root, prefixDims)
    centroidFrame(emb.sparkSession, centroids)
      .write.mode("overwrite").parquet(s"$root/_centroids")
  }

  private def centroidFrame(spark: SparkSession,
      centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cell", "cv")
  }

  /** The codebook this index was built (or last [[reindex]]ed) with,
    * ordered by cell id — the driver-side metadata a FAISS index
    * carries in its header.
    */
  def storedCentroids(spark: SparkSession, root: String): Seq[Seq[Double]] = {
    // recover first: after a crash mid-reindex the staged manifest
    // holds the NEW codebook — reading the old `_centroids` and then
    // letting a later query() recover would probe new cells with the
    // old book
    EraseStage.recover(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/_centroids")
    require(fs(spark, root).exists(p),
      s"no _centroids table under $root: this index predates the " +
        "stored-codebook layout; rebuild once with AnnIndex.materialize")
    spark.read.parquet(p.toString).orderBy(col("cell").asc)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
  }

  /** [[query]] with the index's OWN stored codebook — the serving
    * shape after a [[reindex]]: callers hold no centroids, so a
    * codebook refresh can never leave a query probing new cell
    * assignments with old centroids.
    */
  def queryStored(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame =
    query(spark, root, queries, storedCentroids(spark, root), k, nprobe,
      idCol, vecCol, broadcastQueries)

  /** CODEBOOK REFRESH under staged commit — the FAISS-at-scale
    * reindex: appends are frozen-codebook by design, so after enough
    * drift ([[graft.queries.EmbedQueries]]'s `q_embed_drift` is the
    * detector) the coarse quantizer is RETRAINED (the caller trains
    * `newCentroids` on the current corpus — [[graft.ops.KMeans
    * .refinedCentroids]] or [[graft.ops.Ann.coarseCentroids]]), every
    * vector re-encoded into its new cell, and the whole root swapped
    * in ONE [[EraseStage]] manifest:
    *
    *  - leg 1 (Swap): the re-encoded corpus, affected = old ∪ new
    *    cell values — old cell directories drop, re-encoded rows land
    *    in the new ones;
    *  - leg 2 (Overwrite `_centroids`): the new codebook.
    *
    * The staged writes are durable and INVISIBLE (underscore dir)
    * while they build, so queries during the stage serve the OLD
    * index from the OLD codebook; the manifest commit is the atomic
    * cutover, and a crash mid-apply recovers on the next read
    * ([[query]]/[[queryTruncated]] run [[EraseStage.recover]]) to the
    * complete new index — never a mix of codebooks and cells. Vector
    * content is unchanged: an exhaustive probe answers identically
    * before and after (the gate's hash check).
    */
  def reindex(spark: SparkSession, root: String,
      newCentroids: Seq[Seq[Double]]): Unit = {
    EraseStage.recover(spark, root)
    EraseStage.run(spark, root, reindexLegs(spark, root, newCentroids))
  }

  /** The staged legs [[reindex]] commits — the seam the crash spec
    * stages through to leave the index exactly at the manifest commit
    * and assert the next read serves the COMPLETE new index.
    */
  private[graft] def reindexLegs(spark: SparkSession, root: String,
      newCentroids: Seq[Seq[Double]]): Seq[(EraseStage.Leg, DataFrame)] = {
    val pd = prefixDims(spark, root)
    val index = spark.read.parquet(root)
    val oldCells = index.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val reEncoded = index
      .select(col("vec_id"), col("v"), col("nrm"))
      .withColumn("vp", slice(col("v"), 1, pd))
      .withColumn("np", Vectors.norm(col("vp")))
      .withColumn("cell",
        Vectors.nearestCentroid(col("v"), newCentroids).cast("int"))
    val affected = (oldCells ++ newCentroids.indices).distinct.sorted
    Seq(
      EraseStage.Swap("", "cell", affected.map(_.toString)) -> reEncoded,
      EraseStage.Overwrite("_centroids") ->
        centroidFrame(spark, newCentroids))
  }

  /** Incrementally add vectors to an existing index WITHOUT a
    * rebuild: new rows are quantized with the SAME centroids (cell
    * assignment is append-stable — a coarse quantizer is fixed at
    * index build, as in any production IVF) and appended as new
    * parquet files inside their cell directories; the prefix width
    * comes from the index's own manifest. Idempotent under replay:
    * ids already present are dropped by an anti-join against the
    * existing index before the write, so a re-delivered batch adds
    * nothing — the same at-least-once-to-exactly-once pattern as
    * [[Serving]]'s batch-id guard, keyed on content instead.
    */
  def append(spark: SparkSession, root: String, newEmb: DataFrame,
      centroids: Seq[Seq[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      bootstrapPrefixDims: Int = defaultPrefixDims): Unit = {
    // absent root = empty index (first streaming append bootstraps
    // the layout) — one FS existence RPC, like IncrementalDedup's
    // band-index read
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark, root)
    // an existing-but-EMPTY directory (a pre-created temp/mount point)
    // is a fresh index, not a pre-manifest layout
    val exists = f.exists(p) && f.listStatus(p).nonEmpty
    val pd = if (exists) prefixDims(spark, root) else bootstrapPrefixDims
    val existing =
      if (exists) spark.read.parquet(root).select(col("vec_id"))
      else spark.range(0).select(col("id").as("vec_id"))
    staged(newEmb, centroids, idCol, vecCol, pd)
      .join(existing, Seq("vec_id"), "left_anti")
      .write.mode("append").partitionBy("cell").parquet(root)
    if (!exists) writePrefixMeta(spark, root, pd)
  }

  /** Top-k cosine neighbors for each query row against the
    * materialized index, probing each query's `nprobe` nearest cells.
    * Output: (query_id, rank, neighbor_id) — ids only, like the other
    * ANN entry points.
    *
    * `broadcastQueries` (the [[PqIndex.query]] switch): true is the
    * serving shape — the probe side broadcasts and DYNAMIC PARTITION
    * PRUNING reads only the probed cell directories. false is the
    * offline all-vs-index shape — the probe side SHUFFLES on the cell
    * key instead, for query datasets too large to broadcast; an
    * offline volume probes most cells anyway, so the lost pruning is
    * the serving optimization, not a correctness trade (results are
    * identical — AnnIndexSpec asserts parity on a 10k-query frame).
    */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      centroids: Seq[Seq[Double]], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastQueries: Boolean = true): DataFrame = {
    // READ-PATH recovery (one FS existence check; this index caches
    // no frames, so the check rides every query): a crash mid-apply
    // of a staged erase/compaction no longer serves holed cells until
    // the next maintenance op happens to run
    EraseStage.recover(spark, root)
    val index = spark.read.parquet(root)
    val q = queries.select(
        col(idCol).as("query_id"),
        Vectors.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", Vectors.norm(col("qv")))
    val sims = centroids.zipWithIndex.map { case (cen, i) =>
      struct(Vectors.cosine(col("qv"), array(cen.map(lit(_)): _*)).as("sim"),
        lit(i).as("cell"))
    }
    val probed = q
      .withColumn("probe", slice(reverse(array_sort(array(sims: _*))), 1, nprobe))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("probe.cell")).as("cell"))
    val probeSide = if (broadcastQueries) broadcast(probed) else probed
    val scored = index.join(probeSide, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", Vectors.dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }

  /** Targeted VECTOR ERASURE — the embedding-side leg of
    * right-to-be-forgotten ([[Serving.eraseUser]]'s discipline
    * applied to the IVF layout): the cells containing the erased ids
    * are found with one id-filtered scan (bounded: cell list ≤
    * nlist), the kept rows of ONLY those cells are staged DURABLY
    * and committed via [[EraseStage]]'s manifest BEFORE the cell
    * directories drop, then appended back — executor/JVM loss
    * between the deletes and the append no longer loses kept vectors
    * (the staged state is detectable; [[EraseStage.recover]], run at
    * the start of every erase or explicitly at startup, completes
    * it). A cell whose every vector is erased stays deleted.
    * Untouched cells are neither read nor written. Quiesced
    * maintenance op. Idempotent: re-erasing absent ids finds no
    * cells and no-ops.
    */
  def erase(spark: SparkSession, root: String, vecIds: Seq[Long]): Unit = {
    if (vecIds.isEmpty) return
    EraseStage.recover(spark, root)
    val legs = eraseLegs(spark, root, vecIds)
    if (legs.isEmpty) return
    EraseStage.run(spark, root, legs)
    legs.foreach(l => graft.ops.NearDup.releaseCheckpoint(l._2))
  }

  /** The staged legs [[erase]] commits — the seam the read-path
    * recovery specs use to crash exactly at the manifest commit and
    * assert a plain [[query]] completes the erase.
    */
  private[graft] def eraseLegs(spark: SparkSession, root: String,
      vecIds: Seq[Long]): Seq[(EraseStage.Leg, DataFrame)] = {
    val index = spark.read.parquet(root)
    val cells = index.filter(col("vec_id").isin(vecIds: _*))
      .select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return Seq.empty
    val keep = index.filter(col("cell").isin(cells: _*))
      .filter(!col("vec_id").isin(vecIds: _*))
      .localCheckpoint(true)
    Seq(EraseStage.Swap("", "cell", cells.map(_.toString)) -> keep)
  }

  /** Small-file maintenance for an always-appending IVF ingest
    * ([[append]] on 10 s [[graft.streaming.StreamRunner]] triggers leaves one
    * parquet file per cell per batch): every cell directory holding
    * at least `minFiles` files rewrites as one file, via
    * [[EraseStage]]'s staged commit — kept vectors are durable before
    * any directory drops, so a crash mid-compact is recoverable.
    * Unfragmented cells are neither read nor written; queries and
    * appends see identical content (same rows, same columns, fewer
    * files). Returns the compacted cell ids.
    */
  def compactCells(spark: SparkSession, root: String,
      minFiles: Int = 8): Seq[String] =
    EraseStage.compactFragmented(spark, root, "", "cell", minFiles)

  /** Matryoshka-prefix top-k against the materialized index
    * ([[graft.ops.Ann.truncatedKnn]]'s two-stage semantics, served):
    * stage 1 ranks the WHOLE index by prefix cosine reading only the
    * small (vec_id, vp, np) columns — the prefilter scan never
    * touches the full vector column, which is what makes the pass
    * dims/prefixDims cheaper at the storage layer — and keeps
    * `candidates` rows per query; stage 2 broadcast-joins that
    * bounded candidate set back to the index to fetch (v, nrm) and
    * re-ranks with the exact full-dimension cosine. Both stages
    * tie-break by id, so the composition is deterministic and shares
    * the in-memory operator's two-stage mirror oracle. The query's
    * slice width comes from the index manifest — a mismatched build
    * cannot silently compare different prefixes.
    */
  def queryTruncated(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, candidates: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    EraseStage.recover(spark, root) // the [[query]] read-path check
    val pd = prefixDims(spark, root)
    val q = queries.select(
        col(idCol).as("query_id"),
        Vectors.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", Vectors.norm(col("qv")))
      .withColumn("qp", slice(col("qv"), 1, pd))
      .withColumn("qpn", Vectors.norm(col("qp")))
    val pre = spark.read.parquet(root).select(col("vec_id"), col("vp"), col("np"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_p").desc, col("vec_id").asc)
    val cand = pre.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim_p",
        Vectors.dot(col("vp"), col("qp")) / (col("np") * col("qpn")))
      .withColumn("rp", row_number().over(wp))
      .filter(col("rp") <= candidates)
      .select(col("query_id"), col("vec_id"), col("qv"), col("qn"))
    val full = spark.read.parquet(root).select(col("vec_id"), col("v"), col("nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    full.join(broadcast(cand), Seq("vec_id"))
      .withColumn("sim", Vectors.dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"))
  }
}
