package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Ann

/** Similarity-search queries over the `embeddings` table
  * (array<float> 64-dim vectors + cluster label).
  *
  * Outputs carry ids and ranks only — cosine values themselves never
  * leave the engine, so float representation differences between
  * engines can't break the hash compare (ordering is the only shared
  * contract, and the corpus has clear similarity gaps).
  */
object EmbedQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Exact brute-force cosine top-5 neighbors for query rows
    * (vec_id < 10). The baseline ANN oracle.
    */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** Matryoshka-prefix KNN ([[graft.ops.Ann.truncatedKnn]]): 16-dim
    * prefix cosine keeps 50 candidates per query, exact 64-dim
    * rerank to top-5 — both stages replayed in the oracle.
    */
  def knnTruncated(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.truncatedKnn(emb, emb.filter(col("vec_id") < 10), k = 5,
      prefixDims = 16, candidates = 50)
  }

  /** Hard-negative mining ([[graft.ops.Ann.hardNegatives]]): top-3
    * most-similar-but-below-0.4 rows per anchor — the near-dup band
    * (the `q_embed_near_dup` threshold) is excluded as presumed
    * unlabeled positives.
    */
  def hardNegativesTop3(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 3, maxSim = 0.4)
  }

  private val centroids = new graft.FpMemo[Seq[Seq[Double]]]()

  /** The shared untrained coarse quantizer (16 lowest-id embeddings,
    * [[graft.FpMemo]]). One helper, one cell count — the IVF,
    * served-IVF, and SemDeDup entries must all quantize identically
    * or the per-entry oracles diverge.
    */
  private def cachedCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    centroids.get(spark, s"$dir/embeddings.parquet")(
      Ann.coarseCentroids(Tables.embeddings(spark, dir), nCells = 16))

  /** The shared coarse quantizer, exposed for cross-family serving
    * compositions (hybrid search's dense leg probes the same
    * materialized IVF index as `q_embed_knn_served`).
    */
  private[graft] def annCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    cachedCentroids(spark, dir)

  /** IVF top-5 for the same queries (16 cells) — the 100 TB scale
    * path. Centroids (16 bounded driver rows — index metadata, like a
    * real IVF index's coarse quantizer) are cached per dataset so
    * serving calls skip the training job.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvfProbe(spark, dir, nprobe = 16)

  /** IVF with a caller-chosen probe width. The gate entry probes ALL
    * 16 cells — exhaustive probe makes IVF exactly equal to brute
    * force (the standard nprobe=nlist identity), so the whole IVF
    * machinery (cell assignment, per-cell sharded equi-join, ranked
    * merge) is hash-checked against the brute-force oracle; the
    * approximate operating point (nprobe << nlist) is covered by
    * AnnSpec's recall assertions.
    */
  def knnIvfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.ivfKnn(emb, emb.filter(col("vec_id") < 10), k = 5,
      centroids = cachedCentroids(spark, dir), nprobe = nprobe)
  }

  private val indexCache = new graft.FpMemo.TempRoots("graft_ann_index", "embeddings")

  /** KNN served from the MATERIALIZED IVF index
    * ([[graft.serving.AnnIndex]]): cell-partitioned parquet written
    * once per dataset fingerprint, then probed with dynamic partition
    * pruning. Exhaustive probe (nprobe = nlist) ≡ brute force, so the
    * same oracle hash-checks the whole materialize→prune→rank path;
    * the approximate operating point is covered by AnnIndexSpec.
    */
  def knnIvfServed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.serving.AnnIndex.query(spark, annIndexRoot(spark, dir),
      emb.filter(col("vec_id") < 10), cachedCentroids(spark, dir),
      k = 5, nprobe = 16)
  }

  /** Matryoshka-prefix KNN SERVED from the materialized index
    * ([[graft.serving.AnnIndex.queryTruncated]]): stage 1 reads only
    * the stored 16-dim prefix column (vec_id, vp, np) — the
    * storage-layer realization of the MRL "smaller column read" —
    * and stage 2 fetches full vectors for the 50-candidate set only.
    * Identical two-stage semantics to [[knnTruncated]], so the gate
    * shares its mirror oracle.
    */
  def knnTruncatedServed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.serving.AnnIndex.queryTruncated(spark, annIndexRoot(spark, dir),
      emb.filter(col("vec_id") < 10), k = 5, candidates = 50)
  }

  /** Root of the materialized IVF index for `dir`'s embeddings, built
    * on first use per dataset fingerprint ([[graft.FpMemo]]).
    */
  private[graft] def annIndexRoot(spark: SparkSession, dir: String): String =
    indexCache.root(spark, dir) { p =>
      graft.serving.AnnIndex.materialize(
        Tables.embeddings(spark, dir), cachedCentroids(spark, dir), p)
    }

  /** KNN served from an index whose codebook was REFRESHED in place
    * ([[graft.serving.AnnIndex.reindex]]): the index is first built
    * with a deliberately coarse 4-centroid book, then retrained to
    * the Lloyd-refined 8-cell codebook and atomically re-encoded +
    * swapped under one [[graft.serving.EraseStage]] manifest — the
    * FAISS reindex-after-drift loop, end-to-end. The query probes
    * with the index's STORED codebook (callers hold none, so the
    * refresh can't race a stale driver-side book) exhaustively
    * (nprobe = nlist), so the result is brute-force-identical and
    * the gate shares `q_embed_knn_ivf`'s oracle — proving the
    * retrain → re-encode → staged-swap → serve loop changes answers
    * not at all while the physical layout (cells, codebook) moved
    * entirely.
    */
  def knnReindexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.serving.AnnIndex.queryStored(spark, reindexRoot(spark, dir),
      emb.filter(col("vec_id") < 10), k = 5, nprobe = 8)
  }

  private[graft] def reindexRoot(spark: SparkSession, dir: String): String =
    reindexCache.root(spark, dir) { p =>
      val emb = Tables.embeddings(spark, dir)
      graft.serving.AnnIndex.materialize(emb,
        graft.ops.Ann.coarseCentroids(emb, nCells = 4), p)
      graft.serving.AnnIndex.reindex(spark, p,
        graft.ops.KMeans.refinedCentroids(emb, k = 8))
    }

  private val reindexCache =
    new graft.FpMemo.TempRoots("graft_ann_reindex", "embeddings")

  /** Global top-20 most-similar embedding pairs (embedding-cosine
    * near-dup detection in ranked form).
    */
  def topPairs(spark: SparkSession, dir: String): DataFrame =
    Ann.topSimilarPairs(Tables.embeddings(spark, dir), topN = 20)

  /** Embedding-cosine near-dup pair set at threshold 0.4 (the corpus
    * has no pairs above ~0.51, so 0.4 exercises a real tail).
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4)

  /** The LSH-bucketed scale path for the same near-dup question
    * ([[graft.ops.Ann.rhpNearDupPairs]]): 32-bit random-hyperplane
    * signatures, 4 bands × 8 bits, exact cosine >= 0.4 verify on
    * band-collision candidates only. The oracle replays the identical
    * construction (data-derived hyperplanes, band buckets, verify),
    * so the gate pins the APPROXIMATION ITSELF, not just the verify:
    * both engines must agree on every signature bit.
    */
  def lshNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Ann.rhpNearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4)

  /** Embedding-level benchmark decontamination
    * ([[graft.ops.Ann.decontaminate]]): vec_id % 50 == 0 plays the
    * held-out eval suite, the rest is the training corpus; corpus
    * rows with cosine >= 0.3 to any benchmark vector drop. Survivor
    * ids return (ids only — no floats on the wire).
    */
  def decontamSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.decontaminate(
      emb.filter(col("vec_id") % 50 =!= 0),
      emb.filter(col("vec_id") % 50 === 0),
      threshold = 0.3)
  }

  /** Canonical dedup groups over the embedding-cosine near-dup graph:
    * [[graft.ops.NearDup.canonicalize]] (large-star/small-star
    * contraction) composed over [[Ann.cosineNearDupPairs]] — every
    * embedding in a cosine>=0.4 component maps to the component's
    * minimum vec_id, the "keep one survivor" form of embedding dedup.
    * Exercises star contraction on a second graph family (the doc
    * gate covers the Jaccard graph).
    */
  def embedDedupCanonical(spark: SparkSession, dir: String): DataFrame =
    graft.ops.NearDup.canonicalize(
      Ann.cosineNearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("canonical_id"))

  /** SemDeDup-style semantic dedup: near-dup pairs (cosine >= 0.3)
    * found WITHIN coarse-quantizer cells only — candidate compares
    * shrink from O(n²) to per-cluster, sharded by cell. Reuses the
    * cached IVF centroids; the oracle recomputes the identical
    * assignment (argmax cosine over the 16 lowest-id embeddings,
    * lowest-cell tie-break) and the in-cell pair scan.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Ann.semanticDedupPairs(Tables.embeddings(spark, dir),
      cachedCentroids(spark, dir), threshold = 0.3)

  /** SemDeDup over the TRAINED quantizer — the paper's actual recipe
    * (k-means first, then within-cluster near-dup pruning): the same
    * per-cell pair scan as `q_embed_semantic_dedup`, but the cells
    * come from [[graft.ops.KMeans]]'s Lloyd-refined centroids instead
    * of the k lowest-id embeddings, composing training → cell
    * sharding → in-cell dedup end-to-end. Centroids are exact
    * grid-integer/2^16 doubles, so the oracle re-derives them with
    * the same CTE chain as `q_embed_kmeans` and then mirrors the
    * cosine assignment and pair scan.
    */
  def semanticDedupTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.semanticDedupPairs(emb, trainedCentroids(spark, dir), threshold = 0.3)
  }

  /** The optimizer-extension path, end-to-end: a PURE-SQL query that
    * spells the dot product with public higher-order functions
    * (`aggregate(zip_with(...))`) — the exact pattern
    * [[graft.plans.VecKernelRewrite]] rewrites into the codegen'd
    * [[graft.functions.VecDot]] kernel. The rule is installed on the
    * caller's live session via `spark.experimental.extraOptimizations`
    * (the post-hoc twin of `spark.sql.extensions`, which only applies
    * at session build — the driver owns session construction), so the
    * driver gate exercises rule + kernel together, not just
    * ExtensionsSpec. The `require` makes the entry fail loudly if the
    * rewrite ever stops firing, because the HOF fallback would
    * silently produce the same rows.
    *
    * Query: top-20 nearest to embedding 0 by raw dot product. The
    * global top-20 goes through ORDER BY+LIMIT (TakeOrderedAndProject
    * — distributed, no single-partition window); only the 20
    * survivors are ranked.
    */
  def dotTopKSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.VecKernelRewrite
    // synchronized: read-modify-write on extraOptimizations — two
    // concurrent entry calls could otherwise both append and run the
    // rule twice per query from then on
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(VecKernelRewrite))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ VecKernelRewrite
    }
    val df = org.apache.spark.sql.GraftShim.sqlOver(spark,
      """WITH anchor AS (SELECT embedding AS av FROM embeddings WHERE vec_id = 0),
        |dots AS (
        |  SELECT e.vec_id,
        |    aggregate(zip_with(e.embedding, a.av,
        |                       (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |              0.0D, (acc, v) -> acc + v) AS dot
        |  FROM embeddings e CROSS JOIN anchor a
        |  WHERE e.vec_id <> 0),
        |top AS (SELECT vec_id, dot FROM dots ORDER BY dot DESC, vec_id ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rank,
        |  vec_id
        |FROM top""".stripMargin,
      Map("embeddings" -> Tables.embeddings(spark, dir)))
    require(df.queryExecution.optimizedPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[graft.functions.VecDot]))),
      "VecKernelRewrite did not fire on the HOF dot-product spelling")
    df
  }

  private val trained = new graft.FpMemo[Seq[Seq[Double]]]()

  /** The Lloyd-refined k=10 quantizer shared by the trained SemDeDup
    * and IVF entries ([[graft.FpMemo]]).
    */
  private def trainedCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    trained.get(spark, s"$dir/embeddings.parquet")(
      graft.ops.KMeans.refinedCentroids(Tables.embeddings(spark, dir), k = 10))

  /** IVF over the TRAINED quantizer: the same cell-sharded KNN path
    * as `q_embed_knn_ivf`, but with [[graft.ops.KMeans]]'s Lloyd-
    * refined centroids instead of the k-lowest-id ones — training →
    * indexing → probing composed end-to-end. Exhaustive probe
    * (nprobe = nlist) keeps the identity with brute force, so the
    * exact-KNN oracle hash-checks the composition no matter what the
    * quantizer is; the approximate operating point (nprobe << nlist)
    * is covered by KMeansSpec's recall assertion.
    */
  def knnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.ivfKnn(emb, emb.filter(col("vec_id") < 10), k = 5,
      centroids = trainedCentroids(spark, dir), nprobe = 10)
  }

  /** One exact quantized Lloyd step ([[graft.ops.KMeans]]): init =
    * the 10 lowest-id embeddings (matching the corpus's 10 labeled
    * clusters), refined = round-half-up integer component means —
    * assignments under both quantizers, hash-checked end-to-end
    * (every number is integer arithmetic; see KMeans scaladoc).
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame =
    graft.ops.KMeans.lloydRefine(Tables.embeddings(spark, dir), k = 10)

  /** EMBEDDING-SPACE drift monitor: quantize every vector to its
    * refined Lloyd cell (the IVF coarse quantizer) and run the exact
    * integer-permille TVD audit ([[graft.ops.Drift.audit]]) between
    * the even- and odd-id halves over the cell HISTOGRAM — the
    * standard way to watch an embedding distribution shift without
    * comparing raw floats (cells are integer-exact, so the whole
    * monitor hash-checks; a continuous KL/MMD would not). A fresh
    * embedding batch whose cell profile diverges from the reference
    * corpus flags before it pollutes an index or a mixture.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.audit(
      kmeansRefine(spark, dir), col("vec_id") % 2 === 0,
      Seq("ivf_cell" -> col("cell_refined")))

  /** Embedding INGEST-QUALITY audit — per label: vector count,
    * degenerate (all-zero on the 2^16 grid) count, and exact integer
    * min/mean/max squared norms. Zero and out-of-scale vectors are
    * the classic upstream-encoder failure modes that silently poison
    * an ANN index or a cosine dedup; this is the check before
    * admission. All arithmetic on the shared quantization grid
    * (64 dims × (2^15)² ≈ 7·10¹³ per vector — row values fit a long
    * with 10⁵ headroom; the label SUM accumulates in DECIMAL(38,0)
    * and the mean is exact integer division). Row-local norms, one
    * map-side aggregate onto the label alphabet.
    */
  def embedQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val q = transform(col("embedding"),
      x => round(x.cast("double") * 65536).cast("long"))
    val norm2 = aggregate(q, lit(0L).cast("decimal(38,0)"),
      (acc, v) => acc + (v * v).cast("decimal(38,0)"))
    Tables.embeddings(spark, dir)
      .select(col("label"), norm2.as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).cast("long").as("min_norm2"),
        max(col("n2")).cast("long").as("max_norm2"),
        sum(col("n2")).as("sum_n2"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("min_norm2"), col("max_norm2"),
        column(IntegralDivide(
          expression(col("sum_n2")),
          expression(col("n_vecs").cast("decimal(38,0)"))))
          .cast("long").as("mean_norm2"))
  }

  /** CLUSTER-BALANCED sample — the diversity-preserving coreset step:
    * 5 deterministic picks (lowest 60-bit md5 key, vec_id tie-break)
    * from EACH refined Lloyd cell, so every region of embedding space
    * is represented regardless of how skewed the cell population is —
    * uniform sampling would hand the dominant cluster nearly every
    * slot. Composes the trained quantizer with the per-group hash
    * pick ([[graft.ops.Sample]] semantics); the per-cell rank is a
    * WindowGroupLimit (per-partition heaps bound state at k per cell,
    * never a full sort) over the k-cell keyed exchange.
    */
  def embedSampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell_refined"))
      .orderBy(col("_h").asc, col("vec_id").asc)
    kmeansRefine(spark, dir)
      .select(col("vec_id"), col("cell_refined"))
      .withColumn("_h", graft.ops.Sample.hash60(col("vec_id")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("cell_refined"), col("vec_id"), col("rn"))
  }

  /** Embedding-quality curation: per label, the 5 vectors farthest
    * from their label's mean embedding (integer-exact ranking on the
    * quantization grid — see [[graft.ops.KMeans.centroidOutliers]]).
    */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.KMeans.centroidOutliers(Tables.embeddings(spark, dir), k = 5)

  /** PQ code table ([[graft.ops.KMeans.pqCodes]]): 16 subspaces × 64
    * sub-centroids over the 64-dim embeddings (4-dim subspaces — the
    * operating point where untrained codebooks still recall ~half the
    * exact-L2 neighbors, see KMeansSpec) — every code hash-checked
    * against the DuckDB recompute.
    */
  def pqCodeTable(spark: SparkSession, dir: String): DataFrame =
    graft.ops.KMeans.pqCodes(Tables.embeddings(spark, dir))

  /** PQ serving: ADC top-5 for the standard query set (vec_id < 10)
    * over the 16×64 code table — integer LUT arithmetic end-to-end,
    * so even the APPROXIMATE ranking hash-checks. Like the IVFADC
    * entry right below, the code table + codebook build once
    * ([[graft.FpMemo]]) and queries serve from the checkpointed
    * codes (the FAISS add/search split; first toucher pays the
    * encode, and `q_embed_pq_codes` keeps measuring the encode
    * itself through its own uncached [[graft.ops.KMeans.pqCodes]]
    * call).
    */
  private val pqCodes = new graft.FpMemo[graft.ops.KMeans.PqCodeIndex](idx =>
    graft.ops.NearDup.releaseCheckpoint(idx.codes))

  def pqAdcKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = pqCodes.get(spark, s"$dir/embeddings.parquet")(
      graft.ops.KMeans.pqCodeIndex(emb))
    graft.ops.KMeans.adcQuery(idx, emb.filter(col("vec_id") < 10), topK = 5)
  }

  private val ivfAdcIndexes = new graft.FpMemo[graft.ops.KMeans.IvfAdcIndex](idx =>
    graft.ops.NearDup.releaseCheckpoint(idx.codes))

  /** IVFADC top-5 for the standard query set: 8 coarse cells,
    * nprobe=4, residual PQ 16×64 — both approximations (cell pruning
    * + code quantization) deterministic and hash-checked. The index
    * (code table + codebooks) builds once ([[graft.FpMemo]]) and
    * serves from the checkpointed codes — the PQ twin of the
    * materialized-IVF entry, and what the warm bench numbers measure.
    */
  def ivfAdcTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = ivfAdcIndexes.get(spark, s"$dir/embeddings.parquet")(
      graft.ops.KMeans.ivfAdcIndex(emb))
    graft.ops.KMeans.ivfAdcQuery(idx, emb.filter(col("vec_id") < 10), topK = 5)
  }

  private val pqIndexCache = new graft.FpMemo.TempRoots("graft_pq_index", "embeddings")

  /** The same IVFADC top-5 answered from the MATERIALIZED on-disk
    * index ([[graft.serving.PqIndex]]): codes partitioned by coarse
    * cell, probe reads only the probed cell directories (DPP), ADC
    * over stored codes — bit-identical to the in-memory path, so it
    * shares `q_embed_knn_ivfadc`'s oracle.
    */
  def ivfAdcServed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = pqIndexCache.root(spark, dir) { p =>
      graft.serving.PqIndex.materialize(spark, emb, p)
    }
    graft.serving.PqIndex.query(spark, root, emb.filter(col("vec_id") < 10), topK = 5)
  }

  private val pqReindexCache =
    new graft.FpMemo.TempRoots("graft_pq_reindex", "embeddings")

  /** IVFADC top-5 served from a PQ index whose BOTH codebooks (coarse
    * + sub-quantizers) were refreshed in place
    * ([[graft.serving.PqIndex.reindex]]): built with a deliberately
    * coarse 4-cell book, then retrained on the same corpus to the
    * default 8-cell/16×64 books and atomically re-encoded + swapped
    * under one [[graft.serving.EraseStage]] manifest — the FAISS
    * reindex loop for the LOSSY layout, where re-encoding needs the
    * source corpus back. The retrainer is the build's own
    * deterministic trainer, so the refreshed index is bit-identical
    * to a fresh default build (PqIndexSpec pins this) and the gate
    * shares `q_embed_knn_ivfadc`'s oracle: codes, cells, and books
    * all moved; answers did not.
    */
  def ivfAdcReindexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val root = pqReindexCache.root(spark, dir) { p =>
      graft.serving.PqIndex.materialize(spark, emb, p, coarseK = 4)
      graft.serving.PqIndex.reindex(spark, emb, p)
    }
    graft.serving.PqIndex.query(spark, root, emb.filter(col("vec_id") < 10), topK = 5)
  }

  val queries: Map[String, QFn] = Map(
    "q_embed_knn_ivfadc" -> (ivfAdcTop5 _),
    "q_embed_knn_ivfadc_served" -> (ivfAdcServed _),
    "q_embed_reindex_pq" -> (ivfAdcReindexed _),
    "q_embed_knn_pq" -> (pqAdcKnn _),
    "q_embed_pq_codes" -> (pqCodeTable _),
    "q_embed_kmeans" -> (kmeansRefine _),
    "q_embed_drift" -> (embedDrift _),
    "q_embed_sample_balanced" -> (embedSampleBalanced _),
    "q_embed_quality" -> (embedQuality _),
    "q_embed_centroid_outliers" -> (centroidOutliers _),
    "q_embed_knn_ivf_trained" -> (knnIvfTrained _),
    "q_embed_dedup_canonical" -> (embedDedupCanonical _),
    "q_embed_dot_sql" -> (dotTopKSql _),
    "q_embed_knn" -> (knnBruteForce _),
    "q_embed_knn_truncated" -> (knnTruncated _),
    "q_embed_knn_truncated_served" -> (knnTruncatedServed _),
    "q_embed_hard_negatives" -> (hardNegativesTop3 _),
    "q_embed_knn_ivf" -> (knnIvf _),
    "q_embed_knn_served" -> (knnIvfServed _),
    "q_embed_reindex" -> (knnReindexed _),
    "q_embed_top_pairs" -> (topPairs _),
    "q_embed_near_dup" -> (nearDupPairs _),
    "q_embed_lsh_neardup" -> (lshNearDupPairs _),
    "q_embed_decontam" -> (decontamSurvivors _),
    "q_embed_semantic_dedup" -> (semanticDedup _),
    "q_embed_semantic_dedup_trained" -> (semanticDedupTrained _),
  )

  /** DuckDB mirror of [[graft.ops.KMeans.lloydRefine]]'s training
    * pass, through the refined centroids (cen1) — shared by the
    * kmeans gate and the trained-SemDeDup gate so the two can't
    * drift apart.
    */
  private val lloydCtes =
    """xq AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS xq
      |  FROM embeddings),
      |init AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS cv
      |  FROM (SELECT * FROM xq ORDER BY vec_id LIMIT 10)),
      |ex AS (
      |  SELECT vec_id, unnest(xq) AS v, unnest(range(1, len(xq)+1)) AS d FROM xq),
      |cex AS (
      |  SELECT cell, unnest(cv) AS c, unnest(range(1, len(cv)+1)) AS d FROM init),
      |d0 AS (
      |  SELECT e.vec_id, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
      |  FROM ex e JOIN cex c USING (d) GROUP BY 1, 2),
      |a0 AS (
      |  SELECT vec_id, cell AS cell_init FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
      |    FROM d0) WHERE rn = 1),
      |sums AS (
      |  SELECT a.cell_init AS cell, e.d, SUM(e.v) AS s, count(*) AS n
      |  FROM ex e JOIN a0 a USING (vec_id) GROUP BY 1, 2),
      |cen1 AS (
      |  SELECT c.cell, c.d, coalesce(
      |    (2*s.s + s.n - (((2*s.s + s.n) % (2*s.n) + 2*s.n) % (2*s.n))) // (2*s.n),
      |    c.c) AS c
      |  FROM cex c LEFT JOIN sums s ON s.cell = c.cell AND s.d = c.d)""".stripMargin

  private val knnOracle =
    """SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id ASC) AS rnk
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
      |WHERE rnk <= 5""".stripMargin

  private val truncatedKnnOracle =
    """SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id ASC) AS rnk
      |  FROM (
      |    SELECT query_id, neighbor_id, sim FROM (
      |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                               CAST(c.embedding AS DOUBLE[])) AS sim,
      |        row_number() OVER (PARTITION BY q.vec_id
      |          ORDER BY list_cosine_similarity(
      |              CAST(q.embedding AS DOUBLE[])[1:16],
      |              CAST(c.embedding AS DOUBLE[])[1:16]) DESC,
      |            c.vec_id ASC) AS rp
      |      FROM embeddings q, embeddings c
      |      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
      |    WHERE rp <= 50))
      |WHERE rnk <= 5""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // mirror of KMeans.pqCodes: same grid, sub-codebooks = the 16
    // lowest-id vectors' subvector slices, integer distances, ties to
    // the lowest cell; codes pivot into one row per vector.
    "q_embed_pq_codes" ->
      """WITH xq AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS xq
        |  FROM embeddings),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS cv
        |  FROM (SELECT * FROM xq ORDER BY vec_id LIMIT 64)),
        |cex AS (
        |  SELECT cell, (d - 1) // 4 AS s, d, c FROM (
        |    SELECT cell, unnest(cv) AS c, unnest(range(1, len(cv)+1)) AS d
        |    FROM init)),
        |exd AS (
        |  SELECT vec_id, d, (d - 1) // 4 AS s, v FROM (
        |    SELECT vec_id, unnest(xq) AS v, unnest(range(1, len(xq)+1)) AS d
        |    FROM xq)),
        |dist AS (
        |  SELECT e.vec_id, e.s, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
        |  FROM exd e JOIN cex c ON c.d = e.d
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, cell FROM (
        |    SELECT vec_id, s, cell,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
        |    FROM dist) WHERE rn = 1)
        |SELECT vec_id,
        |  CAST(MAX(CASE WHEN s = 0 THEN cell END) AS BIGINT) AS code_0,
        |  CAST(MAX(CASE WHEN s = 1 THEN cell END) AS BIGINT) AS code_1,
        |  CAST(MAX(CASE WHEN s = 2 THEN cell END) AS BIGINT) AS code_2,
        |  CAST(MAX(CASE WHEN s = 3 THEN cell END) AS BIGINT) AS code_3,
        |  CAST(MAX(CASE WHEN s = 4 THEN cell END) AS BIGINT) AS code_4,
        |  CAST(MAX(CASE WHEN s = 5 THEN cell END) AS BIGINT) AS code_5,
        |  CAST(MAX(CASE WHEN s = 6 THEN cell END) AS BIGINT) AS code_6,
        |  CAST(MAX(CASE WHEN s = 7 THEN cell END) AS BIGINT) AS code_7,
        |  CAST(MAX(CASE WHEN s = 8 THEN cell END) AS BIGINT) AS code_8,
        |  CAST(MAX(CASE WHEN s = 9 THEN cell END) AS BIGINT) AS code_9,
        |  CAST(MAX(CASE WHEN s = 10 THEN cell END) AS BIGINT) AS code_10,
        |  CAST(MAX(CASE WHEN s = 11 THEN cell END) AS BIGINT) AS code_11,
        |  CAST(MAX(CASE WHEN s = 12 THEN cell END) AS BIGINT) AS code_12,
        |  CAST(MAX(CASE WHEN s = 13 THEN cell END) AS BIGINT) AS code_13,
        |  CAST(MAX(CASE WHEN s = 14 THEN cell END) AS BIGINT) AS code_14,
        |  CAST(MAX(CASE WHEN s = 15 THEN cell END) AS BIGINT) AS code_15
        |FROM codes GROUP BY 1""".stripMargin,
    // mirror of KMeans.ivfAdcKnn: coarse assignment, residuals of
    // everything w.r.t. own cells, sub-codebook = first-16 residuals,
    // per-(query, probed-cell) residual LUTs, candidates restricted
    // to probed cells, ties on ids everywhere.
    "q_embed_knn_ivfadc" ->
      """WITH xq AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS xq
        |  FROM embeddings),
        |co AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS cv
        |  FROM (SELECT * FROM xq ORDER BY vec_id LIMIT 8)),
        |cod AS (
        |  SELECT cell, unnest(cv) AS c, unnest(range(1, len(cv)+1)) AS d FROM co),
        |exd AS (
        |  SELECT vec_id, unnest(xq) AS v, unnest(range(1, len(xq)+1)) AS d FROM xq),
        |cdist AS (
        |  SELECT e.vec_id, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
        |  FROM exd e JOIN cod c USING (d) GROUP BY 1, 2),
        |asgn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cdist) WHERE rn = 1),
        |res AS (
        |  SELECT e.vec_id, e.d, (e.d - 1) // 4 AS s, e.v - c.c AS rv
        |  FROM exd e JOIN asgn a USING (vec_id)
        |  JOIN cod c ON c.cell = a.cell AND c.d = e.d),
        |sub AS (
        |  SELECT ids.subcell, r.d, r.rv AS sc
        |  FROM res r JOIN (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS subcell
        |    FROM (SELECT vec_id FROM xq ORDER BY vec_id LIMIT 64)) ids
        |  USING (vec_id)),
        |sdist AS (
        |  SELECT r.vec_id, r.s, u.subcell, SUM((r.rv - u.sc)*(r.rv - u.sc)) AS dist
        |  FROM res r JOIN sub u ON u.d = r.d GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, subcell FROM (
        |    SELECT vec_id, s, subcell,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, subcell) AS rn
        |    FROM sdist) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cdist WHERE vec_id < 10) WHERE rn <= 4),
        |qres AS (
        |  SELECT e.vec_id AS query_id, p.cell, e.d, (e.d - 1) // 4 AS s,
        |    e.v - c.c AS rv
        |  FROM exd e JOIN probes p ON p.query_id = e.vec_id
        |  JOIN cod c ON c.cell = p.cell AND c.d = e.d),
        |lut AS (
        |  SELECT q.query_id, q.cell, q.s, u.subcell,
        |    SUM((q.rv - u.sc)*(q.rv - u.sc)) AS dist
        |  FROM qres q JOIN sub u ON u.d = q.d GROUP BY 1, 2, 3, 4),
        |cand AS (
        |  SELECT l.query_id, c.vec_id, SUM(l.dist) AS adc
        |  FROM codes c JOIN asgn a USING (vec_id)
        |  JOIN lut l ON l.cell = a.cell AND l.s = c.s AND l.subcell = c.subcell
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
        |  FROM cand)
        |WHERE rnk <= 5""".stripMargin,
    // mirror of KMeans.adcKnn: the `dist` CTE is BOTH the code
    // assignment (argmin per (vec, subspace)) and the query LUT
    // (its rows restricted to query ids) — summing LUT entries at a
    // candidate's codes is the ADC distance; ranking ties on id.
    "q_embed_knn_pq" ->
      """WITH xq AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS xq
        |  FROM embeddings),
        |init AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS cv
        |  FROM (SELECT * FROM xq ORDER BY vec_id LIMIT 64)),
        |cex AS (
        |  SELECT cell, (d - 1) // 4 AS s, d, c FROM (
        |    SELECT cell, unnest(cv) AS c, unnest(range(1, len(cv)+1)) AS d
        |    FROM init)),
        |exd AS (
        |  SELECT vec_id, d, (d - 1) // 4 AS s, v FROM (
        |    SELECT vec_id, unnest(xq) AS v, unnest(range(1, len(xq)+1)) AS d
        |    FROM xq)),
        |dist AS (
        |  SELECT e.vec_id, e.s, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
        |  FROM exd e JOIN cex c ON c.d = e.d
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, cell FROM (
        |    SELECT vec_id, s, cell,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
        |    FROM dist) WHERE rn = 1),
        |cand AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, SUM(q.dist) AS adc
        |  FROM codes c JOIN dist q ON q.s = c.s AND q.cell = c.cell
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
        |  FROM cand)
        |WHERE rnk <= 5""".stripMargin,
    // mirror of KMeans.lloydRefine on the 2^16 integer grid: same
    // init (10 lowest ids), same integer distances, same
    // floor((2s+n)/(2n)) round-half-up centroid update (floor spelled
    // with the portable truncating %), same (dist, cell) tie-break.
    // the refined-cell histogram TVD between the id-parity halves —
    // the q_doc_drift integer chain over the q_embed_kmeans cells
    // same grid, same HUGEINT-accumulated norms, same truncating mean
    "q_embed_quality" ->
      """WITH n AS (
        |  SELECT label,
        |    list_aggregate(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS HUGEINT)
        |           * CAST(round(CAST(x AS DOUBLE) * 65536) AS HUGEINT)),
        |      'sum') AS n2
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(min(n2) AS BIGINT) AS min_norm2,
        |  CAST(max(n2) AS BIGINT) AS max_norm2,
        |  CAST(sum(n2) // count(*) AS BIGINT) AS mean_norm2
        |FROM n GROUP BY 1""".stripMargin,
    // 5 lowest-h60 picks per refined cell — the q_doc_sample_pergroup
    // rule over the q_embed_kmeans assignment
    "q_embed_sample_balanced" ->
      s"""WITH $lloydCtes,
         |d1 AS (
         |  SELECT e.vec_id, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
         |  FROM ex e JOIN cen1 c USING (d) GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, cell AS cell_refined FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM d1) WHERE rn = 1)
         |SELECT cell_refined, vec_id, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT cell_refined, vec_id,
         |    row_number() OVER (PARTITION BY cell_refined
         |      ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
         |        vec_id) AS rn
         |  FROM a1)
         |WHERE rn <= 5""".stripMargin,
    "q_embed_drift" ->
      s"""WITH $lloydCtes,
         |d1 AS (
         |  SELECT e.vec_id, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
         |  FROM ex e JOIN cen1 c USING (d) GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, cell AS cell_refined FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM d1) WHERE rn = 1),
         |f AS (SELECT vec_id % 2 = 0 AS is_ref, 'ivf_cell' AS feature,
         |        CAST(cell_refined AS VARCHAR) AS value FROM a1),
         |c AS (SELECT feature, value,
         |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
         |  FROM f GROUP BY 1, 2),
         |n AS (SELECT feature, sum(ca) AS na, sum(cb) AS nb FROM c GROUP BY 1),
         |p AS (SELECT c.feature, c.value,
         |    abs(CASE WHEN n.na > 0 THEN c.ca * 1000 // n.na ELSE 0 END
         |      - CASE WHEN n.nb > 0 THEN c.cb * 1000 // n.nb ELSE 0 END) AS delta
         |  FROM c JOIN n USING (feature)),
         |t AS (SELECT feature, CAST(sum(delta) AS BIGINT) AS tvd_permille
         |      FROM p GROUP BY 1),
         |s AS (SELECT feature, value, delta FROM (
         |    SELECT p.*, row_number() OVER (PARTITION BY feature
         |      ORDER BY delta DESC, value ASC) AS rn FROM p) WHERE rn = 1)
         |SELECT t.feature, t.tvd_permille, s.value AS top_value,
         |  CAST(s.delta AS BIGINT) AS top_delta_permille
         |FROM t JOIN s USING (feature)""".stripMargin,
    "q_embed_kmeans" ->
      s"""WITH $lloydCtes,
        |d1 AS (
        |  SELECT e.vec_id, c.cell, SUM((e.v - c.c)*(e.v - c.c)) AS dist
        |  FROM ex e JOIN cen1 c USING (d) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cell AS cell_refined FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d1) WHERE rn = 1)
        |SELECT vec_id, CAST(cell_init AS BIGINT) AS cell_init,
        |  CAST(cell_refined AS BIGINT) AS cell_refined
        |FROM a0 JOIN a1 USING (vec_id)""".stripMargin,
    // same integer key the engine ranks by (HUGEINT here, DECIMAL(38,0)
    // there): n·Σv² − 2·Σv·S per vector within its label
    "q_embed_centroid_outliers" ->
      """WITH xq AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 65536) AS BIGINT)) AS xq
        |  FROM embeddings),
        |ex AS (SELECT vec_id, label, unnest(xq) AS v,
        |  unnest(range(1, len(xq)+1)) AS d FROM xq),
        |st AS (SELECT label, d, SUM(CAST(v AS HUGEINT)) AS s, count(*) AS n
        |  FROM ex GROUP BY 1, 2),
        |kk AS (
        |  SELECT e.vec_id, e.label,
        |    SUM(CAST(e.v AS HUGEINT) * (st.n * CAST(e.v AS HUGEINT) - 2 * st.s)) AS kk
        |  FROM ex e JOIN st ON st.label = e.label AND st.d = e.d
        |  GROUP BY 1, 2)
        |SELECT CAST(label AS BIGINT) AS label, vec_id, rank FROM (
        |  SELECT label, vec_id,
        |    row_number() OVER (PARTITION BY label ORDER BY kk DESC, vec_id) AS rank
        |  FROM kk)
        |WHERE rank <= 5""".stripMargin,
    // transitive closure over the cosine>=0.4 pair graph — same
    // recursive-CTE shape as the doc canonical oracle
    "q_embed_dedup_canonical" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(doc, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.doc, e.dst FROM walk w JOIN edges e ON e.src = w.r)
        |SELECT doc AS vec_id, CAST(min(r) AS BIGINT) AS canonical_id
        |FROM walk GROUP BY doc""".stripMargin,
    "q_embed_dot_sql" ->
      """WITH anchor AS (SELECT embedding AS av FROM embeddings WHERE vec_id = 0),
        |dots AS (
        |  SELECT e.vec_id,
        |    list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |                       CAST(a.av AS DOUBLE[])) AS dot
        |  FROM embeddings e CROSS JOIN anchor a
        |  WHERE e.vec_id <> 0),
        |top AS (SELECT vec_id, dot FROM dots ORDER BY dot DESC, vec_id ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rank,
        |  vec_id
        |FROM top""".stripMargin,
    // exhaustive-probe IVF ≡ exact KNN (nprobe = nlist) — same oracle,
    // for the in-memory path AND the materialized-index path.
    "q_embed_knn_ivf" -> knnOracle,
    // knn ranking with the near-dup band (sim >= 0.4) excluded
    // BEFORE ranking — negatives just under the positive threshold
    "q_embed_hard_negatives" ->
      """SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id ASC) AS rnk
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |    AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) < 0.4)
        |WHERE rnk <= 3""".stripMargin,
    "q_embed_knn_ivf_trained" -> knnOracle,
    "q_embed_knn_served" -> knnOracle,
    // the reindexed-and-stored-codebook path probes exhaustively, so
    // brute force is its exact oracle too — the layout moved, the
    // answers must not
    "q_embed_reindex" -> knnOracle,
    "q_embed_knn" -> knnOracle,
    // both MRL stages replayed: 16-dim-prefix cosine keeps top-50
    // candidates (id tie-break), exact full-dim rerank to top-5 —
    // shared by the in-memory operator and the index-served path
    "q_embed_knn_truncated" -> truncatedKnnOracle,
    "q_embed_knn_truncated_served" -> truncatedKnnOracle,
    "q_embed_top_pairs" ->
      """SELECT CAST(row_number() OVER (ORDER BY sim DESC, id_a ASC, id_b ASC) AS BIGINT) AS rank,
        |  id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |ORDER BY sim DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,
    "q_embed_near_dup" ->
      """SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |WHERE sim >= 0.4""".stripMargin,
    // replays the full RHP-LSH construction: hyperplanes from the 64
    // lowest-id vectors pairwise (bit = dot-vs-dot comparison, since
    // dot(x, va - vb) = dot(x,va) - dot(x,vb)), 4 bands x 8 bits,
    // band-collision candidates, exact cosine verify
    "q_embed_lsh_neardup" ->
      """WITH pl AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS r,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings ORDER BY vec_id LIMIT 64
        |), hp AS (
        |  SELECT CAST(a.r // 2 AS INT) AS i, a.v AS va, b.v AS vb
        |  FROM pl a JOIN pl b ON b.r = a.r + 1 WHERE a.r % 2 = 0
        |), sig AS (
        |  SELECT e.vec_id, h.i,
        |    CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), h.va)
        |          >= list_dot_product(CAST(e.embedding AS DOUBLE[]), h.vb)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM embeddings e CROSS JOIN hp h
        |), band AS (
        |  SELECT vec_id, i // 8 AS band,
        |         CAST(SUM(bit << (i % 8)) AS BIGINT) AS bv
        |  FROM sig GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM band a JOIN band b
        |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
        |)
        |SELECT c.id_a, c.id_b
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.id_a
        |JOIN embeddings eb ON eb.vec_id = c.id_b
        |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                             CAST(eb.embedding AS DOUBLE[])) >= 0.4""".stripMargin,
    "q_embed_decontam" ->
      """SELECT t.vec_id FROM embeddings t
        |WHERE t.vec_id % 50 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM embeddings b
        |    WHERE b.vec_id % 50 = 0
        |      AND list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])) >= 0.3)""".stripMargin,
    // same coarse quantizer as the engine: centroids are the 16
    // lowest-id embeddings in id order; assignment is argmax cosine
    // with lowest-cell tie-break (mirrors Vectors.nearestCentroid).
    "q_embed_semantic_dedup" ->
      """WITH cen AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |asgn AS (
        |  SELECT vec_id, cell, embedding FROM (
        |    SELECT e.vec_id, c.cell, e.embedding,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(c.cv AS DOUBLE[])) DESC,
        |                 c.cell ASC) AS rn
        |    FROM embeddings e CROSS JOIN cen c)
        |  WHERE rn = 1)
        |SELECT CAST(a.cell AS BIGINT) AS cell, a.vec_id AS id_a, b.vec_id AS id_b
        |FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin,
    // trained quantizer: refined centroids re-derived via the shared
    // Lloyd CTE chain (exact grid integers / 2^16 — the division by a
    // power of two is lossless in doubles), then the same cosine
    // assignment + in-cell pair scan as the untrained gate.
    "q_embed_semantic_dedup_trained" ->
      s"""WITH $lloydCtes,
        |cent AS (
        |  SELECT cell, list(c / 65536.0 ORDER BY d) AS cv FROM cen1 GROUP BY cell),
        |asgn AS (
        |  SELECT vec_id, cell, embedding FROM (
        |    SELECT e.vec_id, c.cell, e.embedding,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
        |                 c.cell ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1)
        |SELECT CAST(a.cell AS BIGINT) AS cell, a.vec_id AS id_a, b.vec_id AS id_b
        |FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin,
  )

  // the served path must be bit-identical to the in-memory index, so
  // it shares the oracle verbatim (same recompute, different plan)
  val oracles: Map[String, String] =
    oraclesBase +
      ("q_embed_knn_ivfadc_served" -> oraclesBase("q_embed_knn_ivfadc")) +
      ("q_embed_reindex_pq" -> oraclesBase("q_embed_knn_ivfadc"))
}
