package graft.serving

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup
import graft.streaming.IncrementalDedup

/** MATERIALIZED near-duplicate index — the dedup-side sibling of
  * [[SearchIndex]] (lexical retrieval) and [[AnnIndex]] (dense
  * retrieval): the MinHash band buckets of an admitted corpus written
  * as band-hash-bucket-partitioned parquet, probed by a bounded query
  * batch to answer "which corpus documents is each of these NEW
  * documents a near-duplicate of?" — with exact Jaccard verification,
  * without ever rescanning the corpus.
  *
  * This is the query-side complement of [[IncrementalDedup]] (which
  * REJECTS an incoming doc on any band collision at ingest, returning
  * no match identities): eval-set decontamination audits, "why was
  * this rejected", and against-corpus dedup of a candidate batch all
  * need the matching corpus doc ids, verified exactly.
  *
  * Layout under `root`:
  *   - `bands/bucket=B/` — (doc_id, band_idx, band_hash): the
  *     [[IncrementalDedup.bandBuckets]] signature of every admitted
  *     doc, partitioned by a hash bucket of the band hash so a probe
  *     reads only the bucket directories its own bands land in
  *     (static IN-filter pruning, the [[SearchIndex]] mechanism —
  *     the probe's bucket set is bounded driver metadata).
  *   - `docs/` — (doc_id, text) sorted by doc_id with a doc_id bloom
  *     filter: the admitted source of record ("why was this
  *     rejected" inspection, rebuilds).
  *   - `postings_<n>/` — (doc_id, sh_size, shingle) sorted by doc_id
  *     with a doc_id bloom filter: the verification postings,
  *     shingled ONCE at admit time. Query paths fetch candidates'
  *     postings rows (bloom/rowgroup-pruned or semi-joined) instead
  *     of re-tokenizing candidate text per call — admit-time work,
  *     not per-query work, the inverted-index trade ([[SearchIndex]]
  *     stores its postings the same way).
  *
  * Scale shape: the probe is an equi-join of the pruned band scan
  * against a broadcast bounded query side; candidates are bounded by
  * |queries| × band collisions (the same odds as
  * [[IncrementalDedup]]'s tier 1 — ~1e-9 per band row for unrelated
  * pairs); verification is [[NearDup.verifyPairs]] postings joins
  * over candidate docs only. Query and corpus doc ids must be
  * disjoint (the contamination-op contract).
  */
object NearDupIndex {

  /** Band-hash partition fan-out — same sizing rationale as
    * [[SearchIndex.nBuckets]].
    */
  val nBuckets = 64

  private def bucketOf(bandHash: Column): Column =
    pmod(bandHash, lit(nBuckets.toLong)).cast("int")

  // Resolved bands/postings frames per root, [[RootCache]] slots:
  // directory listing + footer schema resolution once per root
  // generation instead of per probe.
  private def indexFrame(spark: SparkSession, root: String, table: String): DataFrame =
    RootCache.get(spark, root, table)(spark.read.parquet(s"$root/$table"))

  /** Build the index from scratch (overwrites `root`). `n` is the
    * shingle width the stored postings verify with — query calls must
    * pass the same n (enforced by the postings directory name).
    */
  def materialize(corpus: DataFrame, root: String, n: Int = 3): Unit = {
    val spark = corpus.sparkSession
    RootCache.bumpToken(spark, root)
    IncrementalDedup.bandBuckets(corpus)
      .withColumn("bucket", bucketOf(col("band_hash")))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/bands")
    corpus.select(col("doc_id"), col("text"))
      .sort(col("doc_id"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .parquet(s"$root/docs")
    // the verification postings, materialized ONCE at admit time —
    // query paths fetch candidates' (doc_id, sh_size, shingle) rows
    // instead of re-tokenizing candidate text per call; sorted by
    // doc_id + bloom so the bounded path's id-set read stays pruned
    NearDup.postingsNoCache(corpus.select(col("doc_id"), col("text")), n)
      .sort(col("doc_id"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .parquet(s"$root/postings_$n")
    RootCache.invalidate(spark, root)
  }

  /** Incrementally admit new documents: ids already present are
    * dropped first (replay-safe, the [[SearchIndex.append]] guard),
    * genuinely new docs append their bands and text together. Appended
    * files keep per-file doc_id stats/blooms, so id-pruned reads stay
    * pruned.
    */
  def append(spark: SparkSession, root: String, newDocs: DataFrame,
      n: Int = 3): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/docs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(p)) {
        val existing = spark.read.parquet(s"$root/docs").select("doc_id").distinct()
        newDocs.join(existing, Seq("doc_id"), "left_anti")
      } else newDocs
    // pin the delta before any write: `fresh` is anti-joined against
    // the very directory written below (the writeDelta discipline)
    val staged = fresh.select(col("doc_id"), col("text")).localCheckpoint(true)
    RootCache.bumpToken(spark, root)
    IncrementalDedup.bandBuckets(staged)
      .withColumn("bucket", bucketOf(col("band_hash")))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$root/bands")
    staged.sort(col("doc_id"))
      .write.mode("append")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .parquet(s"$root/docs")
    NearDup.postingsNoCache(staged, n)
      .sort(col("doc_id"))
      .write.mode("append")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .parquet(s"$root/postings_$n")
    NearDup.releaseCheckpoint(staged)
    RootCache.invalidate(spark, root)
  }

  /** Small-file maintenance for the appended index — the
    * [[AnnIndex.compactCells]] twin: an admit-time ingest leaves one
    * file per band bucket per batch AND appends per-batch files to
    * the flat id-sorted docs/postings tables. Fragmented band buckets
    * rewrite per-directory ([[EraseStage.compactFragmented]]); a flat
    * table at ≥ `minFiles` files rewrites whole, re-sorted by doc_id
    * with its bloom layout ([[EraseStage]] Overwrite legs — staged
    * durably, crash-mid-compact recoverable). Identical content
    * before and after; returns what was compacted.
    */
  def compact(spark: SparkSession, root: String, n: Int = 3,
      minFiles: Int = 8): Seq[String] = {
    val bands = EraseStage.compactFragmented(spark, root, "bands", "bucket", minFiles)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(t: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$t")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    val bloom = Map("parquet.bloom.filter.enabled#doc_id" -> "true")
    val flat = Seq("docs", s"postings_$n").filter(files(_) >= minFiles)
    // sortCol rides in the manifest: apply() re-sorts AFTER re-reading
    // the staged files, so the rewritten table keeps disjoint per-file
    // doc_id ranges even though the staged read may interleave files
    if (flat.nonEmpty)
      EraseStage.run(spark, root, flat.map(t =>
        EraseStage.Overwrite(t, bloom, Some("doc_id")) ->
          spark.read.parquet(s"$root/$t")))
    if (bands.nonEmpty || flat.nonEmpty) {
      RootCache.bumpToken(spark, root)
      RootCache.invalidate(spark, root)
    }
    bands.map(b => s"bands/bucket=$b") ++ flat
  }

  /** Targeted DOCUMENT ERASURE — right-to-be-forgotten for the
    * near-dup index: the erased docs' band rows leave only their own
    * bucket directories (found with one id-filtered scan), while
    * `docs` and `postings_<n>` — id-sorted whole tables — rewrite
    * without the ids, preserving the sort + bloom layout. All three
    * kept frames are staged DURABLY and committed via
    * [[EraseStage]]'s manifest before any directory drops, so a
    * crash mid-erase is recoverable ([[EraseStage.recover]], run at
    * the start of every erase) instead of silently losing kept rows.
    * After the erase, [[query]]/[[queryAll]] can never return the
    * doc (its bands are gone) and its text/shingles exist nowhere in
    * the index. Quiesced maintenance op. Idempotent: absent ids
    * no-op.
    */
  def erase(spark: SparkSession, root: String, docIds: Seq[Long],
      n: Int = 3): Unit = {
    if (docIds.isEmpty) return
    if (EraseStage.recover(spark, root)) RootCache.invalidate(spark, root)
    val legs = eraseLegs(spark, root, docIds, n)
    if (legs.isEmpty) return
    RootCache.bumpToken(spark, root)
    EraseStage.run(spark, root, legs)
    legs.foreach(l => NearDup.releaseCheckpoint(l._2))
    RootCache.invalidate(spark, root)
  }

  /** The staged legs [[erase]] commits — the seam the read-path
    * recovery specs use to crash exactly at the manifest commit and
    * assert a plain [[query]] completes the erase. Empty when none of
    * the ids are present.
    */
  private[graft] def eraseLegs(spark: SparkSession, root: String,
      docIds: Seq[Long], n: Int): Seq[(EraseStage.Leg, DataFrame)] = {
    val bands = spark.read.parquet(s"$root/bands")
    val buckets = bands.filter(col("doc_id").isin(docIds: _*))
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return Seq.empty
    val keepBands = bands.filter(col("bucket").isin(buckets: _*))
      .filter(!col("doc_id").isin(docIds: _*))
      .localCheckpoint(true)
    // no pre-sort here: the id-sorted layout is re-established by
    // apply() itself (sortCol in the manifest), AFTER the staged
    // round-trip that would otherwise interleave the sorted runs
    val keepDocs = spark.read.parquet(s"$root/docs")
      .filter(!col("doc_id").isin(docIds: _*))
      .localCheckpoint(true)
    val keepPost = spark.read.parquet(s"$root/postings_$n")
      .filter(!col("doc_id").isin(docIds: _*))
      .localCheckpoint(true)
    val bloom = Map("parquet.bloom.filter.enabled#doc_id" -> "true")
    Seq(
      EraseStage.Swap("bands", "bucket", buckets.map(_.toString)) -> keepBands,
      EraseStage.Overwrite("docs", bloom, Some("doc_id")) -> keepDocs,
      EraseStage.Overwrite(s"postings_$n", bloom, Some("doc_id")) -> keepPost)
  }

  /** (query_id, match_id) pairs: for each query doc, every corpus doc
    * it is an exact-verified near-duplicate of (n-gram Jaccard >=
    * num/den). LSH-candidate odds match [[NearDup.minhashPairs]]:
    * identical docs always collide; a true near-dup at j=0.8 is
    * missed w.p. ~2e-4. Executes eagerly (the [[SearchIndex.query]]
    * serving-loop discipline); `queries` is a bounded serving batch.
    *
    * Per-call cost is THREE jobs: the query bands are collected once
    * (bandsN·|queries| rows — the same bounded-driver-metadata class
    * as the bucket set they replace, and they feed both the static
    * bucket pruning and the probe side as a local relation), the
    * pruned probe join collects its collision pairs (|queries| ×
    * ~1e-9-odds collisions), and verification runs over candidate
    * docs only. Earlier shape pinned two intermediates with
    * localCheckpoints — five jobs of scheduling for the same bounded
    * data.
    */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      n: Int = 3, thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    // job 1: the query batch's band buckets, collected — derives the
    // static bucket pruning AND replays as the probe-side local
    // relation (no checkpoint, no second pass)
    val qbDf = IncrementalDedup.bandBuckets(queries)
      .withColumn("bucket", bucketOf(col("band_hash")))
      .select(col("doc_id").as("query_id"),
        col("band_idx"), col("band_hash"), col("bucket"))
    val qbRows = qbDf.collect()
    val buckets = qbRows.map(_.getAs[Int]("bucket")).distinct.toSeq
    val probe = spark.createDataFrame(
      spark.sparkContext.parallelize(qbRows.toSeq, 1), qbDf.schema)
    // job 2: pruned probe join → collision pairs (bounded), so the
    // doc read below prunes statically (rowgroup stats + bloom)
    val candRows = indexFrame(spark, root, "bands")
      .where(col("bucket").isin(buckets: _*))
      .join(broadcast(probe), Seq("bucket", "band_idx", "band_hash"))
      .select(col("query_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
      .collect()
    val candIds = candRows.map(_.getLong(1)).distinct.toSeq
    import spark.implicits._
    val cand = candRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("doc_a", "doc_b")
    // job 3: exact verification — candidate postings come from the
    // MATERIALIZED postings table (bloom/rowgroup-pruned on the
    // bounded id set), so index docs are never re-tokenized at query
    // time; only the query batch itself shingles
    val candPost = indexFrame(spark, root, s"postings_$n")
      .where(col("doc_id").isin(candIds: _*))
    val postings = NearDup
      .postingsNoCache(queries.select(col("doc_id"), col("text")), n)
      .unionByName(candPost)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = NearDup.verifyPairs(cand, postings, thresholdNum, thresholdDen)
      .select(col("doc_a").as("query_id"), col("doc_b").as("match_id"))
      .localCheckpoint(true)
    postings.unpersist(blocking = false)
    out
  }

  /** OFFLINE all-vs-index near-dup lookup: the same verified
    * (query_id, match_id) pairs as [[query]] but fully distributed
    * and LAZY — no collects anywhere, so `queries` can be an
    * unbounded dataset (corpus-vs-corpus decontamination audits,
    * candidate-batch dedup at ingest volume). The [[PqIndex.query]]
    * `broadcastQueries=false` discipline:
    *
    *  - candidate generation is a SHUFFLE equi-join of the full band
    *    index against the query bands on (bucket, band_idx,
    *    band_hash) — banded, never all-pairs, collision odds as
    *    [[NearDup.minhashPairs]];
    *  - candidate POSTINGS are fetched by LEFT SEMI join on doc_id
    *    from the materialized postings table (the bounded path's
    *    bloom pruning needs a driver id list; at offline volume the
    *    id set is data-sized, so it stays an executor-side join) —
    *    no candidate text is ever re-tokenized, and the docs-fetch
    *    stage is gone from the DAG entirely;
    *  - the two multiply-consumed intermediates ARE persisted:
    *    `cand` feeds both the doc fetch and the verify join, and
    *    verification scans its postings twice (both pair sides) —
    *    uncached, the whole candidate DAG re-executes per consumer
    *    (measured 2× wall on the gate). A lazy return value cannot
    *    unpersist after its caller materializes, so each call
    *    releases the PREVIOUS call's generation instead — bounded at
    *    one generation of (cand, postings), both volume-sized,
    *    MEMORY_AND_DISK.
    *
    * Latency note: the DAG is ~10 sequential shuffle stages deep
    * (candidates → semi-join fetch → shingle → two verify joins), so
    * small-corpus wall time is stage-scheduling-dominated — the
    * bounded [[query]] path is the low-latency shape. This path is
    * for VOLUME, where per-stage throughput, not stage count, is the
    * cost; callers iterating over the result should persist it.
    */
  def queryAll(spark: SparkSession, root: String, queries: DataFrame,
      n: Int = 3, thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = synchronized {
    lastOfflineGen.foreach(_.unpersist(blocking = false))
    val qb = IncrementalDedup.bandBuckets(queries)
      .withColumn("bucket", bucketOf(col("band_hash")))
      .select(col("doc_id").as("query_id"),
        col("band_idx"), col("band_hash"), col("bucket"))
    val cand = indexFrame(spark, root, "bands")
      .join(qb, Seq("bucket", "band_idx", "band_hash"))
      .select(col("query_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate postings come from the MATERIALIZED postings table
    // (semi-join on the data-sized candidate id set — executor-side,
    // no collects): index docs are shingled ONCE at admit time, never
    // re-tokenized per query-all call, which also drops the whole
    // docs-fetch stage from this DAG
    val candPost = indexFrame(spark, root, s"postings_$n")
      .join(cand.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    val postings = NearDup
      .postingsNoCache(queries.select(col("doc_id"), col("text")), n)
      .unionByName(candPost)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lastOfflineGen = Seq(cand, postings)
    NearDup.verifyPairs(cand, postings, thresholdNum, thresholdDen)
      .select(col("doc_a").as("query_id"), col("doc_b").as("match_id"))
  }

  /** The previous [[queryAll]] call's persisted intermediates —
    * released on the next call (see the persist-lifecycle note).
    */
  private var lastOfflineGen: Seq[DataFrame] = Nil
}
