package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.ops.{NearDup, Pack}

/** Training-data-pipeline queries over the `documents` table:
  * text analysis (token stats, quality ratios, language ID,
  * fingerprints) and the dedup family (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash).
  *
  * Ratios are the only doubles in any output, and each is a single
  * IEEE division of two exact integers — bit-identical across
  * engines. Everything else is BIGINT/STRING.
  */
object DocQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Token counting + quality scoring (length/stopword/type-token
    * ratios + BPE-ish token estimate).
    */
  def docStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("n_tokens"),
      Text.distinctTokenCount(col("text")).as("n_distinct"),
      Text.markerHits(col("text"), Text.stopwords).as("n_stop"),
      Text.estBpeTokens(col("n_chars")).as("est_bpe_tokens"),
      Text.regexTokenCount(col("text")).as("n_regex_tokens"),
      Text.punctCount(col("text")).as("n_punct"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_tokens"))
  }

  /** Marker-token language ID with per-language scores. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val hitCols = Text.langMarkers.map { case (lang, ws) =>
      Text.markerHits(col("text"), ws).as(s"hits_$lang")
    }
    d.select((col("doc_id") +: hitCols) :+ Text.langId(col("text")).as("lang_pred"): _*)
  }

  /** Language-ID CONFUSION matrix — declared `lang` column vs the
    * n-gram-heuristic prediction, with exact integer-permille share
    * of each declared language's docs: the metadata-trust audit a
    * curation pipeline runs before keying any decision off declared
    * language (crawl metadata lies; the classifier is the check).
    * Row-local scoring, one map-side aggregate onto the lang² domain,
    * the share window over that bounded table.
    */
  def docLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val counts = Tables.documents(spark, dir)
      .select(col("lang").as("declared"),
        Text.langId(col("text")).as("predicted"))
      .groupBy(col("declared"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("declared"))
    counts
      .withColumn("declared_total", sum(col("n_docs")).over(w))
      .select(col("declared"), col("predicted"), col("n_docs"),
        column(IntegralDivide(
          expression(col("n_docs") * 1000L),
          expression(col("declared_total")))).cast("long").as("share_permille"))
  }

  /** CURRICULUM ordering — the quality-staged training sequence:
    * documents banded into quality deciles (exact distributed NTILE
    * over the integer logit, best first), then given a global
    * position that walks the bands in order with a deterministic
    * hash shuffle WITHIN each band (easy-first curriculum with
    * decorrelated in-band order — sorted-by-quality within a band
    * would correlate adjacent training batches). Both stages are the
    * range-partitioned exclusive scan ([[graft.ops.Rank]]), never a
    * single-task `Window.orderBy`; every number is integer-exact.
    */
  def docCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (lit(50L) * Text.distinctTokenCount(col("text"))
          - lit(8L) * Text.tokenCount(col("text"))
          + lit(25L) * Text.markerHits(col("text"), Text.stopwords)
          - lit(30L) * Text.punctCount(col("text"))).as("logit"))
    val banded = graft.ops.Rank.globalNtile(scored,
      Seq(col("logit").desc, col("doc_id").asc), n = 10, out = "band")
    graft.ops.Rank.globalRowNumber(
        banded.withColumn("_h", graft.ops.Sample.hash60(col("doc_id"))),
        Seq(col("band").asc, col("_h").asc, col("doc_id").asc), out = "seq")
      .select(col("doc_id"), col("logit"), col("band"), col("seq"))
  }

  /** Exact + bag-of-words document fingerprints. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.fingerprint(col("text")).as("fp"),
      Text.bagFingerprint(col("text")).as("bag_fp"))

  /** Exact-duplicate groups by full-text hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    NearDup.exactDupGroups(Tables.documents(spark, dir))

  /** Exact 3-gram Jaccard >= 0.5 near-dup pairs (inverted-index
    * join — never all-pairs). Served from the materialized pair
    * table ([[nearDupRoot]] — four gates consume this graph; like
    * the curation stages, a production run materializes it once).
    * `tools.ScaleBench` times [[dedupJaccardCompute]] instead, so the
    * 10× slope table keeps measuring the banding computation.
    */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${nearDupRoot(spark, dir)}/pairs")

  private[graft] def dedupJaccardCompute(spark: SparkSession,
      dir: String): DataFrame =
    NearDup.jaccardPairs(Tables.documents(spark, dir), n = 3,
      thresholdNum = 1, thresholdDen = 2)

  /** Materialized full-corpus near-dup artifacts — the Jaccard≥0.5
    * pair graph and its canonical component labels — built once per
    * corpus fingerprint and consumed by `q_doc_dedup_jaccard`,
    * `q_doc_dedup_canonical`, `q_doc_cluster_sizes`, and
    * `q_doc_dedup_best` (each used to recompute the banding + star
    * contraction from scratch). Narrow id-width tables.
    */
  private val nearDupCache = new graft.FpMemo.TempRoots("graft_neardup_labels",
    "documents")

  private def nearDupRoot(spark: SparkSession, dir: String): String =
    nearDupCache.root(spark, dir) { p =>
      dedupJaccardCompute(spark, dir).write.parquet(s"$p/pairs")
      NearDup.canonicalize(spark.read.parquet(s"$p/pairs"))
        .write.parquet(s"$p/labels")
    }

  /** MinHash+LSH candidates exact-verified at Jaccard >= 0.8 —
    * result set equals the exact >=0.8 pairs (miss prob ~5e-8), which
    * is what the oracle computes.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    NearDup.minhashPairs(Tables.documents(spark, dir))

  /** Cross-corpus dedup — "dedup this crawl against the frozen
    * previous dump" ([[NearDup.crossDedupSurvivors]]): odd-id docs
    * (the fresh crawl) survive iff NO even-id doc (the frozen dump)
    * is a Jaccard >= 0.8 near-dup. Candidates are band matches
    * ACROSS the two corpora only, exact-verified, so the survivor
    * set equals the oracle's NOT-EXISTS over exact cross pairs.
    */
  def docCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    NearDup.crossDedupSurvivors(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  /** Distribution-drift audit between the frozen dump (even ids) and
    * the fresh crawl (odd ids) — [[graft.ops.Drift.audit]] over lang,
    * source, and the log-bucketed token length: exact integer-permille
    * total variation distance per feature plus its most drifted
    * value. The pre-mixing data-quality check a pipeline runs before
    * admitting a new crawl.
    */
  def docDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("ntok", Text.tokenCount(col("text")))
    graft.ops.Drift.audit(d, col("doc_id") % 2 === 0, driftFeatures)
  }

  /** TOKEN-MASS drift — the same audit with each doc weighted by its
    * token count, so proportions are token shares rather than doc
    * counts: the drift a mixture planner actually budgets against (a
    * few giant fresh docs can shift token mass while doc-count
    * proportions barely move).
    */
  def docDriftTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("ntok", Text.tokenCount(col("text")))
    graft.ops.Drift.audit(d, col("doc_id") % 2 === 0, driftFeatures,
      weight = col("ntok"))
  }

  /** The drift audit rebuilt from STREAMED additive count state
    * ([[graft.ops.Drift.countState]]) — documents ingested in
    * id-ordered thirds, per-batch (feature, value) count deltas
    * re-summed at read. Additivity makes stream-final ≡ batch under
    * any split, so the gate shares `q_doc_drift`'s oracle verbatim.
    */
  def docDriftStream(spark: SparkSession, dir: String): DataFrame =
    driftReplay(spark, dir, lit(1L))

  /** [[docDriftTokens]] rebuilt from streamed additive count state —
    * token-mass sums are as additive as doc counts, so the weighted
    * monitor streams through the same state and the gate shares
    * `q_doc_drift_tokens`' oracle verbatim.
    */
  def docDriftTokensStream(spark: SparkSession, dir: String): DataFrame =
    driftReplay(spark, dir, col("ntok"))

  private def driftReplay(spark: SparkSession, dir: String,
      weight: org.apache.spark.sql.Column): DataFrame =
    graft.ops.Drift.auditFromCounts(
      graft.ops.Drift.countState(col("doc_id") % 2 === 0, driftFeatures, weight)
        .replay(spark, OlapQueries.docIdBatches(spark, dir)
          .map(_.withColumn("ntok", Text.tokenCount(col("text"))))))

  private def driftFeatures: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "lang" -> col("lang"),
    "source" -> col("source"),
    "len_bucket" -> graft.serving.Serving.logBucket(col("ntok")))

  /** SimHash (frequency-weighted, 60-bit, md5-derived token hash)
    * pairs at Hamming <= 3 via pigeonhole chunk blocking. The token
    * hash is reproducible in DuckDB, so the oracle recomputes the
    * full signature + brute-force pair set and hash-checks doc pairs
    * AND their exact Hamming distances.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    NearDup.simhashPairs(Tables.documents(spark, dir), maxDist = 3)

  /** Canonical dedup groups over the Jaccard>=0.5 pair graph: every
    * doc in a near-dup component maps to its minimum doc_id — the
    * "keep one survivor" output a training pipeline consumes. Served
    * from the materialized label table ([[nearDupRoot]]); ScaleBench
    * times [[dedupCanonicalCompute]].
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${nearDupRoot(spark, dir)}/labels")

  private[graft] def dedupCanonicalCompute(spark: SparkSession,
      dir: String): DataFrame =
    NearDup.canonicalize(dedupJaccardCompute(spark, dir))

  /** Dedup AUDIT: the cluster-size distribution of the Jaccard>=0.5
    * near-dup graph — how much of the corpus is duplicated and how
    * big the dup families are (the histogram a curation run reports
    * before deciding thresholds; singletons counted from the doc
    * total minus clustered docs, so no per-doc anti-join). Pure
    * composition of gated operators plus two tiny aggregates; the
    * histogram domain is bounded by the largest component, and
    * everything after the component walk is integer counts.
    */
  def docClusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusterSizesOf(spark, dir, dedupCanonical(spark, dir))

  private[graft] def docClusterSizesCompute(spark: SparkSession,
      dir: String): DataFrame =
    clusterSizesOf(spark, dir, dedupCanonicalCompute(spark, dir))

  private def clusterSizesOf(spark: SparkSession, dir: String,
      comp: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sizes = comp.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("n_clustered"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_clustered")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionAll(singles)
  }

  /** BEST-survivor near-dup collapse — the keep policy a quality-
    * aware curation run uses instead of min-id: within each
    * Jaccard>=0.5 component, the surviving doc is the one with the
    * HIGHEST quality-model logit (ties to the lowest id), so dedup
    * removes the *worse* copies. Composition of two gated operators
    * (canonical components × model scores); one component-keyed
    * `max_by` agg on top, no extra fact scan.
    */
  def docDedupBest(spark: SparkSession, dir: String): DataFrame =
    dedupBestOf(spark, dir, dedupCanonical(spark, dir))

  private[graft] def docDedupBestCompute(spark: SparkSession,
      dir: String): DataFrame =
    dedupBestOf(spark, dir, dedupCanonicalCompute(spark, dir))

  private def dedupBestOf(spark: SparkSession, dir: String,
      comp: DataFrame): DataFrame =
    comp
      .join(docQualityModel(spark, dir).select(col("doc_id"), col("logit")),
        "doc_id")
      .groupBy(col("canonical_id"))
      // ordering key is the STRUCT (logit desc, id asc via negation)
      // — struct comparison is lexicographic, so this orders exactly
      // like the pair with no packed-long overflow cliff (logit·1e12
      // wraps silently in Spark but raises in DuckDB once |logit|
      // clears ~9.2e6, and a multi-MB doc's terms can get there)
      .agg(
        max_by(col("doc_id"),
          struct(col("logit"), (-col("doc_id")).as("neg_id")))
          .as("best_id"),
        max(col("logit")).as("best_logit"),
        count(lit(1)).as("n_docs"))

  /** Normalized text + post-normalization fingerprint (the dedup key
    * robust to case/punctuation/whitespace variants).
    */
  def docNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.normalize(col("text")).as("norm_text"))
      .withColumn("norm_fp", md5(col("norm_text")))

  /** Quality filter — the keep-set a training pipeline materializes:
    * token-count bounds plus stopword/type-token-ratio thresholds
    * (threshold literals identical on both engines, so the double
    * comparisons agree exactly).
    */
  def docQualityFilter(spark: SparkSession, dir: String): DataFrame =
    docStats(spark, dir)
      .filter(col("n_tokens") >= 5 && col("n_tokens") <= 500 &&
        col("stop_ratio") <= 0.5 && col("ttr") >= 0.2)
      .select("doc_id", "n_tokens", "n_distinct")

  /** Model-based quality scoring (the CCNet/fastText-classifier stage
    * of a curation pipeline, distinct from [[docQualityFilter]]'s
    * hand rules): a linear classifier DISTILLED TO INTEGER WEIGHTS
    * scores every document row-locally —
    * logit = 50·n_distinct − 8·n_tokens + 25·n_stop − 30·n_punct —
    * rewarding lexical diversity and stopword fluency, penalizing
    * length-repetition and punctuation noise. The weight vector is
    * driver metadata (here literals; a learned model drops in the
    * same way), the features are the established integer Text
    * signals, so the score is exact and the gate hash-checks it.
    *
    * Scale shape: embarrassingly parallel — no shuffle, no window, no
    * per-group sort; calibration is a fixed threshold (keep=logit≥800,
    * both classes populated on the synthetic corpus), NOT a per-lang
    * ntile, which would be a single-reducer sort per language.
    */
  def docQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), col("lang"),
        (lit(50L) * Text.distinctTokenCount(col("text"))
          - lit(8L) * Text.tokenCount(col("text"))
          + lit(25L) * Text.markerHits(col("text"), Text.stopwords)
          - lit(30L) * Text.punctCount(col("text"))).as("logit"))
      .withColumn("keep", (col("logit") >= 800L).cast("long"))
  }

  /** PER-SOURCE quality report — "which crawl sources are worth
    * keeping": doc count, token mass, exact integer mean quality
    * logit, and keep-rate permille per source, from the same
    * row-local [[docQualityModel]] score. The decision table behind
    * source-level allow/deny lists and mixture re-weighting. One
    * narrow pass; the aggregate collapses map-side onto the source
    * alphabet.
    */
  def docSourceQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val d = Tables.documents(spark, dir)
    d.select(col("source"), Text.tokenCount(col("text")).as("ntok"),
        (lit(50L) * Text.distinctTokenCount(col("text"))
          - lit(8L) * Text.tokenCount(col("text"))
          + lit(25L) * Text.markerHits(col("text"), Text.stopwords)
          - lit(30L) * Text.punctCount(col("text"))).as("logit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(col("logit")).as("sum_logit"),
        sum(when(col("logit") >= 800L, 1L).otherwise(0L)).as("n_keep"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        column(IntegralDivide(
          expression(col("sum_logit")),
          expression(col("n_docs")))).cast("long").as("mean_logit"),
        column(IntegralDivide(
          expression(col("n_keep") * 1000L),
          expression(col("n_docs")))).cast("long").as("keep_permille"))
  }

  /** END-TO-END batch curation — the composition a training-data run
    * actually executes, each stage an individually-gated operator:
    * (1) model keep-set ([[docQualityModel]], logit ≥ 800);
    * (2) exact dedup among survivors (min doc_id per md5 text);
    * (3) near-dup collapse over what remains (Jaccard ≥ 0.5 pairs →
    * star-contraction components, component root survives). Output is
    * the final training set (doc_id, logit). Composing AFTER filtering
    * is the cheap order — every dedup join runs over the already-
    * shrunk survivor set — and each stage keeps its own plan shape
    * (row-local scoring; hash groupBy; bucketed postings equi-joins +
    * O(log² n) contraction rounds), so the composition inherits the
    * per-stage 100 TB story unchanged. The oracle mirrors all three
    * stages in one recursive-CTE pipeline, so the gate hash-checks the
    * COMPOSITION, not just the parts.
    */
  def docCurate(spark: SparkSession, dir: String): DataFrame =
    curateFrames(spark, dir)._4.select(col("doc_id"), col("logit"))

  /** The full curation COMPUTATION, no materialized stages — what
    * `tools.ScaleBench` times for the 10× slope table (the gate above
    * serves from the per-fingerprint stage tables).
    */
  private[graft] def docCurateCompute(spark: SparkSession,
      dir: String): DataFrame = {
    val (_, _, reps, labels) = curateStagesCompute(spark, dir)
    reps.join(labels, Seq("doc_id"), "left")
      .filter(col("canonical_id").isNull ||
        col("canonical_id") === col("doc_id"))
      .select(col("doc_id"), col("logit"))
  }

  /** The curation pipeline's stage frames — (input, model-kept,
    * exact-dedup reps, near-dup survivors) — shared by [[docCurate]]
    * and the funnel report ([[docCurationFunnel]]).
    */
  private def curateFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (d, kept, reps, labels) = curateStages(spark, dir)
    val survivors = reps.join(labels, Seq("doc_id"), "left")
      .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
    (d, kept, reps, survivors)
  }

  /** The three shared curation stages — (input, model-kept, exact-
    * dedup reps, near-dup component labels) — ONE definition for
    * [[curateFrames]] (min-id survivor policy) and [[docCurateBest]]
    * (highest-logit policy): the two pipelines differ only in the
    * final component-keyed reduction, and duplicating the stages
    * would let a threshold change silently fork one from the other
    * (and from the funnel report).
    */
  private def curateStages(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // the stage outputs MATERIALIZE once per corpus fingerprint —
    // what a production curation run does (each stage's output is the
    // next stage's input and the audit trail), and what keeps the
    // four gates over this pipeline (curate, best-survivor, funnel,
    // and their downstream reads) from re-running the quality model +
    // banded Jaccard + star contraction once each. Only the NARROW
    // id/logit/label columns persist (text stays in the corpus table
    // — at 100 TB the stage tables are id-width, not corpus-width).
    val root = curateCache.root(spark, dir) { p =>
      val (_, kept, reps, labels) = curateStagesCompute(spark, dir)
      kept.select(col("doc_id"), col("logit")).write.parquet(s"$p/kept")
      reps.select(col("doc_id"), col("logit")).write.parquet(s"$p/reps")
      labels.write.parquet(s"$p/labels")
    }
    (Tables.documents(spark, dir),
      spark.read.parquet(s"$root/kept"),
      spark.read.parquet(s"$root/reps"),
      spark.read.parquet(s"$root/labels"))
  }

  private val curateCache = new graft.FpMemo.TempRoots("graft_curate", "documents")

  private[graft] def curateStagesCompute(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dir)
    val kept = docQualityModel(spark, dir)
      .filter(col("keep") === 1).select(col("doc_id"), col("logit"))
      .join(d.select(col("doc_id"), col("text")), Seq("doc_id"))
    val reps = kept
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), col("logit"), col("text"))
    val labels = NearDup.canonicalize(
      NearDup.jaccardPairs(reps.select(col("doc_id"), col("text")),
        n = 3, thresholdNum = 1, thresholdDen = 2))
    (d, kept, reps, labels)
  }

  /** Curation FUNNEL report — the pipeline-observability table every
    * curation run ships with: per stage (model filter → exact dedup →
    * near-dup collapse), how many docs entered, how many survived,
    * and the exact integer-permille retention. Each count is a 1-row
    * aggregate; the stage rows are broadcast 1-row crossJoins
    * (bounded metadata, the est_ok verification shape), so the report
    * costs the same three stage computations the pipeline itself
    * runs, plus nothing. Stage names are a/b/c-prefixed so lexical
    * order IS pipeline order.
    */
  def docCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val (d, kept, reps, surv) = curateFrames(spark, dir)
    def n(df: DataFrame, as: String) =
      df.agg(count(lit(1)).cast("long").as(as))
    def stage(name: String, in: DataFrame, out: DataFrame) =
      n(in, "n_in").crossJoin(broadcast(n(out, "n_out")))
        .select(lit(name).as("stage"), col("n_in"), col("n_out"),
          column(IntegralDivide(
            expression(col("n_out") * 1000L),
            expression(col("n_in")))).cast("long").as("kept_permille"))
    stage("a_quality_model", d, kept)
      .unionByName(stage("b_exact_dedup", kept, reps))
      .unionByName(stage("c_near_dup", reps, surv))
  }

  /** The same end-to-end curation with the QUALITY-AWARE survivor
    * policy ([[docDedupBest]]'s): the near-dup stage keeps each
    * component's highest-logit member instead of the min-id root —
    * the composition a production run prefers, since dedup then
    * removes the worse copies. Identical plan shapes; only the final
    * component-keyed reduction changes (max_by on the packed
    * (logit, −id) key).
    */
  def docCurateBest(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, reps, labels) = curateStages(spark, dir)
    reps.join(labels, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("canonical_id"), col("doc_id")))
      .groupBy(col("comp"))
      // struct ordering (logit desc, id asc) — see docDedupBest's
      // overflow note on why this is not a packed long
      .agg(max_by(struct(col("doc_id"), col("logit")),
        struct(col("logit"), (-col("doc_id")).as("neg_id"))).as("s"))
      .select(col("s.doc_id").as("doc_id"), col("s.logit").as("logit"))
  }

  /** The STREAMING curation composition, gated: drive
    * [[graft.streaming.CurationIngest]] (normalize → quality filter →
    * first-wins exact dedup, the [[graft.streaming.DocPipeline]]
    * pipeline on the deterministic admit pattern) over three
    * id-ordered micro-batches of the corpus — direct `processBatch`
    * calls, i.e. exactly the foreachBatch body; the live-harness leg
    * (MemoryStream, checkpoint, replay) is StreamingVariantsSpec's —
    * then read back the admitted set. On an id-ordered stream the
    * admitted set equals the batch composition, so the oracle is the
    * plain batch SQL: quality keep-set deduped to the min-id row per
    * normalized fingerprint. This hash-gates the streamed composition
    * end-to-end the way `q_doc_curate` gates the batch one.
    */
  def docCurateStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation_gate").toString
    OlapQueries.docIdBatches(spark, dir).zipWithIndex.foreach { case (b, i) =>
      // release each batch's pinned localCheckpoint blocks — the gate
      // reads the parquet result, not the returned frame
      NearDup.releaseCheckpoint(graft.streaming.CurationIngest.processBatch(
        b, i.toLong, s"$tmp/kept", s"$tmp/index"))
    }
    spark.read.parquet(s"$tmp/kept").select(col("doc_id"), col("n_tokens"))
  }

  /** Length-distribution quantiles (the cut points a percentile-based
    * quality filter uses). Exact `percentile` with linear
    * interpolation — same definition as DuckDB's quantile_cont, and
    * interpolation on integer inputs stays exactly representable.
    */
  def docLengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(
      percentile(col("n_chars"), lit(0.25)).as("p25"),
      percentile(col("n_chars"), lit(0.5)).as("p50"),
      percentile(col("n_chars"), lit(0.75)).as("p75"),
      percentile(col("n_chars"), lit(0.9)).as("p90"))

  /** Within-document repetition (the Gopher/C4 duplicate-n-gram-
    * fraction quality rule): share of a doc's 3-gram positions whose
    * gram already occurred — high values flag boilerplate/spam. Exact
    * integer counts; the ratio is one IEEE division, bit-identical
    * across engines.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        (size(col("toks")) - 2).cast("long").as("total_3grams"),
        size(Text.shinglesFromTokens(col("toks"), 3)).cast("long").as("distinct_3grams"))
      .filter(col("total_3grams") > 0)
      .withColumn("dup_gram_ratio",
        (col("total_3grams") - col("distinct_3grams")).cast("double") / col("total_3grams"))
  }

  /** Corpus-wide 10-word-segment dedup with document reassembly —
    * [[NearDup.segmentDedup]]: each distinct segment survives only at
    * its first corpus occurrence; docs reduced to nothing drop out.
    */
  def docSegmentDedup(spark: SparkSession, dir: String): DataFrame =
    NearDup.segmentDedup(Tables.documents(spark, dir), segWords = 10)

  /** Boilerplate segment scrub (every copy of a corpus-repeated
    * segment removed) — see [[graft.ops.NearDup.boilerplateScrub]].
    */
  def docBoilerplate(spark: SparkSession, dir: String): DataFrame =
    NearDup.boilerplateScrub(Tables.documents(spark, dir), segWords = 10)

  /** The STREAMED boilerplate scrub, gated against the BATCH gate's
    * own oracle: drive [[graft.streaming.BoilerplateIngest]] over
    * three micro-batches (direct `processBatch` calls — the
    * foreachBatch body; the live harness is spec-covered) and read
    * the threshold-at-read result. The additive count state is
    * order-independent, so the shared oracle needs no arrival-order
    * caveat at all — the strongest stream≡batch contract in the
    * scrub family, here hash-checked cross-engine.
    */
  def docBoilerplateStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_boil_gate").toString
    OlapQueries.docIdBatches(spark, dir).zipWithIndex.foreach { case (b, i) =>
      graft.streaming.BoilerplateIngest.processBatch(
        b, i.toLong, s"$tmp/segs", s"$tmp/counts", segWords = 10)
    }
    graft.streaming.BoilerplateIngest.readScrubbed(
      spark, s"$tmp/segs", s"$tmp/counts")
  }

  /** Overlapping duplicated-span scrub (suffix-array-dedup analog) at
    * k=5 words — see [[graft.ops.NearDup.spanScrub]].
    */
  def docSpanScrub(spark: SparkSession, dir: String): DataFrame =
    NearDup.spanScrub(Tables.documents(spark, dir), k = 5)

  /** Deterministic train/val/test split: hash-bucket each doc_id into
    * 100 buckets (80/10/10). Pure function of the id — stable across
    * runs/engines, new data never reshuffles old assignments.
    */
  def docSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.hashBucket(col("doc_id"), 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  /** Benchmark decontamination: distinct 3-gram shingles each
    * candidate doc (doc_id >= 10) shares with the "benchmark" set
    * (doc_id < 10) — the overlap report a pipeline drops/flags
    * contaminated training docs from.
    */
  def docContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    NearDup.contaminationOverlap(
      d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10), n = 3)
  }

  /** Sparse lexical retrieval: top-10 corpus docs for each of the 5
    * lowest-id query docs, ranked by the integer-exact TF-IDF score
    * (see [[graft.ops.SparseSearch]]) — the postings-join ranked
    * search complementing the dense KNN family.
    */
  def docSearchSparse(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SparseSearch.rankedRetrieval(
      Tables.documents(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)

  /** Hybrid retrieval: the sparse leg served from the MATERIALIZED
    * inverted index ([[graft.serving.SearchIndex]]) fused with a
    * dense leg served from the MATERIALIZED IVF index
    * ([[graft.serving.AnnIndex]], exhaustive probe ≡ brute force;
    * vec_id ≡ doc_id in the testdata) by integer-exact
    * reciprocal-rank fusion ([[graft.ops.HybridSearch]]) — the
    * composition a real retrieval stack runs: every leg probes its
    * serving index, nothing recomputes from the raw corpus
    * (reference analog: queries always go through the materialized
    * Pinot tables, QueryService.kt:105). The two legs never join —
    * fusion is one keyed groupBy over their union — and the oracle
    * recomputes both legs directly and the fused ranking end-to-end,
    * so the gate hash-checks served ≡ direct through the fusion.
    */
  def docSearchHybrid(spark: SparkSession, dir: String): DataFrame = {
    // The two legs are independent until the fuse, but BUILDING each
    // one runs eager driver work (the sparse leg collects the query
    // batch's postings; the dense leg prepares index roots and
    // centroids) — sequential, that serializes ~half the gate's wall
    // time into driver-side gaps between jobs (JobProfile r16: 17
    // jobs, job-sum 1.9 s, wall 3.5 s). Constructing the legs on two
    // driver threads overlaps those round-trips (guide §2.6 —
    // actions are only sequential because the driver calls them
    // sequentially); each leg touches its OWN index-root cache, and
    // the fused frame is a pure function of the two leg frames, so
    // construction order cannot affect the result.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sparseF = Future {
      val docs = Tables.documents(spark, dir)
      graft.serving.SearchIndex.query(spark,
          searchIndexRoot(spark, dir), docs.filter(col("doc_id") < 5), k = 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    }
    val denseF = Future {
      val emb = Tables.embeddings(spark, dir)
      graft.serving.AnnIndex.query(spark,
          EmbedQueries.annIndexRoot(spark, dir),
          emb.filter(col("vec_id") < 5),
          EmbedQueries.annCentroids(spark, dir), k = 10, nprobe = 16)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
    }
    val sparse = Await.result(sparseF, Duration.Inf)
    val dense = Await.result(denseF, Duration.Inf)
    graft.ops.HybridSearch.rrfFuse(Seq(sparse, dense), k = 10)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"),
        col("rrf_scaled"), col("n_legs"))
  }

  private val searchIndexCache =
    new graft.FpMemo.TempRoots("graft_search_index", "documents")

  /** Root of the materialized inverted index for `dir`'s documents,
    * built on first use per dataset fingerprint ([[graft.FpMemo]]).
    */
  private[graft] def searchIndexRoot(spark: SparkSession, dir: String): String =
    searchIndexCache.root(spark, dir)(p =>
      graft.serving.SearchIndex.materialize(Tables.documents(spark, dir), p))

  /** Sparse retrieval served from the MATERIALIZED inverted index
    * ([[graft.serving.SearchIndex]]): term-bucket-partitioned parquet
    * written once per dataset fingerprint, then probed with the
    * query's bucket set. Same integer scoring as the direct path, so
    * it shares the oracle; the pruning/append behavior is covered by
    * SearchIndexSpec.
    */
  def docSearchServed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.serving.SearchIndex.query(spark, searchIndexRoot(spark, dir),
      docs.filter(col("doc_id") < 5), k = 10)
  }

  private val nearDupIndexCache =
    new graft.FpMemo.TempRoots("graft_neardup_index", "documents")

  /** Served near-duplicate lookup from the MATERIALIZED band index
    * ([[graft.serving.NearDupIndex]]): docs 50+ are the admitted
    * corpus, docs <50 probe it — each returned (query_id, match_id)
    * pair is an exact-verified n-gram-Jaccard>=0.8 near-duplicate.
    * The oracle recomputes the exact cross pair set; LSH candidate
    * odds are the [[graft.ops.NearDup.minhashPairs]] ones, so the
    * served set equals the exact set on this corpus the same way the
    * q_doc_dedup_minhash gate does.
    */
  def docNearDupServed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.serving.NearDupIndex.query(spark, nearDupIndexRoot(spark, dir),
      docs.filter(col("doc_id") < 50))
  }

  /** Root of the materialized band index over `dir`'s admitted corpus
    * (docs 50+), built on first use per dataset fingerprint
    * ([[graft.FpMemo]]).
    */
  private[graft] def nearDupIndexRoot(spark: SparkSession, dir: String): String =
    nearDupIndexCache.root(spark, dir)(p =>
      graft.serving.NearDupIndex.materialize(
        Tables.documents(spark, dir).filter(col("doc_id") >= 50), p))

  /** The same near-dup lookup through the OFFLINE distributed path
    * ([[graft.serving.NearDupIndex.queryAll]]): shuffle equi-joins,
    * no driver collects, lazy plan — the mode an all-vs-index
    * decontamination audit runs. Pair set is identical to the
    * bounded serving probe, so it shares `q_doc_neardup_served`'s
    * oracle — the gate hash-checks the distributed plan end-to-end.
    */
  def docNearDupOffline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.serving.NearDupIndex.queryAll(spark, nearDupIndexRoot(spark, dir),
      docs.filter(col("doc_id") < 50))
  }

  /** The same ranked retrieval through the OFFLINE distributed path
    * ([[graft.serving.SearchIndex.queryAll]]) — term-key shuffle
    * joins, no bucket collect, lazy plan. Scoring is identical to
    * the direct and served paths, so it shares the sparse oracle.
    */
  def docSearchOffline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.serving.SearchIndex.queryAll(spark, searchIndexRoot(spark, dir),
      docs.filter(col("doc_id") < 5), k = 10)
  }

  /** BPE tokenizer training, step one: the frequency-weighted
    * adjacent-symbol pair census over the character-level word table
    * ([[graft.ops.Bpe.pairCounts]]) — top-20 pairs, the argmax of
    * which is the first merge rule. The corpus collapses to the
    * bounded word-frequency table before any pair math (the Sennrich
    * BPE trick), so this is O(vocab) however large the corpus.
    * Multi-iteration training is driver-loop composed from this same
    * aggregate and is pinned against an in-memory reference in
    * BpeSpec; the gate hash-checks the iterated aggregate itself.
    */
  def docBpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.pairCounts(graft.ops.Bpe.symbolized(
        graft.ops.Bpe.wordFreqs(Tables.documents(spark, dir)), Nil))
      .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
      .limit(20)

  /** The fixed rule chain the encode GATE uses: data-independent so
    * the DuckDB oracle can inline the identical literal replaces
    * (trained rules are data-derived and cannot appear in static
    * oracle SQL — trained-rule parity lives in BpeSpec instead).
    */
  private[graft] val bpeFixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("a", "n"),
    ("s", "t"), ("e", "r"), ("i", "n"), ("o", "r"))

  /** BPE encoding as a pure expression chain ([[graft.ops.Bpe
    * .encode]]): per-doc token count + first-5-token head under the
    * fixed 8-rule merge table, hash-checked against a DuckDB mirror
    * of the same replace chain — proving the merge-application
    * semantics (simultaneous leftmost-first, word-bounded) match the
    * documented BPE definition in an independent engine.
    */
  def docBpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.encode(Tables.documents(spark, dir), bpeFixedMerges)

  /** Rule count of the trained-composition gate — small enough that
    * the DuckDB oracle's stacked per-iteration CTEs stay readable,
    * large enough to exercise multi-level merges (symbol pairs built
    * from earlier merged symbols).
    */
  private[graft] val bpeTrainedN = 8

  /** The actual tokenizer-construction COMPOSITION a user runs:
    * train `bpeTrainedN` merge rules on the corpus
    * ([[graft.ops.Bpe.trainMergesBatched]] — the round-trip-batched
    * trainer, provably equal to the sequential argmax), then encode
    * the same corpus with them. The oracle TRAINS INDEPENDENTLY in
    * DuckDB — `bpeTrainedN` stacked (pair-census → argmax → rewrite)
    * CTE triples with the identical (cnt desc, x, y) tie-break —
    * then applies its own trained rules, so the gate hash-checks the
    * whole train→encode path cross-engine, not a fixed rule list
    * (the [[docBpeEncode]] gate covers that), and doubles as an
    * end-to-end batched≡sequential check on real data.
    */
  // Trained merge rules are deterministic bounded driver metadata
  // (bpeTrainedN string pairs; the oracle retrains independently and
  // matches), so the trained and pack gates share one driver-side
  // training pass (FpMemo). The STREAM-census path deliberately stays
  // separate.
  private val bpeMerges = new graft.FpMemo[Seq[(String, String)]]()

  private def bpeTrainedMerges(spark: SparkSession,
      dir: String): Seq[(String, String)] =
    bpeMerges.get(spark, s"$dir/documents.parquet")(
      graft.ops.Bpe.trainMergesBatched(Tables.documents(spark, dir), bpeTrainedN))

  def docBpeTrained(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.ops.Bpe.encode(d, bpeTrainedMerges(spark, dir))
  }

  /** The UNIGRAM-LM tokenizer's train→encode composition
    * ([[graft.ops.Unigram]] — the SentencePiece-unigram sibling of
    * [[docBpeTrained]], Kudo ACL'18 via hard EM): seed the piece
    * vocabulary from the substring census, run the Viterbi-EM
    * rounds over the bounded word-frequency table, then segment the
    * corpus into maximum-likelihood pieces. The oracle TRAINS
    * INDEPENDENTLY in DuckDB — the same census → top-piece seed →
    * recursive-CTE Viterbi DP → usage recount rounds, all in exact
    * integer fixed-point-log arithmetic with the identical
    * (cost, piece count, piece sequence) tie-break — so the gate
    * hash-checks the whole train→encode path cross-engine.
    */
  // training is deterministic (the oracle retrains independently and
  // matches), so the trained and pack gates share one driver-side
  // training pass (FpMemo) — bounded metadata. The STREAM gate
  // deliberately trains from its own streamed census instead.
  private val unigramVocabs = new graft.FpMemo[graft.ops.Unigram.Vocab]()

  private def unigramVocab(spark: SparkSession, dir: String): graft.ops.Unigram.Vocab =
    unigramVocabs.get(spark, s"$dir/documents.parquet")(
      graft.ops.Unigram.train(Tables.documents(spark, dir)))

  def docUnigramTrained(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.ops.Unigram.encode(d, unigramVocab(spark, dir))
  }

  /** The full tokenizer-to-shards composition a training run executes:
    * train the BPE merges ([[graft.ops.Bpe.trainMergesBatched]]),
    * tokenize the corpus with them, and pack shard offsets/chunk ids
    * from the ACTUAL trained-tokenizer counts (not the n_chars
    * estimate `q_doc_pack` uses) via the distributed exclusive scan
    * ([[graft.ops.Pack.packOffsets]]). Three gated operators
    * composed; the oracle trains, tokenizes, and cumsums
    * independently in DuckDB, so the whole
    * train -> encode -> pack path is hash-checked end-to-end.
    */
  def docBpePack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = graft.ops.Bpe
      .encode(d, bpeTrainedMerges(spark, dir))
      .select(col("doc_id"), col("n_tokens"))
    Pack.packOffsets(toks, "doc_id", "n_tokens", budget = 4096L)
  }

  /** Same decontamination result through the bloom-prefiltered scale
    * path (candidate shingles dropped before the exchange); shares
    * the plain-join oracle because the sketch never changes the
    * answer, only the shuffled volume.
    */
  def docContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    NearDup.contaminationOverlapBloom(
      d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10), n = 3)
  }

  /** Concat-and-chunk shard packing: global token start offset and
    * 4096-token chunk id per doc in doc_id order, via the distributed
    * exclusive scan (see [[graft.ops.Pack]]) — bit-equal to the
    * sequential cumsum the oracle computes.
    */
  def docPack(spark: SparkSession, dir: String): DataFrame =
    Pack.packOffsets(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.estBpeTokens(col("n_chars")).as("est_tokens")),
      "doc_id", "est_tokens", budget = 4096L)

  /** Context-window chunking with overlap: each doc becomes chunks of
    * up to 50 tokens at stride 40 (10-token overlap) — the
    * sliding-window prep for sequence models. Pure array expressions
    * (sequence → posexplode → slice), one narrow pass, rows fan out
    * executor-side only.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val chunkLen = 50
    val stride = 40
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"),
        // integer DIV — Spark's `/` on longs is double division
        posexplode(sequence(lit(0L), expr(s"(n - 1) DIV $stride"))).as(Seq("chunk_idx", "_s")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("start_tok"),
        least(lit(chunkLen.toLong), col("n") - col("chunk_idx") * stride).as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkLen)), " ")
          .as("chunk_text"))
  }

  // Shared by the Spark program and the DuckDB oracle: Java regex and
  // RE2 agree on this subset (char classes, {m,}, \b, \d).
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: scrub emails and IPv4 addresses, reporting the
    * redaction count per doc. The synthetic corpus carries no PII, so
    * the query first plants deterministic doc_id-derived PII — the
    * redaction path is therefore exercised on every row (and
    * hash-checked end-to-end, not just on empty matches). Pure
    * codegen'd string expressions, one narrow pass, no shuffle.
    */
  def docPii(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val planted = d.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.1 end")).as("text"))
    planted.select(
      col("doc_id"),
      (size(regexp_extract_all(col("text"), lit(emailRe), lit(0))) +
        size(regexp_extract_all(col("text"), lit(ipv4Re), lit(0))))
        .cast("long").as("n_pii"),
      regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
        ipv4Re, "<IP>").as("redacted"))
  }

  /** Corpus vocabulary: global top-100 tokens by occurrence count with
    * document frequency — the token-census step before building a
    * tokenizer/vocab. explode → one hash shuffle with map-side combine
    * (token cardinality, not corpus size, bounds the exchange);
    * doc_freq's distinct expands to (token, doc) pairs which partial
    * aggregation dedups map-side; the top-100 is TakeOrderedAndProject
    * (per-partition heaps, no global sort).
    */
  /** Vocabulary coverage curve — tokenizer vocab sizing: the minimum
    * number of distinct words (taken in frequency order, count DESC /
    * word ASC) whose occurrences cover ≥ 500/900/990‰ of all tokens.
    * "How big must the vocab be to cover 99% of the corpus" is the
    * standard cut for vocab/OOV budgeting.
    *
    * Scale shape: word counts aggregate map-side; the frequency-order
    * running sum is [[graft.ops.Quota.keyedExclusiveScan]] under a
    * constant key (two narrow passes, no single-task global window);
    * each target's vocab size is then a CONDITIONAL COUNT — minimum
    * rank r with inclusive-cum·1000 ≥ target·total equals #(words
    * with inclusive-cum·1000 < target·total) + 1 because the cum is
    * monotone — so no rank column and no second scan are needed, one
    * bounded aggregate finishes all targets in a single pass.
    */
  def docVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val targets = Seq(500L, 900L, 990L)
    val counts = Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("_k", lit("all"))
      .withColumn("_neg", -col("cnt"))
    val scanned = graft.ops.Quota.keyedExclusiveScan(
      counts, "_k", Seq("_neg"), "word", "cnt")
    val total = scanned.agg(sum(col("cnt")).as("total"))
    val aggExprs = targets.map { t =>
      (sum(when((col("cum") + col("cnt")) * 1000L < lit(t) * col("total"),
        1L).otherwise(0L)) + 1L).as(s"v$t")
    }
    val one = scanned.crossJoin(broadcast(total))
      .agg(aggExprs.head, aggExprs.tail: _*)
    one.select(explode(array(targets.map { t =>
        struct(lit(t).as("target_permille"), col(s"v$t").as("vocab_size"))
      }: _*)).as("r"))
      .select(col("r.target_permille"), col("r.vocab_size"))
  }

  def docVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(100)

  /** Deterministic global corpus shuffle + shard packing: the
    * training-order randomization step. Identical to [[docPack]] but
    * packed in md5(seed:doc_id) order instead of id order — same
    * distributed exclusive scan, the range partitioner just ranges
    * over the hash. Stable across runs/engines/cluster sizes (the
    * order is a pure function of the id), which is what makes a
    * training run reproducible.
    */
  def docShufflePack(spark: SparkSession, dir: String): DataFrame =
    Pack.packOffsets(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Text.estBpeTokens(col("n_chars")).as("est_tokens")),
      "doc_id", "est_tokens", budget = 4096,
      orderBy = Some(md5(concat(lit("shuf1:"), col("doc_id").cast("string")))))

  /** Per-doc duplicated 3-gram fraction (Lee et al. ACL'22 boilerplate
    * signal) — see [[NearDup.dupNgramStats]] for the scale design.
    */
  def docDupNgrams(spark: SparkSession, dir: String): DataFrame =
    NearDup.dupNgramStats(Tables.documents(spark, dir), n = 3)

  /** Edit-distance near-dup pairs on 80-char document heads —
    * [[NearDup.editDistancePairs]]: lossless q-gram prefix-filter
    * candidates, exact Levenshtein verify.
    */
  def docEditDist(spark: SparkSession, dir: String): DataFrame =
    NearDup.editDistancePairs(Tables.documents(spark, dir))

  /** Collocation extraction: top-25 adjacent word pairs by PMI
    * (pointwise mutual information) among pairs seen >= 20 times.
    * PMI = ln(p(ab) / (p(a)p(b))) — but ln is MONOTONE, so the
    * RANKING (all that leaves the engine) is by the exact ratio
    * c_ab·N / (c_a·c_b), computed as one double expression over exact
    * BIGINT counts in the identical operation order on both engines;
    * no transcendental functions on the wire. Counts: one explode
    * for bigrams (positions, not distinct) + one for unigrams, each
    * a map-side-combining count; the unigram join is a shuffle join
    * (vocab outgrows broadcast at 100 TB); top-25 is
    * TakeOrderedAndProject.
    */
  def docCollocations(spark: SparkSession, dir: String): DataFrame =
    collocations(Tables.documents(spark, dir))

  /** DataFrame-level collocation core (docs must carry doc_id, text). */
  /** Corpus-LM familiarity scoring (KenLM-style pseudo-perplexity,
    * integerized): train a bigram census over the corpus, then score
    * each document by the average BIT LENGTH of its bigrams' corpus
    * counts — ⌊log₂ c⌋+1 = `length(bin(c))`, the cross-engine
    * integer log the loghist quantile state already uses — and
    * surface the topN LEAST familiar documents (rare-transition-
    * heavy text: the outlier/low-quality candidates an n-gram LM
    * filter flags in a training pipeline). Everything that crosses
    * the engine boundary is integer arithmetic, so the gate
    * hash-checks the scores themselves.
    *
    * Skew discipline (the scrub-family rule): raw bigram text NEVER
    * shuffles — grams become 60-bit md5 hashes row-locally, the
    * census groupBy partial-aggregates map-side, and the doc side
    * pre-collapses to (doc, gram-hash, k) BEFORE the census join, so
    * a hyper-frequent transition costs one census row and at most
    * one joined row per containing doc. The residual skew (a gram
    * present in most docs keys one probe-side partition) is closed
    * STRUCTURALLY by salting the census join: the probe side carries
    * a doc-derived salt, the one-row-per-hash census side fans out
    * ×saltBuckets, and the join keys on (hash, salt) — the hottest
    * gram spreads over saltBuckets partitions BY CONSTRUCTION, at
    * the cost of duplicating only the bounded build side. (AQE's
    * skew-join split cannot help this plan: the rule only matches a
    * join whose children are bare shuffles, and the census side has
    * its final aggregate between the exchange and the join —
    * PlanSpec pins both the salted keys and the serving-scale
    * broadcast.) The oracle applies the SAME hash, so a (vanishingly
    * unlikely) 60-bit collision would alter both engines identically
    * rather than desync them.
    */
  def docLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(spark, dir))

  /** Salt fan-out for the census probe join — the structural bound
    * on how many partitions the hottest gram's probe rows spread
    * over; the census side duplicates ×this (bounded build side).
    */
  private val lmSaltBuckets = 16

  def lmScore(docs: DataFrame, topN: Int = 20): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val grams = toks
      .select(col("doc_id"), explode(Text.bigramsFromTokens(col("toks"))).as("bg"))
      .select(col("doc_id"), graft.functions.KmvSketch.keyHash(
        concat(col("bg.w1"), lit(" "), col("bg.w2"))).as("h"))
    // Persisted + eagerly filled (the postingsOf discipline): docGrams
    // feeds BOTH the census and the probe side — the census is the SUM
    // of the per-doc counts by additivity, so deriving it here removes
    // the second full tokenize+md5 pass the old plan paid (two
    // documents scans; ReusedExchange cannot dedup them because the
    // probe side's pushed-down isnotnull join-key filters break
    // exchange-subtree equality). Same counts, so the gate hash is
    // unchanged; the cache-manager plan dedup keeps repeat calls warm.
    val docGrams = grams.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docGrams.count() // eager fill — consumer stages race it under AQE
    val census = docGrams.groupBy(col("h")).agg(sum(col("k")).as("c"))
    // salted equi-join (see the skew-discipline note): probe rows
    // carry a doc-derived salt, the one-row-per-hash census fans out
    // ×lmSaltBuckets — regrouped sums are identical, so the gate
    // hash is unchanged
    val salted = docGrams.withColumn("salt",
      pmod(xxhash64(col("doc_id")), lit(lmSaltBuckets.toLong)).cast("int"))
    val censusX = census.withColumn("salt",
      explode(sequence(lit(0), lit(lmSaltBuckets - 1))))
    val scored = salted.join(censusX, Seq("h", "salt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * length(bin(col("c")))).as("score_bits"))
      .withColumn("familiarity_milli",
        expr("CAST(score_bits * 1000 DIV n_bigrams AS BIGINT)"))
    graft.ops.TopK.topKGlobal(scored,
        Seq(col("familiarity_milli").asc, col("doc_id").asc), topN)
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("n_bigrams"), col("score_bits"), col("familiarity_milli"))
  }

  /** ONE micro-batched feed lands BOTH additive ingest states per
    * batch — the production one-stream-fans-out shape (a foreachBatch
    * body maintaining several derived states from a single source),
    * and the r15 verdict's harness fold: `q_doc_lm_stream` and
    * `q_doc_unigram_stream` each drove their own three-batch feed
    * over the SAME doc-id thirds. [[graft.streaming.LmIngest]]'s
    * bigram census/profiles and [[graft.streaming.VocabIngest]]'s
    * word census are independent additive batch-id-delta roots, so a
    * single pass writes both exactly as the solo harnesses did —
    * same batch ids, same content, every hash unchanged — while each
    * batch's corpus slice materializes once
    * (`localCheckpoint`) instead of once per ingest. Cached per
    * corpus fingerprint like the curation stages.
    */
  private val docFeedCache = new graft.FpMemo.TempRoots("graft_docfeed", "documents")

  private def docFeedRoot(spark: SparkSession, dir: String): String =
    docFeedCache.root(spark, dir) { tmp =>
      OlapQueries.docIdBatches(spark, dir).zipWithIndex.foreach { case (slice, i) =>
        val b = slice.localCheckpoint(true)
        graft.streaming.LmIngest.processBatch(
          b, i.toLong, s"$tmp/grams", s"$tmp/census")
        graft.streaming.VocabIngest.processBatch(
          b, i.toLong, s"$tmp/docwords", s"$tmp/wordfreq")
        NearDup.releaseCheckpoint(b)
      }
    }

  /** The STREAMED LM familiarity scores, gated against the batch
    * gate's own oracle: [[graft.streaming.LmIngest]] state landed by
    * the shared three-batch feed ([[docFeedRoot]] — direct
    * `processBatch` calls, the foreachBatch body), scored at read
    * against the summed census. Additive census state is
    * order-independent, so the shared oracle carries no
    * arrival-order caveat.
    */
  def docLmScoreStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = docFeedRoot(spark, dir)
    graft.streaming.LmIngest.readScores(spark, s"$tmp/grams", s"$tmp/census")
  }

  /** The unigram tokenizer-to-shards composition ([[docBpePack]]'s
    * sibling): train the unigram vocabulary, tokenize the corpus, and
    * pack shard offsets/chunk ids from the ACTUAL trained piece
    * counts via the distributed exclusive scan
    * ([[graft.ops.Pack.packOffsets]]). The oracle trains, segments,
    * and cumsums independently in DuckDB — the whole
    * train → encode → pack path hash-checked end-to-end.
    */
  def docUnigramPack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = graft.ops.Unigram.encode(d, unigramVocab(spark, dir))
      .select(col("doc_id"), col("n_pieces"))
    Pack.packOffsets(toks, "doc_id", "n_pieces", budget = 4096L)
  }

  /** The unigram tokenizer trained from a STREAMED word-frequency
    * census ([[graft.streaming.VocabIngest]] state landed by the
    * shared [[docFeedRoot]] feed): additive counts make the streamed
    * census equal the batch `wordFreqs` for any split, so the trained
    * vocabulary — and therefore every encoded document — is
    * bit-identical and the gate shares `q_doc_unigram_trained`'s
    * independently-trained DuckDB oracle.
    */
  def docUnigramStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = docFeedRoot(spark, dir)
    graft.ops.Unigram.encode(Tables.documents(spark, dir),
      graft.ops.Unigram.trainFromWordFreqs(
        graft.streaming.VocabIngest.readWordFreqs(spark, s"$tmp/wordfreq")))
  }

  def collocations(docs: DataFrame, minCount: Long = 20, topN: Int = 25): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(Text.bigramsFromTokens(col("toks"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val n = toks.agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("c_ab").cast("double") * col("n_tokens") / (col("c_a") * col("c_b")))
    scored
      .orderBy(col("score").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .select(col("w1"), col("w2"), col("c_ab"))
  }

  /** Top-3 salient terms per doc by TF-IDF (smooth idf:
    * tf · ln((N+1)/(df+1))). Only ids/ranks/terms leave the engine;
    * the double score is computed identically on both sides (same
    * integer inputs, one division, one `ln`, one multiply), so the
    * ORDER it induces — all the hash compare sees — is stable:
    * equal (tf, df) pairs are bit-equal and fall to the `term` ASC
    * tie-break in both engines. Two keyed shuffles (term-frequency by
    * (doc, term), document-frequency by term) plus a doc-partitioned
    * window; N comes from a 1-row broadcast anchor, never a driver
    * collect. The df join is a plain shuffle join: at 100 TB the
    * vocabulary (long tail of rare terms) outgrows any broadcast.
    */
  def docTfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency as a WINDOW over the term-keyed exchange the
    // df attachment pays anyway (the spanScrub r16 rewrite): the old
    // groupBy(term) + shuffle-join-back computed the (doc, term)
    // aggregate once per join side and exchanged the term stream
    // twice; per row, count(*) over the term partition IS the joined
    // df. Still a keyed exchange — the long-tail vocabulary never
    // needs to broadcast, same as the join it replaces.
    val dfWin = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.withColumn("df", count(lit(1)).over(dfWin))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") *
        log((col("n_docs").cast("double") + lit(1.0)) /
            (col("df").cast("double") + lit(1.0))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"))
  }

  val queries: Map[String, QFn] = Map(
    "q_doc_shuffle_pack" -> (docShufflePack _),
    "q_doc_collocations" -> (docCollocations _),
    "q_doc_lm_score" -> (docLmScore _),
    "q_doc_lm_stream" -> (docLmScoreStream _),
    "q_doc_dup_ngrams" -> (docDupNgrams _),
    "q_doc_editdist" -> (docEditDist _),
    "q_doc_tfidf" -> (docTfidf _),
    "q_doc_pii" -> (docPii _),
    "q_doc_vocab" -> (docVocab _),
    "q_doc_chunk" -> (docChunk _),
    "q_doc_split" -> (docSplit _),
    "q_doc_repetition" -> (docRepetition _),
    "q_doc_segment_dedup" -> (docSegmentDedup _),
    "q_doc_boilerplate" -> (docBoilerplate _),
    "q_doc_boilerplate_stream" -> (docBoilerplateStream _),
    "q_doc_span_scrub" -> (docSpanScrub _),
    "q_doc_contamination" -> (docContamination _),
    "q_doc_contamination_bloom" -> (docContaminationBloom _),
    "q_doc_search_sparse" -> (docSearchSparse _),
    "q_doc_search_hybrid" -> (docSearchHybrid _),
    "q_doc_search_served" -> (docSearchServed _),
    "q_doc_search_offline" -> (docSearchOffline _),
    "q_doc_bpe_pairs" -> (docBpePairs _),
    "q_doc_bpe_encode" -> (docBpeEncode _),
    "q_doc_bpe_trained" -> (docBpeTrained _),
    "q_doc_unigram_trained" -> (docUnigramTrained _),
    "q_doc_unigram_stream" -> (docUnigramStream _),
    "q_doc_unigram_pack" -> (docUnigramPack _),
    "q_doc_bpe_pack" -> (docBpePack _),
    "q_doc_neardup_served" -> (docNearDupServed _),
    "q_doc_neardup_offline" -> (docNearDupOffline _),
    "q_doc_pack" -> (docPack _),
    "q_doc_stats" -> (docStats _),
    "q_doc_normalize" -> (docNormalize _),
    "q_doc_quality_filter" -> (docQualityFilter _),
    "q_doc_quality_model" -> (docQualityModel _),
    "q_doc_curate" -> (docCurate _),
    "q_doc_curate_best" -> (docCurateBest _),
    "q_doc_curate_stream" -> (docCurateStream _),
    "q_doc_length_quantiles" -> (docLengthQuantiles _),
    "q_doc_dedup_canonical" -> (dedupCanonical _),
    "q_doc_cluster_sizes" -> (docClusterSizes _),
    "q_doc_dedup_best" -> (docDedupBest _),
    "q_lang_id" -> (langId _),
    "q_doc_fingerprint" -> (fingerprints _),
    "q_doc_dedup_exact" -> (dedupExact _),
    "q_doc_dedup_jaccard" -> (dedupJaccard _),
    "q_doc_dedup_minhash" -> (dedupMinhash _),
    "q_doc_dedup_simhash" -> (dedupSimhash _),
    "q_doc_cross_dedup" -> (docCrossDedup _),
    "q_doc_drift" -> (docDrift _),
    "q_doc_drift_stream" -> (docDriftStream _),
    "q_doc_vocab_coverage" -> (docVocabCoverage _),
    "q_doc_curation_funnel" -> (docCurationFunnel _),
    "q_doc_drift_tokens" -> (docDriftTokens _),
    "q_doc_drift_tokens_stream" -> (docDriftTokensStream _),
    "q_doc_source_quality" -> (docSourceQuality _),
    "q_doc_lang_confusion" -> (docLangConfusion _),
    "q_doc_curriculum" -> (docCurriculum _),
  )

  private val toks = "string_split(text, ' ')"

  // q_doc_drift's TVD chain with token-count weights instead of 1s —
  // shared by the batch gate and its streamed twin
  private def driftTokensOracle: String =
    s"""WITH d AS (SELECT doc_id, lang, source,
       |    CAST(len($toks) AS BIGINT) AS ntok FROM documents),
       |f AS (
       |  SELECT doc_id % 2 = 0 AS is_ref, ntok AS w, 'lang' AS feature,
       |    lang AS value FROM d
       |  UNION ALL SELECT doc_id % 2 = 0, ntok, 'source', source FROM d
       |  UNION ALL SELECT doc_id % 2 = 0, ntok, 'len_bucket',
       |    CAST(CASE WHEN ntok < 16 THEN ntok
       |         ELSE ((length(bin(ntok))-5)*16 + (ntok >> (length(bin(ntok))-5))) END
       |      AS VARCHAR)
       |  FROM d),
       |c AS (SELECT feature, value,
       |    CAST(sum(CASE WHEN is_ref THEN w ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE w END) AS BIGINT) AS cb
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
       |FROM t JOIN s USING (feature)""".stripMargin
  // bigram-LM familiarity: same 60-bit md5 gram hashing as the
  // engine (a collision would alter both engines identically), and
  // the integer bit-length log the loghist family established
  private lazy val lmOracle =
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT AS h
       |  FROM t, UNNEST(range(1, len(toks))) AS r(i)),
       |c AS (SELECT h, count(*) AS c FROM g GROUP BY 1),
       |dg AS (SELECT doc_id, h, count(*) AS k FROM g GROUP BY 1, 2),
       |s AS (
       |  SELECT dg.doc_id,
       |    CAST(SUM(k) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(k * length(bin(c.c))) AS BIGINT) AS score_bits
       |  FROM dg JOIN c USING (h) GROUP BY 1),
       |f AS (SELECT *, CAST(score_bits * 1000 // n_bigrams AS BIGINT)
       |        AS familiarity_milli FROM s)
       |SELECT CAST(row_number() OVER
       |    (ORDER BY familiarity_milli ASC, doc_id ASC) AS BIGINT) AS rank,
       |  doc_id, n_bigrams, score_bits, familiarity_milli
       |FROM f ORDER BY familiarity_milli ASC, doc_id ASC LIMIT 20""".stripMargin
  // the quality-model logit, shared by q_doc_quality_model and the
  // q_doc_curate pipeline oracle
  private val logitSql =
    s"""50*len(list_distinct($toks)) - 8*len($toks)
       | + 25*len(list_filter($toks, x -> list_contains(['the','a'], x)))
       | - 30*strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))""".stripMargin.replace("\n", "")
  private val shingleCteBody =
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |s AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t)""".stripMargin
  private val shingleCte = s"WITH $shingleCteBody"

  private lazy val bpeEncodeOracle = {
    // the SAME literal replace chain as the engine's expression,
    // interpolated from the one shared rule list
    val sym = "' ' || array_to_string(regexp_extract_all(wd, '.'), ' ') || ' </w> '"
    val merged = bpeFixedMerges.foldLeft(sym) { case (acc, (x, y)) =>
      s"replace($acc, ' $x $y ', ' ${x + y} ')"
    }
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS wds
       |  FROM documents),
       |e AS (
       |  SELECT doc_id,
       |    flatten(list_transform(wds, wd ->
       |      string_split(trim($merged), ' '))) AS toks
       |  FROM t)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  array_to_string(toks[1:5], '|') AS head
       |FROM e""".stripMargin
  }

  /** The shared train-then-encode CTE chain (through `enc`): DuckDB
    * trains its own rules via stacked census/argmax/rewrite triples,
    * then applies them per word — reused by the trained-encode gate
    * and the tokenize-then-pack composition gate.
    */
  private lazy val bpeTrainedCtes = {
    val n = bpeTrainedN
    val sym = "' ' || array_to_string(regexp_extract_all(wd, '.'), ' ') || ' </w> '"
    // one (pair census -> argmax -> simultaneous rewrite) CTE triple
    // per training iteration — DuckDB trains its own rules
    val steps = (0 until n).map { i =>
      s"""p$i AS (
         |  SELECT pr[1] AS x, pr[2] AS y, sum(freq) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(l)), j -> [l[j], l[j+1]])) AS pr
         |    FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s$i))
         |  GROUP BY 1, 2),
         |r$i AS (SELECT x, y FROM p$i ORDER BY cnt DESC, x, y LIMIT 1),
         |s${i + 1} AS (SELECT wd, freq,
         |  replace(s, ' ' || r$i.x || ' ' || r$i.y || ' ', ' ' || r$i.x || r$i.y || ' ') AS s
         |  FROM s$i CROSS JOIN r$i)""".stripMargin
    }.mkString(",\n")
    // encode: the same replace chain, rule literals taken from the
    // 1-row rK CTEs (each a bounded cross join)
    val repl = (0 until n).foldLeft(sym) { (acc, i) =>
      s"replace($acc, ' ' || r$i.x || ' ' || r$i.y || ' ', ' ' || r$i.x || r$i.y || ' ')"
    }
    val crossRules = (0 until n).map(i => s"CROSS JOIN r$i").mkString(" ")
    s"""wf AS (
       |  SELECT wd, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS wd
       |    FROM documents) GROUP BY wd),
       |s0 AS (SELECT wd, freq, $sym AS s FROM wf),
       |$steps,
       |w AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS wds FROM documents),
       |enc AS (
       |  SELECT doc_id,
       |    flatten(list_transform(wds, wd -> string_split(trim($repl), ' '))) AS toks
       |  FROM w $crossRules)""".stripMargin
  }

  private lazy val bpeTrainedOracle =
    s"""WITH $bpeTrainedCtes
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  array_to_string(toks[1:5], '|') AS head
       |FROM enc""".stripMargin

  /** Independently-trained unigram-LM oracle: DuckDB seeds its own
    * piece vocabulary from the substring census, runs the same hard-EM
    * rounds (recursive-CTE Viterbi DP, exact integer fixed-point log
    * costs, (cost, count, sequence) tie-break), and encodes — the
    * [[bpeTrainedCtes]] pattern for [[graft.ops.Unigram]]. CTEs are
    * MATERIALIZED: DuckDB otherwise re-inlines each reference and the
    * nested training rounds re-execute combinatorially.
    */
  private lazy val unigramTrainedCtes: String = {
    val (maxP, v, rounds) =
      (graft.ops.Unigram.MaxPiece, graft.ops.Unigram.Pieces,
        graft.ops.Unigram.Rounds)
    def ilog(c: String) =
      s"(64 * (length(bin(CAST($c AS BIGINT))) - 1) + " +
        s"(($c - (CAST(1 AS BIGINT) << (length(bin(CAST($c AS BIGINT))) - 1))) * 64) " +
        s"// (CAST(1 AS BIGINT) << (length(bin(CAST($c AS BIGINT))) - 1)))"
    val sep = "chr(31)"
    // one (costs -> map -> Viterbi DP -> segmentation) block per vocab
    def seg(r: Int, vin: String) =
      s"""t$r AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM $vin),
         |c$r AS MATERIALIZED (SELECT p, ${ilog("t")} - ${ilog("cnt")} AS cost FROM $vin, t$r),
         |m$r AS MATERIALIZED (SELECT map_from_entries(list({'k': p, 'v': cost} ORDER BY p)) AS m,
         |         (SELECT ${ilog("t")} FROM t$r) AS unk FROM c$r),
         |dp$r AS (
         |  SELECT wd, freq, 0 AS j,
         |    [{'c': CAST(0 AS BIGINT), 'np': CAST(0 AS BIGINT), 'ps': ''}] AS st
         |  FROM wf
         |  UNION ALL
         |  SELECT wd, freq, j + 1, st || [
         |    list_min(list_filter(list_transform(range(greatest(1, j - ${maxP - 2}), j + 2),
         |      i0 -> {'c': st[i0].c + coalesce(list_extract(m[substring(wd, i0, j + 2 - i0)], 1),
         |                                      CASE WHEN j + 1 = i0 THEN unk ELSE NULL END),
         |              'np': st[i0].np + 1,
         |              'ps': st[i0].ps || $sep || substring(wd, i0, j + 2 - i0)}),
         |      s -> s.c IS NOT NULL))]
         |  FROM dp$r, m$r WHERE j < length(wd)),
         |seg$r AS MATERIALIZED (SELECT wd, freq, st[length(wd)+1] AS best
         |  FROM dp$r WHERE j = length(wd))""".stripMargin
    // usage recount + vocab update (the M-step)
    def mstep(r: Int) =
      s"""use$r AS MATERIALIZED (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(string_split(substring(best.ps, 2), $sep)) AS p
         |        FROM seg$r) GROUP BY 1),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT v.p,
         |    CASE WHEN length(v.p) = 1 THEN greatest(coalesce(u.cnt, 0), 1) ELSE u.cnt END AS cnt
         |  FROM v$r v LEFT JOIN use$r u USING (p)
         |  WHERE length(v.p) = 1 OR coalesce(u.cnt, 0) >= 1)""".stripMargin
    val steps = (0 until rounds)
      .flatMap(r => Seq(seg(r, s"v$r"), mstep(r))) :+ seg(rounds, s"v$rounds")
    s"""wf AS MATERIALIZED (SELECT wd, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS wd
       |    FROM documents) GROUP BY wd),
       |cen AS MATERIALIZED (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, substring(wd, i, l) AS p
       |    FROM wf, unnest(range(1, length(wd)+1)) t(i), unnest(range(1, ${maxP + 1})) u(l)
       |    WHERE i + l - 1 <= length(wd)) GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT p, cnt FROM cen WHERE length(p) = 1
       |       UNION ALL
       |       SELECT p, cnt FROM (SELECT p, cnt FROM cen WHERE length(p) >= 2
       |                           ORDER BY cnt DESC, p LIMIT $v)),
       |${steps.mkString(",\n")},
       |w2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wds FROM documents),
       |wx AS (SELECT doc_id, i, wds[i] AS wd FROM w2, unnest(range(1, len(wds)+1)) t(i)),
       |ej AS (SELECT wx.doc_id, wx.i, s.best.np AS np,
       |       string_split(substring(s.best.ps, 2), $sep) AS ps FROM wx JOIN seg$rounds s USING (wd)),
       |enc AS (SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pieces,
       |        array_to_string(flatten(list(ps ORDER BY i))[1:5], '|') AS head
       |        FROM ej GROUP BY doc_id)""".stripMargin
  }

  private lazy val unigramTrainedOracle =
    s"""WITH RECURSIVE $unigramTrainedCtes
       |SELECT d.doc_id, CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_pieces,
       |       coalesce(e.head, '') AS head
       |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin

  // the unigram tokenize-then-pack composition: trained-unigram piece
  // counts fed through the q_doc_pack cumsum/chunk definition
  // (packOffsets names the token column n_tokens whatever it packs)
  private lazy val unigramPackOracle =
    s"""WITH RECURSIVE $unigramTrainedCtes,
       |tok AS (SELECT d.doc_id,
       |  CAST(coalesce(e.n_pieces, 0) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN enc e USING (doc_id))
       |SELECT doc_id, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS chunk
       |FROM tok""".stripMargin

  // the tokenize-then-pack composition: trained-BPE token counts fed
  // through the q_doc_pack cumsum/chunk definition
  private lazy val bpePackOracle =
    s"""WITH $bpeTrainedCtes,
       |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM enc)
       |SELECT doc_id, n_tokens,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
       |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS chunk
       |FROM tok""".stripMargin

  private lazy val nearDupPairsOracle =
    s"""$shingleCte
       |SELECT a.doc_id AS query_id, b.doc_id AS match_id
       |FROM s a JOIN s b ON a.doc_id < 50 AND b.doc_id >= 50
       |WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |  AND 9 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh))""".stripMargin

  private lazy val sparseSearchOracle =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
       |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |idf AS (SELECT tok,
       |  ((SELECT count(*) FROM documents) * 10000) // df AS idf FROM dft),
       |q AS (SELECT doc_id AS query_id, tok, tf AS qtf FROM tf WHERE doc_id < 5),
       |sc AS (SELECT q.query_id, c.doc_id,
       |    SUM(CAST(q.qtf AS HUGEINT) * c.tf * i.idf) AS score
       |  FROM tf c JOIN q USING (tok) JOIN idf i USING (tok)
       |  WHERE c.doc_id <> q.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, rank FROM (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM sc)
       |WHERE rank <= 10""".stripMargin

  private lazy val contaminationOracle =
    s"""WITH $shingleCteBody,
       |b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id < 10),
       |post AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE doc_id >= 10)
       |SELECT doc_id, count(*) AS shared_shingles
       |FROM post JOIN b USING (shingle)
       |GROUP BY doc_id""".stripMargin

  private def jaccardOracle(c: String, limitExpr: String) =
    s"""$shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common_shingles,
       |  CAST(len(a.sh) AS BIGINT) AS shingles_a,
       |  CAST(len(b.sh) AS BIGINT) AS shingles_b
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |  AND $limitExpr""".stripMargin

  private lazy val oraclesBase: Map[String, String] = Map(
    // frequency-ordered cumulative coverage: the sequential window
    // cumsum the distributed constant-key scan must be bit-equal to
    "q_doc_vocab_coverage" ->
      s"""WITH w AS (SELECT unnest($toks) AS word FROM documents),
         |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT word, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS rank,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS cum
         |  FROM c)
         |SELECT CAST(t.p AS BIGINT) AS target_permille,
         |  CAST(min(CASE WHEN r.cum * 1000 >= t.p * n.total THEN r.rank END)
         |    AS BIGINT) AS vocab_size
         |FROM r CROSS JOIN n
         |CROSS JOIN (VALUES (500), (900), (990)) AS t(p)
         |GROUP BY 1""".stripMargin,
    // the same TVD chain with token-count weights instead of 1s;
    // the streamed twin re-sums additive weighted deltas to the
    // identical counts, so it shares this oracle verbatim
    "q_doc_drift_tokens" -> driftTokensOracle,
    "q_doc_drift_tokens_stream" -> driftTokensOracle,
    // same integer logit; both engines' integer division truncates
    // toward zero, so the signed mean is identical
    "q_doc_source_quality" ->
      s"""WITH d AS (SELECT source,
         |    CAST(len($toks) AS BIGINT) AS ntok,
         |    CAST($logitSql AS BIGINT) AS logit
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(logit) AS BIGINT) // count(*) AS BIGINT) AS mean_logit,
         |  CAST(CAST(sum(CASE WHEN logit >= 800 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000 // count(*) AS BIGINT) AS keep_permille
         |FROM d GROUP BY 1""".stripMargin,
    // exact integer-permille TVD per feature over the parity split;
    // the log-bucket kernel is the loghist family's pure-integer
    // formula, identical on both engines
    "q_doc_drift" ->
      s"""WITH d AS (SELECT doc_id, lang, source,
         |    CAST(len($toks) AS BIGINT) AS ntok FROM documents),
         |f AS (
         |  SELECT doc_id % 2 = 0 AS is_ref, 'lang' AS feature, lang AS value FROM d
         |  UNION ALL SELECT doc_id % 2 = 0, 'source', source FROM d
         |  UNION ALL SELECT doc_id % 2 = 0, 'len_bucket',
         |    CAST(CASE WHEN ntok < 16 THEN ntok
         |         ELSE ((length(bin(ntok))-5)*16 + (ntok >> (length(bin(ntok))-5))) END
         |      AS VARCHAR)
         |  FROM d),
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
    // sequential cumsum in md5(seed:id) order — the engine's
    // distributed exclusive scan must be bit-equal to it
    "q_doc_shuffle_pack" ->
      """WITH t AS (
        |  SELECT doc_id, CAST((n_chars + 3) // 4 AS BIGINT) AS n_tokens,
        |    md5('shuf1:' || doc_id) AS ord
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 4096 AS BIGINT) AS chunk
        |FROM s""".stripMargin,
    // PMI ranking by the exact ratio c_ab·N/(c_a·c_b): identical
    // integer inputs and operation order → identical doubles →
    // identical ordering; ln never enters
    "q_doc_collocations" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |uni AS (SELECT w, count(*) AS c
         |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |bi AS (
         |  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS c_ab
         |  FROM t, UNNEST(range(1, len(toks))) AS r(i)
         |  GROUP BY 1, 2 HAVING count(*) >= 20),
         |n AS (SELECT sum(len(toks)) AS n_tokens FROM t)
         |SELECT w1, w2, c_ab FROM (
         |  SELECT bi.w1, bi.w2, bi.c_ab,
         |    CAST(bi.c_ab AS DOUBLE) * n.n_tokens / (a.c * b.c) AS score
         |  FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w CROSS JOIN n)
         |ORDER BY score DESC, w1 ASC, w2 ASC LIMIT 25""".stripMargin,
    // bigram-LM familiarity: same 60-bit md5 gram hashing as the
    // engine (a collision would alter both engines identically), and
    // the integer bit-length log the loghist family established; the
    // streamed twin re-derives from additive census state — identical
    // output, same oracle
    "q_doc_lm_score" -> lmOracle,
    "q_doc_lm_stream" -> lmOracle,
    // duplicated 3-gram fraction: distinct shingles per doc (same CTE
    // as the jaccard family), corpus document frequency, duplicated
    // share. unnest of an empty list yields no rows, matching Spark's
    // explode dropping shingle-less docs.
    "q_doc_dup_ngrams" ->
      s"""$shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS sh FROM s),
         |dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh)
         |SELECT e.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
         |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
         |FROM ex e JOIN dfq d USING (sh)
         |GROUP BY e.doc_id""".stripMargin,
    // all-pairs reference for the prefix-filtered engine: both
    // engines implement classic unit-cost Levenshtein.
    "q_doc_editdist" ->
      """WITH h AS (
        |  SELECT doc_id, substr(text, 1, 80) AS head
        |  FROM documents WHERE length(text) >= 80)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 5""".stripMargin,
    // identical integer tf/df inputs → identical doubles → identical
    // ordering; ties are broken by term in both engines.
    "q_doc_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf AS DOUBLE) *
         |      ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dfc.df AS DOUBLE) + 1.0)) AS score
         |  FROM tf JOIN dfc USING (term) CROSS JOIN n)
         |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term FROM (
         |  SELECT doc_id, term,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 3""".stripMargin,
    "q_doc_pii" -> {
      // identical regexes; DuckDB (RE2) needs the 'g' flag for
      // replace-all, which is Java's default
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com from 10.'
         |         || (doc_id % 200) || '.0.1 end' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe'))
         |     + len(regexp_extract_all(text, '$ipv4Re')) AS BIGINT) AS n_pii,
         |  regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
         |                 '$ipv4Re', '<IP>', 'g') AS redacted
         |FROM planted""".stripMargin
    },
    "q_doc_vocab" ->
      s"""SELECT token, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS doc_freq
         |FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
         |WHERE len(token) > 0
         |GROUP BY 1
         |ORDER BY n_occurrences DESC, token ASC LIMIT 100""".stripMargin,
    "q_doc_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks, len($toks) AS n FROM documents)
         |SELECT doc_id,
         |  CAST(i AS BIGINT) AS chunk_idx,
         |  CAST(i * 40 AS BIGINT) AS start_tok,
         |  CAST(least(50, n - i * 40) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(toks[i*40 + 1 : i*40 + 50], ' ') AS chunk_text
         |FROM t, unnest(range(0, (n - 1) // 40 + 1)) AS u(i)""".stripMargin,
    "q_doc_split" ->
      """SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q_doc_repetition" ->
      s"""SELECT doc_id,
         |  CAST(len($toks) - 2 AS BIGINT) AS total_3grams,
         |  CAST(len(list_distinct(list_transform(range(1, len($toks) - 1),
         |    i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))) AS BIGINT) AS distinct_3grams,
         |  CAST(len($toks) - 2 - len(list_distinct(list_transform(range(1, len($toks) - 1),
         |    i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]))) AS DOUBLE)
         |    / (len($toks) - 2) AS dup_gram_ratio
         |FROM documents WHERE len($toks) > 2""".stripMargin,
    // segment dedup: DuckDB's unnest(generate_series) is empty when
    // the stop bound is negative — but nseg >= 1 always (split('')
    // yields ['']), so both engines emit >= 1 segment per doc. The
    // first-occurrence order (doc_id, seg_idx) is total, so the
    // keep-set — and the reassembled text — is deterministic.
    "q_doc_segment_dedup" ->
      s"""WITH ws AS (SELECT doc_id, $toks AS w FROM documents),
         |idx AS (SELECT doc_id, w,
         |  unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) AS gs
         |  FROM ws),
         |segs AS (SELECT doc_id, CAST(gs AS BIGINT) AS seg_idx,
         |  array_to_string(w[(gs*10+1):(gs*10+10)], ' ') AS seg FROM idx),
         |firsts AS (SELECT doc_id, seg_idx, seg,
         |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM segs)
         |SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text_deduped,
         |  CAST(count(*) AS BIGINT) AS segs_kept
         |FROM firsts WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    // frequency-threshold twin: EVERY copy of a segment seen more
    // than once is removed (boilerplate has no canonical occurrence)
    "q_doc_boilerplate" ->
      s"""WITH ws AS (SELECT doc_id, $toks AS w FROM documents),
         |idx AS (SELECT doc_id, w,
         |  unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) AS gs
         |  FROM ws),
         |segs AS (SELECT doc_id, CAST(gs AS BIGINT) AS seg_idx,
         |  array_to_string(w[(gs*10+1):(gs*10+10)], ' ') AS seg FROM idx),
         |cnt AS (SELECT doc_id, seg_idx, seg,
         |  count(*) OVER (PARTITION BY seg) AS c FROM segs)
         |SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean,
         |  CAST(count(*) AS BIGINT) AS segs_kept
         |FROM cnt WHERE c <= 1 GROUP BY doc_id""".stripMargin,
    // overlapping k=5 spans; rn>1 occurrences cover their 5 positions,
    // docs rebuilt from uncovered tokens (fully-covered docs drop out)
    "q_doc_span_scrub" ->
      s"""WITH ws AS (SELECT doc_id, $toks AS w FROM documents),
         |tp AS (SELECT doc_id, CAST(gs AS BIGINT) AS pos, w[CAST(gs AS INT)+1] AS tok
         |  FROM ws, unnest(generate_series(0, len(w) - 1)) AS t(gs)),
         |g AS (SELECT doc_id, CAST(gs AS BIGINT) AS pos,
         |    array_to_string(w[(CAST(gs AS INT)+1):(CAST(gs AS INT)+5)], ' ') AS gram
         |  FROM ws, unnest(generate_series(0, len(w) - 5)) AS t(gs)
         |  WHERE len(w) >= 5),
         |occ AS (SELECT doc_id, pos,
         |  row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g),
         |cov AS (SELECT DISTINCT doc_id, tokpos FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos+4)) AS tokpos
         |  FROM occ WHERE rn > 1)),
         |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
         |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.tokpos
         |  WHERE cov.doc_id IS NULL)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_scrubbed,
         |  CAST(count(*) AS BIGINT) AS kept_tokens
         |FROM kept GROUP BY doc_id""".stripMargin,
    "q_doc_contamination" -> contaminationOracle,
    // integer-exact TF-IDF ranking: idf = (N*10000) // df, score =
    // SUM(qtf*tf*idf) — floor/trunc division agree on positives.
    // The served path computes the identical numbers from the
    // materialized index, so it shares the oracle.
    "q_doc_search_sparse" -> sparseSearchOracle,
    "q_doc_search_served" -> sparseSearchOracle,
    "q_doc_search_offline" -> sparseSearchOracle,
    // char-level weighted pair census over the word-frequency table
    "q_doc_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
        |wf AS (SELECT wd, count(*) AS freq FROM w WHERE wd <> '' GROUP BY 1),
        |ch AS (SELECT freq,
        |         list_append(regexp_extract_all(wd, '.'), '</w>') AS syms
        |       FROM wf),
        |p AS (SELECT freq,
        |        unnest(list_transform(range(1, len(syms)),
        |          i -> struct_pack(x := syms[i], y := syms[i+1]))) AS pr
        |      FROM ch),
        |c AS (SELECT pr.x AS x, pr.y AS y, CAST(sum(freq) AS BIGINT) AS cnt
        |      FROM p GROUP BY 1, 2)
        |SELECT x, y, cnt FROM c ORDER BY cnt DESC, x, y LIMIT 20""".stripMargin,
    "q_doc_bpe_encode" -> bpeEncodeOracle,
    "q_doc_bpe_trained" -> bpeTrainedOracle,
    "q_doc_unigram_trained" -> unigramTrainedOracle,
    // the streamed census is additive, so stream-trained == batch-
    // trained bit-for-bit and the gate shares the oracle
    "q_doc_unigram_stream" -> unigramTrainedOracle,
    "q_doc_unigram_pack" -> unigramPackOracle,
    "q_doc_bpe_pack" -> bpePackOracle,
    // both legs recomputed from scratch, fused by the same scaled
    // integer RRF (P = lcm(61..70), every addend exact)
    "q_doc_search_hybrid" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |idf AS (SELECT tok,
         |  ((SELECT count(*) FROM documents) * 10000) // df AS idf FROM dft),
         |q AS (SELECT doc_id AS query_id, tok, tf AS qtf FROM tf WHERE doc_id < 5),
         |sc AS (SELECT q.query_id, c.doc_id,
         |    SUM(CAST(q.qtf AS HUGEINT) * c.tf * i.idf) AS score
         |  FROM tf c JOIN q USING (tok) JOIN idf i USING (tok)
         |  WHERE c.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |sp AS (SELECT query_id, doc_id AS id, rank FROM (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM sc) WHERE rank <= 10),
         |dn AS (SELECT query_id, id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) WHERE rank <= 10),
         |u AS (SELECT * FROM sp UNION ALL SELECT * FROM dn),
         |f AS (SELECT query_id, id,
         |    CAST(SUM(142813628717760 // (60 + least(rank, 10))) AS BIGINT) AS rrf_scaled,
         |    CAST(count(*) AS BIGINT) AS n_legs
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, rank, id AS doc_id, rrf_scaled, n_legs FROM (
         |  SELECT query_id, id, rrf_scaled, n_legs,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_scaled DESC, id) AS BIGINT) AS rank
         |  FROM f) WHERE rank <= 10""".stripMargin,
    // the bloom prefilter is answer-preserving, so the scale path
    // shares the plain-join oracle verbatim
    "q_doc_contamination_bloom" -> contaminationOracle,
    "q_doc_pack" ->
      """SELECT doc_id, n_tokens,
        |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
        |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS chunk
        |FROM (SELECT doc_id, CAST((n_chars + 3) // 4 AS BIGINT) AS n_tokens FROM documents)""".stripMargin,
    "q_doc_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_filter($toks, x -> list_contains(['the','a'], x))) AS BIGINT) AS n_stop,
         |  CAST((n_chars + 3) // 4 AS BIGINT) AS est_bpe_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_regex_tokens,
         |  CAST(strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS ttr,
         |  CAST(len(list_filter($toks, x -> list_contains(['the','a'], x))) AS DOUBLE) / len($toks) AS stop_ratio,
         |  CAST(strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len($toks) AS punct_ratio
         |FROM documents""".stripMargin,
    // exact NTILE bands over the integer logit, then the in-band h60
    // walk; both engines' NTILE splits remainders identically
    "q_doc_curriculum" ->
      s"""WITH sc AS (SELECT doc_id, CAST($logitSql AS BIGINT) AS logit
         |  FROM documents),
         |b AS (SELECT doc_id, logit,
         |    CAST(ntile(10) OVER (ORDER BY logit DESC, doc_id ASC) AS BIGINT) AS band
         |  FROM sc)
         |SELECT doc_id, logit, band,
         |  CAST(row_number() OVER (ORDER BY band,
         |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
         |    doc_id) AS BIGINT) AS seq
         |FROM b""".stripMargin,
    // the same marker-hit argmax folded into a (declared, predicted)
    // matrix with per-declared-language integer permille shares
    "q_doc_lang_confusion" ->
      s"""WITH h AS (SELECT lang AS declared,
         |  CAST(len(list_filter($toks, x -> list_contains(['the','a','fast','slow'], x))) AS BIGINT) AS hits_en,
         |  CAST(len(list_filter($toks, x -> list_contains(['data','table','row','column'], x))) AS BIGINT) AS hits_es,
         |  CAST(len(list_filter($toks, x -> list_contains(['stream','batch','window','group'], x))) AS BIGINT) AS hits_de,
         |  CAST(len(list_filter($toks, x -> list_contains(['query','join','filter','sort'], x))) AS BIGINT) AS hits_fr
         |  FROM documents),
         |p AS (
         |  SELECT declared,
         |    CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |         WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |         WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |         WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |         ELSE 'fr' END AS predicted
         |  FROM h),
         |c AS (SELECT declared, predicted, count(*) AS n_docs
         |      FROM p GROUP BY 1, 2)
         |SELECT declared, predicted, n_docs,
         |  CAST(n_docs * 1000
         |    // SUM(n_docs) OVER (PARTITION BY declared) AS BIGINT)
         |    AS share_permille
         |FROM c""".stripMargin,
    "q_lang_id" ->
      s"""WITH h AS (SELECT doc_id,
         |  CAST(len(list_filter($toks, x -> list_contains(['the','a','fast','slow'], x))) AS BIGINT) AS hits_en,
         |  CAST(len(list_filter($toks, x -> list_contains(['data','table','row','column'], x))) AS BIGINT) AS hits_es,
         |  CAST(len(list_filter($toks, x -> list_contains(['stream','batch','window','group'], x))) AS BIGINT) AS hits_de,
         |  CAST(len(list_filter($toks, x -> list_contains(['query','join','filter','sort'], x))) AS BIGINT) AS hits_fr
         |  FROM documents)
         |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
         |  CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
         |       WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
         |       WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
         |       WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM h""".stripMargin,
    "q_doc_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp,
         |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS bag_fp
         |FROM documents""".stripMargin,
    "q_doc_dedup_exact" ->
      """SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "q_doc_length_quantiles" ->
      """SELECT quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.9) AS p90
        |FROM documents""".stripMargin,
    "q_doc_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g'))) AS norm_fp
        |FROM documents""".stripMargin,
    // the streamed composition shares plain batch SQL: quality
    // keep-set, min-id winner per normalized fingerprint
    "q_doc_curate_stream" ->
      s"""WITH s AS (SELECT doc_id, $toks AS toks,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
         |    '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, fp FROM s
         |  WHERE len(toks) BETWEEN 5 AND 500
         |    AND CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) / len(toks) <= 0.5
         |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.2),
         |m AS (SELECT fp, min(doc_id) AS doc_id FROM k GROUP BY fp)
         |SELECT k.doc_id, k.n_tokens FROM k JOIN m ON k.doc_id = m.doc_id AND k.fp = m.fp""".stripMargin,
    "q_doc_quality_filter" ->
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct
         |FROM documents
         |WHERE len($toks) BETWEEN 5 AND 500
         |  AND CAST(len(list_filter($toks, x -> list_contains(['the','a'], x))) AS DOUBLE) / len($toks) <= 0.5
         |  AND CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) >= 0.2""".stripMargin,
    // the three curation stages composed in one pipeline: model
    // keep-set -> md5 exact dedup -> Jaccard>=0.5 recursive-CTE
    // components (the q_doc_dedup_canonical closure over the
    // survivor set), component root survives
    "q_doc_curate" ->
      s"""WITH RECURSIVE
         |q AS (SELECT doc_id, text, CAST($logitSql AS BIGINT) AS logit
         |      FROM documents WHERE $logitSql >= 800),
         |e AS (SELECT q.doc_id, q.logit, q.text FROM q
         |      JOIN (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM q GROUP BY 1) r
         |      USING (doc_id)),
         |t AS (SELECT doc_id, $toks AS toks FROM e),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM s a JOIN s b ON a.doc_id < b.doc_id
         |          WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |            AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e2.dst FROM walk w JOIN edges e2 ON e2.src = w.r),
         |canon AS (SELECT doc, min(r) AS root FROM walk GROUP BY doc)
         |SELECT e.doc_id, e.logit FROM e LEFT JOIN canon c ON c.doc = e.doc_id
         |WHERE c.doc IS NULL OR c.root = e.doc_id""".stripMargin,
    // the same three-stage recursive-CTE pipeline reduced to per-stage
    // counts + integer-permille retention (pipeline observability)
    "q_doc_curation_funnel" ->
      s"""WITH RECURSIVE
         |q AS (SELECT doc_id, text, CAST($logitSql AS BIGINT) AS logit
         |      FROM documents WHERE $logitSql >= 800),
         |e AS (SELECT q.doc_id, q.logit, q.text FROM q
         |      JOIN (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM q GROUP BY 1) r
         |      USING (doc_id)),
         |t AS (SELECT doc_id, $toks AS toks FROM e),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM s a JOIN s b ON a.doc_id < b.doc_id
         |          WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |            AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e2.dst FROM walk w JOIN edges e2 ON e2.src = w.r),
         |canon AS (SELECT doc, min(r) AS root FROM walk GROUP BY doc),
         |surv AS (SELECT e.doc_id FROM e LEFT JOIN canon c ON c.doc = e.doc_id
         |         WHERE c.doc IS NULL OR c.root = e.doc_id),
         |n AS (SELECT (SELECT count(*) FROM documents) AS n0,
         |             (SELECT count(*) FROM q) AS n1,
         |             (SELECT count(*) FROM e) AS n2,
         |             (SELECT count(*) FROM surv) AS n3)
         |SELECT stage, CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  CAST(n_out * 1000 // n_in AS BIGINT) AS kept_permille
         |FROM (
         |  SELECT 'a_quality_model' AS stage, n0 AS n_in, n1 AS n_out FROM n
         |  UNION ALL SELECT 'b_exact_dedup', n1, n2 FROM n
         |  UNION ALL SELECT 'c_near_dup', n2, n3 FROM n)""".stripMargin,
    // same three-stage mirror with the best-survivor final reduction:
    // per component, arg_max by the packed (logit, -id) key
    "q_doc_curate_best" ->
      s"""WITH RECURSIVE
         |q AS (SELECT doc_id, text, CAST($logitSql AS BIGINT) AS logit
         |      FROM documents WHERE $logitSql >= 800),
         |e AS (SELECT q.doc_id, q.logit, q.text FROM q
         |      JOIN (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM q GROUP BY 1) r
         |      USING (doc_id)),
         |t AS (SELECT doc_id, $toks AS toks FROM e),
         |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM s a JOIN s b ON a.doc_id < b.doc_id
         |          WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |            AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e2.dst FROM walk w JOIN edges e2 ON e2.src = w.r),
         |canon AS (SELECT doc, min(r) AS root FROM walk GROUP BY doc),
         |lab AS (SELECT e.doc_id, e.logit, COALESCE(c.root, e.doc_id) AS comp
         |        FROM e LEFT JOIN canon c ON c.doc = e.doc_id)
         |SELECT arg_max(doc_id, logit * 1000000000000 - doc_id) AS doc_id,
         |  CAST(max(logit) AS BIGINT) AS logit
         |FROM lab GROUP BY comp""".stripMargin,
    // the same integer-weight linear scorer, feature expressions
    // copied from the q_doc_stats oracle
    "q_doc_quality_model" ->
      s"""SELECT doc_id, lang,
         |  CAST(50*len(list_distinct($toks)) - 8*len($toks)
         |    + 25*len(list_filter($toks, x -> list_contains(['the','a'], x)))
         |    - 30*strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS logit,
         |  CAST(CASE WHEN 50*len(list_distinct($toks)) - 8*len($toks)
         |    + 25*len(list_filter($toks, x -> list_contains(['the','a'], x)))
         |    - 30*strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) >= 800
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM documents""".stripMargin,
    // Full SimHash recomputation: same md5-60-bit token hash, same
    // frequency-weighted ±1 votes, same >=0 sign rule as
    // NearDup.simhashSigs; pairs brute-forced (500 docs — the oracle
    // may be O(n²), the engine may not).
    "q_doc_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |th AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok),
         |v AS (SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bits
         |  GROUP BY doc_id, b),
         |sig AS (SELECT doc_id,
         |    SUM(CASE WHEN vote >= 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sig
         |  FROM v GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
    "q_doc_dedup_jaccard" -> jaccardOracle("c",
      "3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))"),
    "q_doc_dedup_minhash" -> jaccardOracle("c",
      "9 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh))"),
    // fresh (odd-id) survivors of the cross-corpus dedup against the
    // frozen even-id dump: NOT EXISTS an exact Jaccard>=0.8 partner
    "q_doc_cross_dedup" ->
      s"""$shingleCte
         |SELECT f.doc_id FROM s f
         |WHERE f.doc_id % 2 = 1
         |  AND NOT EXISTS (
         |    SELECT 1 FROM s z
         |    WHERE z.doc_id % 2 = 0
         |      AND len(f.sh) > 0 AND len(z.sh) > 0
         |      AND 9 * len(list_intersect(f.sh, z.sh))
         |          >= 4 * (len(f.sh) + len(z.sh)))""".stripMargin,
    // exact Jaccard>=0.8 cross pairs: queries (<50) vs corpus (50+) —
    // what the served band-index probe must return after verification.
    // The offline distributed path returns the identical pair set, so
    // it shares the oracle (plan differs: shuffle joins, no collects).
    "q_doc_neardup_served" -> nearDupPairsOracle,
    "q_doc_neardup_offline" -> nearDupPairsOracle,
    // connected components of the Jaccard>=0.5 pair graph via a
    // recursive transitive closure; canonical = min reachable id.
    "q_doc_dedup_canonical" ->
      s"""WITH RECURSIVE $shingleCteBody,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e.dst FROM walk w JOIN edges e ON e.src = w.r)
         |SELECT doc AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
         |FROM walk GROUP BY doc""".stripMargin,
    // the canonical walk re-aggregated to a component-size histogram,
    // with the singleton row derived by subtraction (docs minus
    // clustered docs), exactly like the engine
    "q_doc_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleCteBody,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         |comp AS (SELECT doc, min(r) AS c FROM walk GROUP BY doc),
         |sizes AS (SELECT c, count(*) AS cluster_size FROM comp GROUP BY 1),
         |hist AS (SELECT cluster_size, count(*) AS n_clusters
         |         FROM sizes GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters FROM hist
         |UNION ALL
         |SELECT 1::BIGINT AS cluster_size,
         |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
         |    AS n_clusters
         |WHERE (SELECT count(*) FROM documents) > (SELECT count(*) FROM comp)"""
        .stripMargin,
    // the canonical-components walk joined with the quality logit;
    // survivor = arg_max by (logit, -doc_id) — best copy, ties low-id
    "q_doc_dedup_best" ->
      s"""WITH RECURSIVE $shingleCteBody,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND 3 * len(list_intersect(a.sh, b.sh)) >= 1 * (len(a.sh) + len(b.sh))),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         |m AS (SELECT doc AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
         |      FROM walk GROUP BY doc),
         |q AS (SELECT doc_id,
         |  CAST(50*len(list_distinct($toks)) - 8*len($toks)
         |    + 25*len(list_filter($toks, x -> list_contains(['the','a'], x)))
         |    - 30*strlen(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS logit
         |  FROM documents)
         |SELECT m.canonical_id,
         |  arg_max(m.doc_id, q.logit * 1000000000000 - m.doc_id) AS best_id,
         |  CAST(max(q.logit) AS BIGINT) AS best_logit,
         |  count(*) AS n_docs
         |FROM m JOIN q USING (doc_id)
         |GROUP BY m.canonical_id""".stripMargin,
  )

  /** The streamed boilerplate gate shares the batch oracle VERBATIM:
    * the additive-count state must reproduce the batch scrub exactly,
    * with no arrival-order caveat.
    */
  val oracles: Map[String, String] = oraclesBase +
    ("q_doc_boilerplate_stream" -> oraclesBase("q_doc_boilerplate")) +
    ("q_doc_drift_stream" -> oraclesBase("q_doc_drift"))
}
