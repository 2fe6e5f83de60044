package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.ops.Sample

/** Deterministic-sampling queries over `documents` — the data-mixing
  * stage of a training pipeline: stratified Bernoulli keeps, fixed-n
  * per-source samples, and budget-driven mixture sampling.
  *
  * Every keep decision is an exact function of the md5-60-bit doc
  * hash (see [[Sample]]), so the oracle reproduces membership exactly
  * — including the mixture path, whose per-stratum rate is the same
  * IEEE double expression on both engines.
  */
object SampleQueries {

  type QFn = (SparkSession, String) => DataFrame

  private val stratRates = Map("en" -> 0.5, "zh" -> 0.3)
  private val stratDefault = 0.25

  private val mixWeights = Map(
    "en" -> 0.4, "zh" -> 0.2, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1)
  private val mixBudget = 20000.0

  /** Stratified Bernoulli: keep en at 50%, zh at 30%, rest at 25%. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sample.stratifiedBernoulli(Tables.documents(spark, dir),
        idCol = "doc_id", strataCol = "lang",
        rates = stratRates, defaultRate = stratDefault)
      .select(col("doc_id"), col("lang"), col("source"))

  /** Deterministic 5-doc sample per source (reservoir equivalent). */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    Sample.perGroupFixedN(Tables.documents(spark, dir),
        groupCol = "source", idCol = "doc_id", n = 5)
      .select(col("doc_id"), col("source"), col("rn"))

  /** Mixture sampling to a 20k-token budget with per-language
    * weights — every stratum lands at a genuine sub-1 rate on this
    * corpus, so the budget arithmetic is actually exercised.
    */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        Text.estBpeTokens(col("n_chars")).as("est_tokens"))
    Sample.mixtureSample(docs, idCol = "doc_id", strataCol = "lang",
        tokensCol = "est_tokens", weights = mixWeights, budget = mixBudget)
      .select(col("doc_id"), col("lang"), col("est_tokens"))
  }

  /** Importance-weighted 200-doc sample (selection probability ∝
    * estimated token count): the "sample long documents more often"
    * curation step, deterministic via A-ES keys over the doc hash.
    * Output is the selected membership only — no FP keys on the wire;
    * the oracle replays the identical IEEE-double key expression and
    * the k/k+1 key gap is astronomically larger than cross-libm ULP
    * noise, so the selected set hash-checks exactly.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Sample.weightedTopK(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          Text.estBpeTokens(col("n_chars")).as("est_tokens")),
      idCol = "doc_id", weightCol = "est_tokens", k = 200)

  /** Per-language weighted selection — [[Sample.weightedTopKPerGroup]]
    * over the same token-weight: the 5 highest-drawn docs of EVERY
    * language (per-domain quota sampling).
    */
  def sampleWeightedPerGroup(spark: SparkSession, dir: String): DataFrame =
    Sample.weightedTopKPerGroup(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          Text.estBpeTokens(col("n_chars")).as("est_tokens")),
      groupCol = "lang", idCol = "doc_id", weightCol = "est_tokens", k = 5)

  /** DSIR-style importance scores toward an English-looking bigram
    * profile — see [[Sample.importanceWeights]]. All 500 docs scored;
    * the resampling step composes with [[sampleWeighted]]'s A-ES or
    * the Bernoulli keeps.
    */
  def sampleImportance(spark: SparkSession, dir: String): DataFrame =
    Sample.importanceWeights(Tables.documents(spark, dir),
      targetPred = col("lang") === "en", buckets = 256)

  private val profileCache = new graft.FpMemo.TempRoots("graft_importance", "documents")

  /** Materialized profile root per source fingerprint
    * ([[graft.FpMemo]]).
    */
  private[graft] def importanceRoot(spark: SparkSession, dir: String): String =
    profileCache.root(spark, dir)(p =>
      graft.serving.ImportanceProfile.materialize(
        Tables.documents(spark, dir), col("lang") === "en", p))

  /** Importance scores SERVED from the materialized profile state —
    * additive deltas re-sum to the one-shot profile, so this shares
    * [[sampleImportance]]'s oracle bit-for-bit.
    */
  def sampleImportanceServed(spark: SparkSession, dir: String): DataFrame =
    graft.serving.ImportanceProfile.score(spark,
      importanceRoot(spark, dir), Tables.documents(spark, dir))

  /** Exact token-quota mixture with epoch oversampling
    * ([[graft.ops.Quota.tokenBudget]]): per-source quota =
    * total_src · (srcnum mod 7) / 2 tokens, epoch cap 2 — a sweep
    * that exercises every branch on this corpus: quota-0 sources
    * (excluded), sub-epoch partial selection, exactly-one-epoch,
    * mixed 1/2-epoch, and the cap binding. Quotas are derived from
    * the per-source totals via a bounded driver collect (the source
    * alphabet — the same bounded-metadata convention as the typed
    * quantile sweep), so the gate stays meaningful at every SF while
    * the op itself takes an explicit per-source Map.
    */
  /** The (narrow doc frame, per-source budgets) pair both quota gates
    * start from — ONE tokenize pass over the corpus: the 3-column
    * (doc_id, source, n_tokens) frame is persisted and the budget
    * aggregation's collect doubles as the eager cache fill, so the
    * keyed scan inside [[graft.ops.Quota.tokenBudget]] reads the
    * cached frame instead of re-tokenizing every document (guide
    * §1.2 — the freqCm one-pass discipline). Quota's internal
    * `localCheckpoint`s detach everything downstream from the cache,
    * so callers unpersist as soon as the quota chain returns.
    */
  private def tokenCountsWithBudgets(
      spark: SparkSession, dir: String): (DataFrame, Map[String, Long]) = {
    val d = Tables.documents(spark, dir).select(
        col("doc_id"), col("source"), Text.tokenCount(col("text")).as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val budgets = d.groupBy(col("source")).agg(sum(col("n_tokens")).as("t"))
      .collect().map { r =>
        val s = r.getString(0)
        s -> r.getLong(1) * (s.stripPrefix("src").toLong % 7) / 2
      }.toMap
    (d, budgets)
  }

  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val (d, budgets) = tokenCountsWithBudgets(spark, dir)
    val out = graft.ops.Quota.tokenBudget(d, "doc_id", "source", "n_tokens",
      budgets, maxEpochs = 2)
    // tokenBudget's result sits on its scan's eager localCheckpoint —
    // nothing downstream re-reads d
    d.unpersist(blocking = false)
    out
  }

  /** The full mixture-construction COMPOSITION: token-quota
    * allocation ([[sampleTokenBudget]]'s quotas and cap) →
    * epoch-expand → stride-scheduled global interleave
    * ([[graft.ops.Quota.strideInterleave]]). Output is the exact
    * global training order (seq, doc, source, epoch); the oracle
    * recomputes allocation, expansion, stride positions, and the
    * global numbering with plain SQL windows.
    */
  def sampleMixtureSchedule(spark: SparkSession, dir: String): DataFrame = {
    val (d, budgets) = tokenCountsWithBudgets(spark, dir)
    val out = graft.ops.Quota.strideInterleave(
      graft.ops.Quota.tokenBudget(d, "doc_id", "source", "n_tokens",
        budgets, maxEpochs = 2))
    d.unpersist(blocking = false)
    out
  }

  val queries: Map[String, QFn] = Map(
    "q_doc_token_budget" -> (sampleTokenBudget _),
    "q_doc_mixture_schedule" -> (sampleMixtureSchedule _),
    "q_doc_sample_stratified" -> (sampleStratified _),
    "q_doc_sample_pergroup" -> (samplePerGroup _),
    "q_doc_mixture" -> (sampleMixture _),
    "q_doc_sample_weighted" -> (sampleWeighted _),
    "q_doc_sample_weighted_grp" -> (sampleWeightedPerGroup _),
    "q_doc_importance" -> (sampleImportance _),
    "q_doc_importance_served" -> (sampleImportanceServed _),
  )

  private val h60 =
    "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"

  val oracles: Map[String, String] = Map(
    // thresholds are the SAME Scala-computed longs the engine uses —
    // membership is an exact integer compare on both sides.
    "q_doc_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $h60 < CASE
         |  WHEN lang = 'en' THEN ${Sample.thresholdFor(stratRates("en"))}
         |  WHEN lang = 'zh' THEN ${Sample.thresholdFor(stratRates("zh"))}
         |  ELSE ${Sample.thresholdFor(stratDefault)} END""".stripMargin,
    "q_doc_sample_pergroup" ->
      s"""SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY $h60, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5""".stripMargin,
    // identical IEEE double pipeline: (budget * weight) / sum_tokens,
    // least(1.0, ·), hash/2^60 < rate — bit-equal on both engines.
    "q_doc_mixture" ->
      s"""WITH tot AS (
         |  SELECT lang, CAST(SUM((n_chars + 3) // 4) AS DOUBLE) AS tok
         |  FROM documents GROUP BY 1),
         |r AS (
         |  SELECT lang, least(1.0, $mixBudget * CASE lang
         |      WHEN 'en' THEN ${mixWeights("en")} WHEN 'zh' THEN ${mixWeights("zh")}
         |      WHEN 'de' THEN ${mixWeights("de")} WHEN 'es' THEN ${mixWeights("es")}
         |      WHEN 'fr' THEN ${mixWeights("fr")} ELSE 0.0 END / tok) AS rate
         |  FROM tot)
         |SELECT d.doc_id, d.lang, CAST((d.n_chars + 3) // 4 AS BIGINT) AS est_tokens
         |FROM documents d JOIN r USING (lang)
         |WHERE CAST($h60 AS DOUBLE) / 1152921504606846976.0 < r.rate""".stripMargin,
    // same A-ES key expression (same IEEE ops in the same order):
    // ln((hash+1)/2^60) / weight, descending, doc_id tie-break.
    "q_doc_sample_weighted" ->
      s"""SELECT doc_id, lang, est_tokens FROM (
         |  SELECT doc_id, lang, CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens
         |  FROM documents)
         |ORDER BY ln((CAST($h60 AS DOUBLE) + 1.0) / 1152921504606846976.0)
         |    / CAST(est_tokens AS DOUBLE) DESC, doc_id
         |LIMIT 200""".stripMargin,
    "q_doc_sample_weighted_grp" ->
      s"""SELECT doc_id, lang, est_tokens, rn FROM (
         |  SELECT doc_id, lang, est_tokens,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY ln((CAST($h60 AS DOUBLE) + 1.0) / 1152921504606846976.0)
         |          / CAST(est_tokens AS DOUBLE) DESC, doc_id) AS BIGINT) AS rn
         |  FROM (SELECT doc_id, lang, CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens
         |        FROM documents))
         |WHERE rn <= 5""".stripMargin,
    // the full integer DSIR chain replayed: bigram → md5 bucket →
    // add-1 ratio weight ((t+1)*10000 // (r+1)) → per-doc weight sum.
    // The served path re-sums additive profile deltas to the identical
    // counts, so it shares the oracle.
    "q_doc_importance" -> importanceOracle,
    "q_doc_importance_served" -> importanceOracle,
    // sequential per-source cumsum in md5(quota1:id) order — the
    // keyed distributed scan must be bit-equal to it; quota/epoch
    // arithmetic is pure integer on both engines
    "q_doc_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5('quota1:' || doc_id) AS ord FROM documents),
        |t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM d GROUP BY 1),
        |b AS (SELECT source,
        |    total * (CAST(substr(source, 4) AS BIGINT) % 7) // 2 AS budget FROM t),
        |c AS (SELECT d.*,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM d),
        |sel AS (
        |  SELECT c.doc_id, c.source, c.n_tokens,
        |    CAST(least(b.budget // t.total +
        |      CASE WHEN c.cum < b.budget % t.total THEN 1 ELSE 0 END, 2) AS BIGINT)
        |      AS n_epochs
        |  FROM c JOIN t USING (source) JOIN b USING (source))
        |SELECT doc_id, source, n_tokens, n_epochs FROM sel
        |WHERE n_epochs > 0""".stripMargin,
    // allocation → epoch expansion → stride position (2r+1)/(2n),
    // one IEEE division of exactly-representable integers on both
    // engines → global row_number with full tie-breakers
    "q_doc_mixture_schedule" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5('quota1:' || doc_id) AS ord FROM documents),
        |t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM d GROUP BY 1),
        |b AS (SELECT source,
        |    total * (CAST(substr(source, 4) AS BIGINT) % 7) // 2 AS budget FROM t),
        |c AS (SELECT d.*,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM d),
        |sel AS (
        |  SELECT c.doc_id, c.source, c.ord,
        |    CAST(least(b.budget // t.total +
        |      CASE WHEN c.cum < b.budget % t.total THEN 1 ELSE 0 END, 2) AS BIGINT)
        |      AS n_epochs
        |  FROM c JOIN t USING (source) JOIN b USING (source)),
        |ex AS (SELECT s.doc_id, s.source, s.ord, CAST(u.e AS BIGINT) AS epoch
        |       FROM (SELECT * FROM sel WHERE n_epochs > 0) s,
        |            UNNEST(range(0, s.n_epochs)) AS u(e)),
        |n AS (SELECT source, count(*) AS n FROM ex GROUP BY 1),
        |pos AS (SELECT rk.doc_id, rk.source, rk.epoch,
        |    CAST(2*rk.r + 1 AS DOUBLE) / CAST(2*n.n AS DOUBLE) AS pos
        |  FROM (SELECT ex.*, row_number() OVER (PARTITION BY source
        |          ORDER BY epoch, ord, doc_id) - 1 AS r FROM ex) rk
        |  JOIN n USING (source))
        |SELECT CAST(row_number() OVER (ORDER BY pos, source, doc_id, epoch) AS BIGINT)
        |    AS seq,
        |  doc_id, source, epoch FROM pos""".stripMargin,
  )

  private lazy val importanceOracle =
    """WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT doc_id, lang,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM ws WHERE len(w) >= 2),
      |bb AS (SELECT doc_id, lang,
      |    ('0x' || substring(md5(g), 1, 15))::BIGINT % 256 AS b FROM bi),
      |r AS (SELECT b, count(*) AS r FROM bb GROUP BY 1),
      |t AS (SELECT b, count(*) AS t FROM bb WHERE lang = 'en' GROUP BY 1),
      |wt AS (SELECT r.b, ((coalesce(t.t, 0) + 1) * 10000) // (r.r + 1) AS w
      |  FROM r LEFT JOIN t ON r.b = t.b),
      |s AS (SELECT bb.doc_id, sum(wt.w) AS sc FROM bb
      |  JOIN wt ON bb.b = wt.b GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(s.sc, 0) AS BIGINT) AS importance
      |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin
}
