package graft

import org.apache.spark.sql.functions._
import graft.ops.NearDup
import graft.serving.{NearDupIndex, RootCache}

/** The materialized near-dup band index: served lookup ≡ exhaustive
  * exact-Jaccard cross pairs, band-bucket pruning at the probe, and
  * idempotent appends.
  */
class NearDupIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val corpus = docs.filter($"doc_id" >= 50)
  private lazy val queriesDf = docs.filter($"doc_id" < 50)
  private lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("neardup_index_spec").toString
    NearDupIndex.materialize(corpus, p)
    p
  }

  private def served(r: String): Set[(Long, Long)] = NearDupIndex
    .query(spark, r, queriesDf).as[(Long, Long)].collect().toSet

  test("served lookup equals exhaustive exact-Jaccard cross pairs") {
    // brute force: every (query, corpus) pair exact-verified — no LSH
    val cand = queriesDf.select($"doc_id".as("doc_a"))
      .crossJoin(corpus.select($"doc_id".as("doc_b")))
    val postings = NearDup.postingsOf(docs, 3)
    val expected = NearDup.verifyPairs(cand, postings, 4, 5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    postings.unpersist()
    val s = served(root)
    assert(s === expected)
    assert(s.nonEmpty, "test corpus has no cross near-dup pairs")
  }

  test("probe reads only the query's band buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }
    @volatile var captured: Seq[Long] = Nil
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val scans = findScans(qe.executedPlan).filter(_.toString.contains("bands"))
        if (scans.nonEmpty)
          captured = captured ++ scans.map(_.metrics("numPartitions").value)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the corpus populates (essentially) all 64 buckets; one query
      // doc has 16 bands, so its probe may touch at most 16 of them
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val total = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$root/bands/bucket=*")).length
      assert(total > 16, s"corpus should spread over >16 buckets, got $total")
      NearDupIndex.query(spark, root, docs.filter($"doc_id" === 0L)).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (captured.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(captured.nonEmpty, "no bands scan captured")
      assert(captured.max <= 16L,
        s"one-doc probe read ${captured.max} of $total buckets")
    } finally spark.listenerManager.unregister(listener)
  }

  test("offline distributed lookup (queryAll) matches the serving path on a 10k-query frame") {
    val qs = (1 to 200).map(r =>
        queriesDf.select(($"doc_id" + lit(r * 10000L)).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    assert(qs.count() === 10000L)
    val offline = NearDupIndex.queryAll(spark, root, qs)
    val lrdd = offline.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(lrdd.isEmpty, "offline path must not materialize through the driver")
    val got = offline.as[(Long, Long)].collect().toSet
    val bounded = NearDupIndex.query(spark, root, qs)
      .as[(Long, Long)].collect().toSet
    assert(got === bounded)
    assert(got.nonEmpty)
  }

  test("query paths verify from materialized postings — index text never re-tokenized") {
    val qs = queriesDf
    val plan = NearDupIndex.queryAll(spark, root, qs)
      .queryExecution.optimizedPlan.toString
    // the verification side must scan the admit-time postings table;
    // any read of the docs table means candidate text is being
    // re-shingled per call (the per-query cost this layout removes)
    assert(plan.contains("postings_3"), plan.take(2000))
    assert(!plan.contains("/docs"), plan.take(2000))
    // stored postings equal a fresh shingle pass over the corpus
    val stored = spark.read.parquet(s"$root/postings_3")
      .as[(Long, Long, String)].collect().toSet
    val fresh = graft.ops.NearDup
      .postingsNoCache(corpus.select($"doc_id", $"text"), 3)
      .as[(Long, Long, String)].collect().toSet
    assert(stored === fresh)
  }

  test("append half onto half equals full rebuild; replay adds nothing") {
    val half1 = corpus.filter($"doc_id" % 2 === 0)
    val half2 = corpus.filter($"doc_id" % 2 === 1)
    val p = java.nio.file.Files.createTempDirectory("neardup_index_inc").toString
    NearDupIndex.materialize(half1, p)
    NearDupIndex.append(spark, p, half2)
    assert(served(p) === served(root))
    def counts() = (
      spark.read.parquet(s"$p/bands").count(),
      spark.read.parquet(s"$p/docs").count(),
      spark.read.parquet(s"$p/postings_3").count())
    val before = counts()
    NearDupIndex.append(spark, p, half2) // at-least-once replay
    assert(counts() === before, "replayed append changed the index")
    assert(served(p) === served(root))
  }

  test("compaction: fragmented bands + flat tables rewrite; serving identical; append continues") {
    val p = java.nio.file.Files.createTempDirectory("neardup_index_cmp").toString
    NearDupIndex.materialize(corpus.filter($"doc_id" % 5 === 0), p)
    (1 until 5).foreach(i =>
      NearDupIndex.append(spark, p, corpus.filter($"doc_id" % 5 === i)))
    val baseline = served(p)
    def files(t: String) =
      Option(new java.io.File(s"$p/$t").listFiles).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val docsBefore = files("docs")
    assert(docsBefore >= 3) // fragmented by the appends
    val done = NearDupIndex.compact(spark, p, minFiles = 3)
    assert(done.contains("docs") && done.contains("postings_3"))
    assert(files("docs") < docsBefore)
    assert(served(p) === baseline)
    // append-after-compact: the content-keyed guard reads the
    // rewritten docs table, replays still add nothing
    def counts() = (
      spark.read.parquet(s"$p/bands").count(),
      spark.read.parquet(s"$p/docs").count(),
      spark.read.parquet(s"$p/postings_3").count())
    val before = counts()
    NearDupIndex.append(spark, p, corpus.filter($"doc_id" % 5 === 1))
    assert(counts() === before)
    assert(served(p) === baseline)
  }

  test("document erasure: matches vanish, nothing of the doc remains, equals rebuild") {
    // erase docs that actually MATCH some query, so results must change
    val matched = served(root).map(_._2).toSeq.sorted.take(2)
    assert(matched.nonEmpty, "fixture has no near-dup matches to erase")
    val p = java.nio.file.Files.createTempDirectory("neardup_index_erase").toString
    NearDupIndex.materialize(corpus, p)
    NearDupIndex.erase(spark, p, matched)
    // equals an index built from the corpus without those docs
    val rb = java.nio.file.Files.createTempDirectory("neardup_index_erase_rb").toString
    NearDupIndex.materialize(corpus.filter(!$"doc_id".isin(matched: _*)), rb)
    assert(served(p) === served(rb))
    assert(served(p) !== served(root), "erasing matched docs must change results")
    // no band row, stored text, or shingle of the erased docs anywhere
    for (t <- Seq("bands", "docs", "postings_3"))
      assert(spark.read.parquet(s"$p/$t")
        .filter($"doc_id".isin(matched: _*)).isEmpty, s"$t still holds erased docs")
    // re-erase (crash retry / absent ids): no-op
    val before = spark.read.parquet(s"$p/bands").count()
    NearDupIndex.erase(spark, p, matched)
    assert(spark.read.parquet(s"$p/bands").count() === before)
    assert(served(p) === served(rb))
  }

  test("read-path recovery: crash at the manifest, then a plain QUERY returns the post-erase answer") {
    val matched = served(root).map(_._2).toSeq.sorted.take(2)
    assert(matched.nonEmpty, "fixture has no near-dup matches to erase")
    val rb = java.nio.file.Files.createTempDirectory("neardup_index_rp_rb").toString
    NearDupIndex.materialize(corpus.filter(!$"doc_id".isin(matched: _*)), rb)
    val want = served(rb)
    val p = java.nio.file.Files.createTempDirectory("neardup_index_rp").toString
    NearDupIndex.materialize(corpus, p)
    // crash exactly AT the commit point, then a fresh JVM queries
    graft.serving.EraseStage.stage(spark, p,
      NearDupIndex.eraseLegs(spark, p, matched, 3))
    RootCache.invalidate(spark, p) // fresh JVM: empty frame cache
    assert(served(p) === want)
    assert(served(p) !== served(root), "erase must be visible through the query")
    assert(!new java.io.File(s"$p/_erase_stage").exists,
      "the query's recovery must consume the stage")
  }
}
