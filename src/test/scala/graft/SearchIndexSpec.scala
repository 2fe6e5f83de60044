package graft

import org.apache.spark.sql.functions._
import graft.ops.SparseSearch
import graft.serving.{RootCache, SearchIndex}

/** The materialized inverted index: served ≡ direct retrieval,
  * bucket-partition pruning at the probe, and consistent idempotent
  * appends (postings + df deltas + corpus-size deltas together).
  */
class SearchIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("search_index_spec").toString
    SearchIndex.materialize(docs, p)
    p
  }

  private def served(r: String) = SearchIndex
    .query(spark, r, docs.filter($"doc_id" < 5), k = 10)

  test("served retrieval equals the direct postings-join retrieval") {
    val s = served(root).as[(Long, Long, Long)].collect().toSet
    val direct = SparseSearch
      .rankedRetrieval(docs, queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(s === direct)
    assert(s.nonEmpty)
  }

  test("postings scan is pruned to the query's term buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }
    // query() executes the retrieval eagerly (so it can release its
    // pinned query postings before returning) — the postings scan is
    // no longer in the RETURNED frame's plan, so observe it from the
    // executions themselves via a QueryExecutionListener
    @volatile var captured: Seq[Long] = Nil
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val scans = findScans(qe.executedPlan).filter(_.toString.contains("postings"))
        if (scans.nonEmpty)
          captured = captured ++ scans.map(_.metrics("numPartitions").value)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def partitionsRead(queries: org.apache.spark.sql.DataFrame): Long = {
        captured = Nil
        SearchIndex.query(spark, root, queries, k = 10).collect()
        // the listener bus is async — wait for the capture
        val deadline = System.currentTimeMillis() + 30000
        while (captured.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(captured.nonEmpty, "no postings scan captured")
        captured.max
      }
      // a one-word query touches at most one bucket; a full query doc
      // touches many — partitions read must scale with the term set
      val narrowDoc = Seq((9999L, "the")).toDF("doc_id", "text")
      val narrow = partitionsRead(narrowDoc)
      val wide = partitionsRead(docs.filter($"doc_id" < 5))
      assert(narrow <= 1L, s"one-term query read $narrow buckets")
      assert(wide > narrow,
        s"multi-term query should read more buckets ($wide) than one-term ($narrow)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("offline distributed retrieval (queryAll) matches the serving path on a 10k-query frame") {
    val qs = (1 to 20).map(r =>
        docs.select(($"doc_id" + lit(r * 10000L)).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    assert(qs.count() === 10000L)
    val offline = SearchIndex.queryAll(spark, root, qs, k = 10)
    // lazy + distributed: built with no collect/checkpoint, so the
    // analyzed plan holds no driver-materialized LogicalRDD
    val lrdd = offline.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(lrdd.isEmpty, "offline path must not materialize through the driver")
    val got = offline.as[(Long, Long, Long)].collect().toSet
    val bounded = SearchIndex.query(spark, root, qs, k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === bounded)
    assert(got.nonEmpty)
  }

  test("append half onto half equals full rebuild; replay adds nothing anywhere") {
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    val p = java.nio.file.Files.createTempDirectory("search_index_inc").toString
    SearchIndex.materialize(half1, p)
    SearchIndex.append(spark, p, half2)
    val inc = served(p).as[(Long, Long, Long)].collect().toSet
    val full = served(root).as[(Long, Long, Long)].collect().toSet
    assert(inc === full)
    // at-least-once replay: postings, df deltas, and N all unchanged
    def counts() = (
      spark.read.parquet(s"$p/postings").count(),
      spark.read.parquet(s"$p/stats").agg(sum($"df_delta")).head().getLong(0),
      spark.read.parquet(s"$p/meta").agg(sum($"n_delta")).head().getLong(0))
    val before = counts()
    SearchIndex.append(spark, p, half2)
    assert(counts() === before)
    assert(before._3 === docs.count())
  }

  test("a doc repeated inside one batch is indexed once (within-batch dedupe)") {
    val half1 = docs.filter($"doc_id" < 250)
    val half2 = docs.filter($"doc_id" >= 250)
    val clean = java.nio.file.Files.createTempDirectory("search_index_dup_a").toString
    val dup = java.nio.file.Files.createTempDirectory("search_index_dup_b").toString
    SearchIndex.materialize(half1, clean)
    SearchIndex.append(spark, clean, half2)
    SearchIndex.materialize(half1, dup)
    SearchIndex.append(spark, dup, half2.union(half2)) // redelivered in-batch
    def state(root: String) = (
      spark.read.parquet(s"$root/postings").select("bucket", "tok", "doc_id", "tf")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/stats").groupBy("bucket", "tok")
        .agg(sum($"df_delta")).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/meta").agg(sum($"n_delta")).head().getLong(0))
    assert(state(dup) === state(clean))
  }

  test("duplicated stats/meta files (crash-replay residue) collapse by delta_id") {
    val p = java.nio.file.Files.createTempDirectory("search_index_crash").toString
    SearchIndex.materialize(docs, p)
    val baseline = served(p).as[(Long, Long, Long)].collect().toSet
    // simulate the replay's double write: the same delta rows land in
    // stats and meta a second time under the same delta_id
    val statsCopy = spark.read.parquet(s"$p/stats").collect()
    val metaCopy = spark.read.parquet(s"$p/meta").collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(statsCopy.toSeq),
        spark.read.parquet(s"$p/stats").schema)
      .write.mode("append").partitionBy("bucket").parquet(s"$p/stats")
    spark.createDataFrame(
        spark.sparkContext.parallelize(metaCopy.toSeq),
        spark.read.parquet(s"$p/meta").schema)
      .write.mode("append").parquet(s"$p/meta")
    // the manual writes above bypass writeDelta — drop the cached
    // frames so the query actually reads the duplicated files
    RootCache.invalidate(spark, p)
    assert(served(p).as[(Long, Long, Long)].collect().toSet === baseline)
  }

  test("compaction consolidates deltas and bucket files; queries, appends and erases unchanged") {
    // fragment the index the way a 10s-trigger ingest does: many
    // small appends -> one delta + one file set per batch
    val p = java.nio.file.Files.createTempDirectory("search_index_cmp").toString
    val slices = (0 until 5).map(i => docs.filter($"doc_id" % 5 === i))
    SearchIndex.materialize(slices.head, p)
    slices.tail.foreach(s => SearchIndex.append(spark, p, s))
    val baseline = served(p).as[(Long, Long, Long)].collect().toSet
    def deltaIds() = spark.read.parquet(s"$p/meta")
      .select($"delta_id").distinct().count()
    def postFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      walk(new java.io.File(s"$p/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    assert(deltaIds() === 5L)
    val filesBefore = postFiles()
    SearchIndex.compact(spark, p)
    // one consolidated delta; per-bucket single files; same answers
    assert(deltaIds() === 1L)
    assert(postFiles() < filesBefore)
    assert(served(p).as[(Long, Long, Long)].collect().toSet === baseline)
    assert(spark.read.parquet(s"$p/meta").agg(sum($"n_delta")).head().getLong(0)
      === docs.count())
    // append-after-compact: replayed docs still rejected, new N exact
    SearchIndex.append(spark, p, slices.head) // full replay: no-op
    assert(served(p).as[(Long, Long, Long)].collect().toSet === baseline)
    // erase-after-compact still scores like a rebuild without the docs
    SearchIndex.eraseDocs(spark, p, Seq(0L, 1L))
    val rebuilt = java.nio.file.Files.createTempDirectory("search_index_cmp_rb").toString
    SearchIndex.materialize(docs.filter($"doc_id" >= 2), rebuilt)
    val q = docs.filter($"doc_id" >= 5 && $"doc_id" < 10)
    assert(SearchIndex.query(spark, p, q, k = 10)
      .as[(Long, Long, Long)].collect().toSet ===
      SearchIndex.query(spark, rebuilt, q, k = 10)
        .as[(Long, Long, Long)].collect().toSet)
  }

  test("document erasure: scores equal a rebuild without the docs; df and N shrink; replay no-op") {
    val erased = Seq(7L, 8L, 9L)
    val p = java.nio.file.Files.createTempDirectory("search_index_erase").toString
    SearchIndex.materialize(docs, p)
    SearchIndex.eraseDocs(spark, p, erased)
    // the erased index must score EXACTLY like an index built from
    // the corpus without those docs — same postings, same df, same N
    val rb = java.nio.file.Files.createTempDirectory("search_index_erase_rb").toString
    SearchIndex.materialize(docs.filter(!$"doc_id".isin(erased: _*)), rb)
    val got = served(p).as[(Long, Long, Long)].collect().toSet
    assert(got === served(rb).as[(Long, Long, Long)].collect().toSet)
    assert(got.nonEmpty)
    // nothing of the erased docs remains in the postings
    assert(spark.read.parquet(s"$p/postings")
      .filter($"doc_id".isin(erased: _*)).isEmpty)
    // the corpus-size deltas sum to N - 3
    val n = spark.read.parquet(s"$p/meta")
      .groupBy($"delta_id").agg(max($"n_delta").as("n_delta"))
      .agg(sum($"n_delta")).head().getLong(0)
    assert(n === docs.count() - erased.size)
    // re-erase (crash retry / absent ids): nothing changes — the
    // content-keyed meta delta collapses, postings already clean
    SearchIndex.eraseDocs(spark, p, erased)
    val n2 = spark.read.parquet(s"$p/meta")
      .groupBy($"delta_id").agg(max($"n_delta").as("n_delta"))
      .agg(sum($"n_delta")).head().getLong(0)
    assert(n2 === n)
    assert(served(p).as[(Long, Long, Long)].collect().toSet === got)
  }

  test("read-path recovery: crash at (or past) the manifest, then a plain QUERY returns the post-erase answer") {
    val erased = Seq(7L, 8L, 9L)
    val rb = java.nio.file.Files.createTempDirectory("search_index_rp_rb").toString
    SearchIndex.materialize(docs.filter(!$"doc_id".isin(erased: _*)), rb)
    val want = served(rb).as[(Long, Long, Long)].collect().toSet

    // crash exactly AT the commit point: legs staged + manifest
    // written, nothing applied — then a fresh JVM queries
    val p = java.nio.file.Files.createTempDirectory("search_index_rp_a").toString
    SearchIndex.materialize(docs, p)
    graft.serving.EraseStage.stage(spark, p,
      SearchIndex.eraseLegs(spark, p, erased))
    RootCache.invalidate(spark, p) // fresh JVM: empty caches
    assert(served(p).as[(Long, Long, Long)].collect().toSet === want)
    assert(!new java.io.File(s"$p/_erase_stage").exists,
      "the query's recovery must consume the stage")

    // crash MID-APPLY: an affected postings bucket already deleted,
    // kept rows not yet appended — the holed-index window
    val q = java.nio.file.Files.createTempDirectory("search_index_rp_b").toString
    SearchIndex.materialize(docs, q)
    val legs = SearchIndex.eraseLegs(spark, q, erased)
    graft.serving.EraseStage.stage(spark, q, legs)
    val bucket = legs.collectFirst {
      case (graft.serving.EraseStage.Swap("postings", _, a, _, _, _), _) => a.head }.get
    val fsys = new org.apache.hadoop.fs.Path(q)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$q/postings/bucket=$bucket"), true)
    RootCache.invalidate(spark, q)
    assert(served(q).as[(Long, Long, Long)].collect().toSet === want)
  }
}
