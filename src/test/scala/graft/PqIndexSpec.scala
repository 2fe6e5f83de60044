package graft

import org.apache.spark.sql.functions._
import graft.ops.KMeans
import graft.serving.{PqIndex, RootCache}

/** The materialized IVFADC index: served ≡ in-memory, probe reads
  * only the probed cell directories, and appends are idempotent.
  */
class PqIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queriesDf = emb.filter($"vec_id" < 10)
  private lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("pq_index_spec").toString
    PqIndex.materialize(spark, emb, p)
    p
  }

  private def served(r: String, nprobe: Int = 4): Set[(Long, Long, Long)] =
    PqIndex.query(spark, r, queriesDf, topK = 5, nprobe = nprobe)
      .as[(Long, Long, Long)].collect().toSet

  test("served query equals the in-memory IVFADC index") {
    val mem = KMeans.ivfAdcQuery(KMeans.ivfAdcIndex(emb), queriesDf, topK = 5)
      .as[(Long, Long, Long)].collect().toSet
    val s = served(root)
    assert(s === mem)
    assert(s.nonEmpty)
  }

  test("probe reads only the probed cell directories") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }
    val one = PqIndex.query(spark, root, emb.filter($"vec_id" === 0L),
      topK = 5, nprobe = 2)
    one.collect()
    val scans = findScans(one.queryExecution.executedPlan)
      .filter(_.toString.contains("codes"))
    assert(scans.nonEmpty, "no codes scan in the served-query plan")
    // 8 cell directories exist; a 1-query nprobe=2 probe may read ≤ 2
    assert(scans.map(_.metrics("numPartitions").value).max <= 2L,
      "probe read more cell directories than it probed")
  }

  test("append half onto half equals full rebuild; replay adds nothing") {
    // the codebooks are the k lowest-id vectors, so the seed half must
    // contain them for append==rebuild to be meaningful (a frozen
    // quantizer only matches a rebuild whose training set is the same)
    val half1 = emb.filter($"vec_id" < 250)
    val half2 = emb.filter($"vec_id" >= 250)
    val p = java.nio.file.Files.createTempDirectory("pq_index_inc").toString
    PqIndex.materialize(spark, half1, p)
    PqIndex.append(spark, p, half2)
    def codes(r: String) = spark.read.parquet(s"$r/codes")
      .collect().map(_.toSeq).toSet
    assert(codes(p) === codes(root), "appended index diverges from full rebuild")
    assert(served(p) === served(root))
    val before = spark.read.parquet(s"$p/codes").count()
    PqIndex.append(spark, p, half2) // at-least-once replay
    assert(spark.read.parquet(s"$p/codes").count() === before,
      "replayed append changed the index")
  }

  test("cell compaction over codes: fewer files, identical serving") {
    val p = java.nio.file.Files.createTempDirectory("pq_index_cmp").toString
    PqIndex.materialize(spark, emb.filter($"vec_id" < 250), p)
    (0 until 5).foreach(i => PqIndex.append(spark, p,
      emb.filter($"vec_id" >= 250 && $"vec_id" % 5 === i)))
    val baseline = served(p)
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      walk(new java.io.File(s"$p/codes")).count(_.getName.endsWith(".parquet"))
    }
    val before = files()
    val compacted = PqIndex.compactCells(spark, p, minFiles = 3)
    assert(compacted.nonEmpty)
    assert(files() < before)
    assert(served(p) === baseline)
  }

  test("vector erasure: codes vanish; results equal an index encoding the corpus without them") {
    val erased = (30L to 34L).toSeq
    val p = java.nio.file.Files.createTempDirectory("pq_index_erase").toString
    PqIndex.materialize(spark, emb, p)
    PqIndex.erase(spark, p, erased)
    // frozen codebooks + per-vector codes: the erased index must
    // equal one whose CODE TABLE was built from the corpus without
    // the vectors under the SAME codebooks (append==rebuild already
    // proves code determinism, so compare against a seed+append build
    // that never saw the erased ids)
    val rb = java.nio.file.Files.createTempDirectory("pq_index_erase_rb").toString
    PqIndex.materialize(spark, emb.filter($"vec_id" < 250), rb)
    PqIndex.append(spark, rb,
      emb.filter($"vec_id" >= 250 && !$"vec_id".isin(erased: _*)))
    PqIndex.erase(spark, rb, erased.filter(_ < 250L)) // ids in the seed half
    def codes(r: String) = spark.read.parquet(s"$r/codes")
      .collect().map(_.toSeq).toSet
    assert(codes(p) === codes(rb))
    assert(spark.read.parquet(s"$p/codes")
      .filter($"vec_id".isin(erased: _*)).isEmpty)
    assert(served(p) === served(rb))
    // re-erase (crash retry / absent ids): no-op
    val before = spark.read.parquet(s"$p/codes").count()
    PqIndex.erase(spark, p, erased)
    assert(spark.read.parquet(s"$p/codes").count() === before)
    assert(before === emb.count() - erased.size)
  }

  test("read-path recovery: crash at the manifest, then a plain load/query serves the post-erase answer") {
    val erased = (30L to 34L).toSeq
    // the clean-erase reference
    val rb = java.nio.file.Files.createTempDirectory("pq_index_rp_rb").toString
    PqIndex.materialize(spark, emb, rb)
    PqIndex.erase(spark, rb, erased)
    // crash exactly AT the commit point, then a fresh JVM queries
    val p = java.nio.file.Files.createTempDirectory("pq_index_rp").toString
    PqIndex.materialize(spark, emb, p)
    graft.serving.EraseStage.stage(spark, p,
      PqIndex.eraseLegs(spark, p, erased))
    RootCache.invalidate(spark, p) // fresh JVM: no cached loaded index
    assert(served(p) === served(rb))
    assert(spark.read.parquet(s"$p/codes")
      .filter($"vec_id".isin(erased: _*)).isEmpty)
    assert(!new java.io.File(s"$p/_erase_stage").exists,
      "the load's recovery must consume the stage")
  }

  test("codebook reindex: retrained codes+books swap in one staged commit, bit-identical to a fresh build") {
    // start from a deliberately coarse build (4 cells, 8 sub-codes)
    val p = java.nio.file.Files.createTempDirectory("pq_index_ri").toString
    PqIndex.materialize(spark, emb, p, coarseK = 4, k = 8)
    val before = served(p, nprobe = 4)
    // the reference: a FRESH build at the refreshed parameters — the
    // trainer is deterministic, so reindex must be bit-identical
    val fresh = java.nio.file.Files.createTempDirectory("pq_index_ri_ref").toString
    PqIndex.materialize(spark, emb, fresh)
    PqIndex.reindex(spark, emb, p)
    assert(served(p, nprobe = 8) === served(fresh, nprobe = 8))
    assert(served(p, nprobe = 8).nonEmpty)
    assert(!new java.io.File(s"$p/_erase_stage").exists)
    // books actually moved: 8 coarse rows now, and the stored m rides
    val cb = spark.read.parquet(s"$p/codebooks")
    assert(cb.filter($"kind" === "coarse").count() === 8L)
    // the old operating point still answers (books+codes consistent)
    assert(served(p, nprobe = 4).nonEmpty && before.nonEmpty)
    // a corpus missing stored ids is REFUSED — reindex must never be
    // an accidental erase
    val e = intercept[IllegalArgumentException] {
      PqIndex.reindex(spark, emb.filter($"vec_id" =!= 0L), p)
    }
    assert(e.getMessage.contains("missing"))
  }

  test("reindex crash at the manifest: the next load serves the COMPLETE retrained index") {
    val p = java.nio.file.Files.createTempDirectory("pq_index_ric").toString
    PqIndex.materialize(spark, emb, p, coarseK = 4, k = 8)
    val fresh = java.nio.file.Files.createTempDirectory("pq_index_ric_ref").toString
    PqIndex.materialize(spark, emb, fresh)
    // stage the full reindex legs, crash at the commit point: use the
    // real leg construction by running reindex with apply suppressed —
    // stage() is the EraseStage seam, so build legs the same way
    val idx = KMeans.ivfAdcIndex(emb)
    import spark.implicits._
    val cbDf = (idx.coarse.zipWithIndex.map { case (v, i) => ("coarse", i, v) } ++
      idx.subCB.zipWithIndex.map { case (v, i) => ("sub", i, v) })
      .toDF("kind", "idx", "vec").withColumn("m", lit(idx.m))
    val oldCells = spark.read.parquet(s"$p/codes")
      .select($"cell".cast("int")).distinct().as[Int].collect().toSeq
    graft.serving.EraseStage.stage(spark, p, Seq(
      graft.serving.EraseStage.Swap("codes", "cell",
        (oldCells ++ (0 until 8)).distinct.sorted.map(_.toString)) -> idx.codes,
      graft.serving.EraseStage.Overwrite("codebooks") -> cbDf))
    RootCache.invalidate(spark, p) // fresh JVM
    // load recovers FIRST, then reads books + codes from the same
    // post-apply state — never old books over new codes
    assert(served(p, nprobe = 8) === served(fresh, nprobe = 8))
    assert(spark.read.parquet(s"$p/codebooks")
      .filter($"kind" === "coarse").count() === 8L)
    assert(!new java.io.File(s"$p/_erase_stage").exists)
  }
}
