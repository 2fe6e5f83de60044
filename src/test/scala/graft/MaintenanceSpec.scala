package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.ops.Ann
import graft.serving.{AnnIndex, EraseStage, Maintenance, SearchIndex}
import graft.queries.MediaQueries.mediaDedupState
import graft.streaming.{StateCompactor, StreamingPipeline}
import graft.tables.TableManager

/** The single scheduled-maintenance entry point
  * ([[graft.serving.Maintenance]]): one tick over a fleet holding
  * staged-commit debris, an expired retention date, and several
  * fragmented roots must leave everything clean — and a second tick
  * must be a no-op (nothing recovered, swept, or compacted), which is
  * what makes it safe to run on a schedule.
  */
class MaintenanceSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("one tick: debris recovered + expired dates swept + fragmented roots compacted; second tick no-op") {
    // --- a dated raw table: expired date, fragmented date, and a
    //     committed-but-unapplied staged erase
    val t = tmp("graft_maint_tbl")
    def evRows(d: String, ids: Range): DataFrame = ids
      .map(i => (i.toLong, java.sql.Timestamp.valueOf(s"$d 10:0${i % 6}:00"), i.toLong % 5))
      .toDF("event_id", "ts", "user_id")
    TableManager.writePartitioned(
      evRows("2023-01-01", 0 until 10), t, "ts", Seq("event_id"))
    TableManager.writePartitioned(evRows("2024-01-01", 0 until 20), t, "ts",
      Seq("event_id"), mode = SaveMode.Append)
    (0 until 12).foreach(i => TableManager.writePartitioned(
      evRows("2024-01-02", (100 + i * 5) until (105 + i * 5)), t, "ts",
      Seq("event_id"), mode = SaveMode.Append))
    // staged erase of user 3 from 2024-01-01, crashed at the manifest
    val kept = spark.read.parquet(t)
      .filter(col("p_date").cast("string") === "2024-01-01" && col("user_id") =!= 3L)
      .localCheckpoint(true)
    EraseStage.stage(spark, t, Seq(
      EraseStage.Swap("", "p_date", Seq("2024-01-01"), Seq("event_id")) -> kept))

    // --- a search index fragmented by three append deltas
    val docs = Tables.documents(spark, sfDir)
    val sRoot = tmp("graft_maint_search")
    SearchIndex.materialize(docs.filter($"doc_id" % 3 === 0), sRoot)
    SearchIndex.append(spark, sRoot, docs.filter($"doc_id" % 3 === 1))
    SearchIndex.append(spark, sRoot, docs.filter($"doc_id" % 3 === 2))
    def sServed() = SearchIndex.query(spark, sRoot, docs.filter($"doc_id" < 5), 10)
      .collect().map(_.toString).sorted.toSeq
    val sWant = sServed()

    // --- an IVF index with cells fragmented by repeated appends
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Ann.coarseCentroids(emb, nCells = 4)
    val aRoot = tmp("graft_maint_ann")
    AnnIndex.materialize(emb.filter($"vec_id" % 3 === 0), centroids, aRoot)
    AnnIndex.append(spark, aRoot, emb.filter($"vec_id" % 3 === 1), centroids)
    AnnIndex.append(spark, aRoot, emb.filter($"vec_id" % 3 === 2), centroids)
    val aCount = spark.read.parquet(aRoot).count()

    // --- a media-ingest state, compacted through the generic wrapper
    val mPath = tmp("graft_maint_media") + "/m"
    val media = graft.multimodal.Media.mediaFromEvents(Tables.events(spark, sfDir))
    mediaDedupState.append(media.limit(500), 0L, mPath)
    mediaDedupState.append(media.limit(1000), 1L, mPath)
    val mWant = mediaDedupState.read(spark, mPath)
      .collect().map(_.toString).sorted.toSeq

    // --- the streaming pipeline's rollup state (one batch_id
    // partition per micro-batch), folded through the same wrapper —
    // the scheduled leg that keeps refreshTopK's per-batch read
    // bounded
    val rPath = tmp("graft_maint_rollup") + "/r"
    val rEv = Tables.events(spark, sfDir)
    (0L to 2L).foreach { b =>
      StreamingPipeline.writeBatchIdempotent(
        StreamingPipeline.rollupSegment(rEv.filter($"event_id" % 3 === b)),
        b, rPath)
    }
    def rView() = StateCompactor.readState(spark, rPath)
      .groupBy($"window_start_ms", $"event_type")
      .agg(sum($"order_count").as("oc"), sum($"sum_value_cents").as("cents"))
      .collect().map(_.toString).sorted.toSeq
    val rWant = rView()

    val tasks = Seq(
      Maintenance.DatedTable(t, Seq("event_id"),
        retentionDays = Some(60), nowDate = Some("2024-02-01")),
      Maintenance.Search(sRoot),
      Maintenance.Ann(aRoot, minFiles = 2),
      Maintenance.IngestCompact("media", s => mediaDedupState.compact(s, mPath)),
      Maintenance.IngestCompact("rollup-state",
        s => StreamingPipeline.compactRollupState(s, rPath)))
    val log = Maintenance.run(spark, tasks)

    // ONE call: the staged erase completed, the expired date dropped,
    // the fragmented date + index roots rewrote
    assert(log.contains(s"recovered:$t"), log.mkString("\n"))
    assert(log.exists(_.startsWith(s"swept:$t/p_date=2023-01-01")), log.mkString("\n"))
    assert(log.exists(_.startsWith(s"compacted:$t/p_date=2024-01-02")), log.mkString("\n"))
    assert(log.contains(s"compacted:$sRoot"), log.mkString("\n"))
    assert(log.exists(_.startsWith(s"compacted:$aRoot/cell=")), log.mkString("\n"))
    assert(log.contains("ran:media"))
    // the recovered erase is VISIBLE: user 3 gone from the date it staged
    val after = spark.read.parquet(t)
    assert(after.filter(col("p_date").cast("string") === "2024-01-01" &&
      col("user_id") === 3L).isEmpty)
    assert(!new java.io.File(s"$t/p_date=2023-01-01").exists)
    assert(!new java.io.File(s"$t/_erase_stage").exists)
    // compaction changed no answers
    assert(sServed() === sWant)
    assert(spark.read.parquet(aRoot).count() === aCount)
    assert(mediaDedupState.read(spark, mPath)
      .collect().map(_.toString).sorted.toSeq === mWant)
    // the rollup fold changed no answers and bounded the segment dirs
    // (batches 0,1 folded into the generation; the max id keeps its
    // own partition — the replay contract)
    assert(log.contains("ran:rollup-state"))
    assert(rView() === rWant)
    assert(new java.io.File(rPath).listFiles
      .count(_.getName.startsWith("batch_id=")) === 1)
    // fragmentation actually went away
    assert(new java.io.File(s"$t/p_date=2024-01-02").listFiles
      .count(_.getName.endsWith(".parquet")) <= 8)
    assert(spark.read.parquet(s"$sRoot/meta")
      .select($"delta_id").distinct().count() === 1L)

    // SECOND tick: nothing to recover, sweep, or compact — only the
    // unconditional ingest wrapper reports running
    val log2 = Maintenance.run(spark, tasks)
    assert(log2.forall(_.startsWith("ran:")), log2.mkString("\n"))
    assert(sServed() === sWant)
  }

  test("the tick completes a crashed serving-layout erase and compacts the PQ/near-dup roots") {
    import java.sql.Timestamp
    import graft.serving.{NearDupIndex, PqIndex, Serving}
    // a serving root crashed mid-erase (staged, manifest committed)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_srv").toString
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val rows = Seq(
      ev(1, "2024-01-01 10:10:00", 1, "click", 300),
      ev(2, "2024-01-01 10:20:00", 2, "view", 500),
      ev(3, "2024-01-01 10:40:00", 1, "click", 200))
    val evDf = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("value_cents", round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root, evDf)
    EraseStage.stage(spark, root, Serving.eraseLegs(spark, root, evDf, 2L).legs)
    // fragmented PQ + near-dup roots
    val emb = Tables.embeddings(spark, sfDir)
    val pqRoot = java.nio.file.Files.createTempDirectory("graft_maint_pq").toString
    PqIndex.materialize(spark, emb.filter($"vec_id" < 250), pqRoot)
    PqIndex.append(spark, pqRoot, emb.filter($"vec_id" >= 250 && $"vec_id" % 2 === 0))
    PqIndex.append(spark, pqRoot, emb.filter($"vec_id" >= 250 && $"vec_id" % 2 === 1))
    val docs = Tables.documents(spark, sfDir)
    val ndRoot = java.nio.file.Files.createTempDirectory("graft_maint_nd").toString
    NearDupIndex.materialize(docs.filter($"doc_id" % 2 === 0), ndRoot)
    NearDupIndex.append(spark, ndRoot, docs.filter($"doc_id" % 2 === 1))
    val ndDocs = spark.read.parquet(s"$ndRoot/docs").count()

    val tasks = Seq(
      Maintenance.Recover(root),
      Maintenance.Pq(pqRoot, minFiles = 2),
      Maintenance.NearDupIdx(ndRoot, minFiles = 2))
    val log = Maintenance.run(spark, tasks)
    assert(log.contains(s"recovered:$root"), log.mkString("\n"))
    assert(log.exists(_.startsWith(s"compacted:$pqRoot/codes/cell=")), log.mkString("\n"))
    assert(log.exists(_.startsWith(s"compacted:$ndRoot/")), log.mkString("\n"))
    // the recovered erase is complete: user 2 gone everywhere
    for (t <- Serving.allTables if t != "meta" && t != "profile_upsert")
      assert(!spark.read.parquet(s"$root/$t").columns.contains("user_id") ||
        spark.read.parquet(s"$root/$t").filter(col("user_id") === 2L).isEmpty,
        s"$t still holds user 2 after the tick")
    // compaction changed no content
    assert(spark.read.parquet(s"$ndRoot/docs").count() === ndDocs)
    // idempotent second tick
    assert(Maintenance.run(spark, tasks).isEmpty)
  }

  test("the tick sweeps superseded replica generations; the live one survives") {
    import java.sql.Timestamp
    import graft.serving.{ReplicaRouter, Serving}
    // isolated dataset: routing + refresh mutate the serving root
    val dir = java.nio.file.Files.createTempDirectory("graft_maint_repl").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    // generation A: first routed use replicates under the serving root
    val before = ReplicaRouter.table(spark, dir, "topk_by_count")
      .collect().map(_.toString).sorted.toSeq
    val genA = ReplicaRouter.replicaRootFor(spark, dir, "topk_by_count").get
    val servingRoot = Serving.materialize(spark, dir)
    assert(genA.startsWith(s"$servingRoot/_replicas/topk_by_count/gen="),
      s"replica sets must live under the serving root, got $genA")
    // a refresh moves the content stamp -> generation B on next route
    val anchor = Serving.anchorMs(spark, dir)
    val batch = (1 to 5).map(i =>
        (new Timestamp(anchor + i * 60000L), 424242L, "click", 100L))
      .toDF("ts", "user_id", "event_type", "value_cents")
    Serving.refreshWithBatch(spark, servingRoot, batch, batchId = 0L)
    val after = ReplicaRouter.table(spark, dir, "topk_by_count")
      .collect().map(_.toString).sorted.toSeq
    val genB = ReplicaRouter.replicaRootFor(spark, dir, "topk_by_count").get
    assert(genB !== genA)
    assert(after !== before, "refresh should have changed the served window")
    assert(new java.io.File(genA.stripPrefix("file:")).exists,
      "the router must never delete the superseded generation mid-query")
    // the tick sweeps A, keeps B; routed reads still serve
    val log = Maintenance.run(spark, Seq(Maintenance.ReplicaSets(servingRoot)))
    assert(log.exists(l => l.startsWith("swept:") && l.contains("gen=")),
      log.mkString("\n"))
    assert(!new java.io.File(genA.stripPrefix("file:")).exists, "stale generation survived the sweep")
    assert(new java.io.File(genB.stripPrefix("file:")).exists, "live generation swept")
    assert(ReplicaRouter.table(spark, dir, "topk_by_count")
      .collect().map(_.toString).sorted.toSeq === after)
    // second tick: no-op
    assert(Maintenance.run(spark, Seq(Maintenance.ReplicaSets(servingRoot))).isEmpty)
  }
}
