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


  test("one tick: debris recovered + expired dates swept + fragmented roots compacted; second tick no-op") {
    // --- a dated raw table: expired date, fragmented date, and a
    //     committed-but-unapplied staged erase
    val t = tempDir("graft_maint_tbl")
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
    val sRoot = tempDir("graft_maint_search")
    SearchIndex.materialize(docs.filter($"doc_id" % 3 === 0), sRoot)
    SearchIndex.append(spark, sRoot, docs.filter($"doc_id" % 3 === 1))
    SearchIndex.append(spark, sRoot, docs.filter($"doc_id" % 3 === 2))
    def sServed() = SearchIndex.query(spark, sRoot, docs.filter($"doc_id" < 5), 10)
      .collect().map(_.toString).sorted.toSeq
    val sWant = sServed()

    // --- an IVF index with cells fragmented by repeated appends
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Ann.coarseCentroids(emb, nCells = 4)
    val aRoot = tempDir("graft_maint_ann")
    AnnIndex.materialize(emb.filter($"vec_id" % 3 === 0), centroids, aRoot)
    AnnIndex.append(spark, aRoot, emb.filter($"vec_id" % 3 === 1), centroids)
    AnnIndex.append(spark, aRoot, emb.filter($"vec_id" % 3 === 2), centroids)
    val aCount = spark.read.parquet(aRoot).count()

    // --- a media-ingest state, compacted through the generic wrapper
    val mPath = tempDir("graft_maint_media") + "/m"
    val media = graft.multimodal.Media.mediaFromEvents(Tables.events(spark, sfDir))
    mediaDedupState.append(media.limit(500), 0L, mPath)
    mediaDedupState.append(media.limit(1000), 1L, mPath)
    val mWant = mediaDedupState.read(spark, mPath)
      .collect().map(_.toString).sorted.toSeq

    // --- the streaming pipeline's rollup state (one batch_id
    // partition per micro-batch), folded through the same wrapper —
    // the scheduled leg that keeps refreshTopK's per-batch read
    // bounded
    val rPath = tempDir("graft_maint_rollup") + "/r"
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
    val root = tempDir("graft_maint_srv")
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
    val pqRoot = tempDir("graft_maint_pq")
    PqIndex.materialize(spark, emb.filter($"vec_id" < 250), pqRoot)
    PqIndex.append(spark, pqRoot, emb.filter($"vec_id" >= 250 && $"vec_id" % 2 === 0))
    PqIndex.append(spark, pqRoot, emb.filter($"vec_id" >= 250 && $"vec_id" % 2 === 1))
    val docs = Tables.documents(spark, sfDir)
    val ndRoot = tempDir("graft_maint_nd")
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
}
