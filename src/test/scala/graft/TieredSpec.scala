package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.serving.{Maintenance, RootCache, Tiered}

/** Tiered storage: hot/cold relocation is lossless and crash-safe,
  * the cold tier compacts to one file per date, time-range pruning
  * never opens the other tier, and late backfill for a demoted date
  * folds into cold as a union on the next demote.
  */
class TieredSpec extends SparkSuite {
  import spark.implicits._

  private lazy val ev = Tables.events(spark, sfDir)
  private val sortCols = Seq("event_type", "ts")

  private def freshRoot(): String = tempDir("tiered_spec")

  private def buildDemoted(): (String, String) = {
    val root = freshRoot()
    Tiered.build(spark, ev, root, "ts", sortCols, Some("event_id"))
    val r = ev.agg(min(to_date($"ts")), max(to_date($"ts"))).head()
    val (lo, hi) = (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
    val cutoff = lo.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2).toString
    (root, cutoff)
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dateDirs(root: String, tier: String): Seq[String] = {
    val f = fs(root)
    val p = new Path(s"$root/$tier")
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("p_date="))
      .map(_.stripPrefix("p_date=")).sorted
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"event_id").as[Long].collect().toSet

  test("demote relocates the old dates losslessly; tiers partition the date range") {
    val (root, cutoff) = buildDemoted()
    val before = dateDirs(root, "hot")
    val demoted = Tiered.demote(spark, root, cutoff, sortCols)
    assert(demoted === before.filter(_ < cutoff), "expected the pre-cutoff dates")
    assert(demoted.nonEmpty && dateDirs(root, "hot").nonEmpty,
      "fixture must split into a real hot and a real cold half")
    assert(dateDirs(root, "cold") === demoted)
    assert(dateDirs(root, "hot") === before.filterNot(demoted.contains))
    // lossless: the tiered union is the original fact, row for row
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    assert(Tiered.read(spark, root).count() === ev.count())
    // idempotent: nothing left below the cutoff
    assert(Tiered.demote(spark, root, cutoff, sortCols).isEmpty)
  }

  test("cold tier is one zstd file per date; demoted hot directories are gone") {
    val (root, cutoff) = buildDemoted()
    val demoted = Tiered.demote(spark, root, cutoff, sortCols)
    val f = fs(root)
    demoted.foreach { d =>
      val files = f.listStatus(new Path(s"$root/cold/p_date=$d"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"cold date $d has ${files.length} files")
      assert(files.head.contains("zstd"), s"cold file not zstd: ${files.head}")
      assert(!f.exists(new Path(s"$root/hot/p_date=$d")), s"hot $d survived")
    }
  }

  test("time-range pruning: a hot-range query opens no cold file and vice versa") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def filesRead(df: org.apache.spark.sql.DataFrame, tier: String): Long = {
      val ss = scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(s"/$tier")))
      assert(ss.nonEmpty, s"no $tier scan in the plan")
      ss.map(_.metrics("numFiles").value).sum
    }
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols)
    val t = Tiered.read(spark, root)
    val hotOnly = t.filter($"p_date" >= lit(cutoff))
    hotOnly.collect()
    assert(filesRead(hotOnly, "hot") > 0)
    assert(filesRead(hotOnly, "cold") === 0,
      "hot-range query opened cold files")
    val coldOnly = t.filter($"p_date" < lit(cutoff))
    coldOnly.collect()
    assert(filesRead(coldOnly, "cold") > 0)
    assert(filesRead(coldOnly, "hot") === 0,
      "cold-range query opened hot files")
  }

  test("read-frame cache: repeated reads reuse one frame; every mutating op invalidates") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols)
    val t = Tiered.read(spark, root)
    assert(Tiered.read(spark, root) eq t,
      "second read rebuilt the frame — the cache is not caching")
    assert(ids(t) === ids(ev))
    // a mutation invalidates: the next read is a fresh frame over the
    // relocated layout, with identical content
    Tiered.demote(spark, root, "9999-12-31", sortCols)
    val t2 = Tiered.read(spark, root)
    assert(!(t2 eq t), "mutating op did not invalidate the read cache")
    assert(ids(t2) === ids(ev))
  }

  test("crash at the manifest: the next read recovers the COMPLETE relocation") {
    val (root, cutoff) = buildDemoted()
    val expired = dateDirs(root, "hot").filter(_ < cutoff)
    // leave the demote exactly at its commit point (staged + manifest,
    // nothing applied), the way EraseStage's crash specs do
    val hotRows = spark.read.parquet(s"$root/hot")
      .filter($"p_date".cast("string").isin(expired: _*))
    graft.serving.EraseStage.stage(spark, root, Seq(
      graft.serving.EraseStage.Swap("cold", "p_date", expired, sortCols,
        Map("compression" -> "zstd")) -> hotRows,
      graft.serving.EraseStage.Swap("hot", "p_date", expired) ->
        hotRows.limit(0)))
    // a plain read completes it and serves the post-demote answer
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    assert(dateDirs(root, "cold") === expired)
    assert(dateDirs(root, "hot").forall(_ >= cutoff))
  }

  test("eraseUser spans both tiers under one manifest; layout and other rows hold") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols)
    // a user present on both sides of the tier boundary
    val user = Tiered.read(spark, root)
      .groupBy($"user_id")
      .agg(countDistinct(when($"p_date" < lit(cutoff), 1)).as("c"),
        countDistinct(when($"p_date" >= lit(cutoff), 1)).as("h"))
      .filter($"c" > 0 && $"h" > 0)
      .orderBy($"user_id").select($"user_id").as[Long].head()
    val affected = Tiered.eraseUser(spark, root, "user_id", user, sortCols,
      bloomCol = Some("event_id"))
    assert(affected.exists(_.startsWith("hot/")) &&
      affected.exists(_.startsWith("cold/")),
      s"expected both tiers affected: $affected")
    val after = Tiered.read(spark, root)
    assert(after.filter($"user_id" === user).count() === 0L)
    assert(ids(after) === ids(ev.filter($"user_id" =!= user)))
    // cold rewrites kept the one-zstd-file-per-date layout
    val f = fs(root)
    affected.filter(_.startsWith("cold/")).foreach { rel =>
      val files = f.listStatus(new Path(s"$root/$rel"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length === 1 && files.head.contains("zstd"), rel)
    }
    // absent user: no-op, no legs
    assert(Tiered.eraseUser(spark, root, "user_id", -1L, sortCols).isEmpty)
  }

  test("retention drops cold dates past the horizon on the same maintenance tick") {
    val (root, cutoff) = buildDemoted()
    val msgs = Maintenance.run(spark, Seq(Maintenance.Tier(root, sortCols,
      hotDays = 0, nowDate = cutoff, retentionDays = Some(7))))
    assert(msgs.exists(_.startsWith(s"demoted:$root")), msgs.toString)
    val horizon = java.time.LocalDate.parse(cutoff).minusDays(7).toString
    val expectDropped = dateDirs(root, "cold").filter(_ < horizon)
    // re-run with a horizon INSIDE the cold range to observe drops
    val mid = dateDirs(root, "cold") match {
      case ds if ds.size >= 2 => ds(ds.size / 2)
      case ds => ds.head
    }
    val dropped = Tiered.retentionSweep(spark, root, mid)
    assert(dropped.nonEmpty && dropped.forall(_ < mid))
    assert(dateDirs(root, "cold").forall(_ >= mid))
    // idempotent
    assert(Tiered.retentionSweep(spark, root, mid).isEmpty)
    // the surviving union is exactly the rows at/after each tier's floor
    val survivors = Tiered.read(spark, root)
    val expected = ev.filter(to_date($"ts") >= lit(mid))
    assert(ids(survivors) === ids(expected))
    assert(expectDropped.forall(_ < mid)) // guard: horizon math sane
  }

  test("filesPerDate > 1 shards large cold dates across write tasks, losslessly") {
    val (root, cutoff) = buildDemoted()
    val demoted = Tiered.demote(spark, root, cutoff, sortCols, filesPerDate = 3)
    assert(demoted.nonEmpty)
    val f = fs(root)
    val counts = demoted.map { d =>
      val files = f.listStatus(new Path(s"$root/cold/p_date=$d"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length <= 3, s"$d: ${files.length} files > filesPerDate")
      assert(files.forall(_.contains("zstd")), files.mkString(","))
      files.length
    }
    assert(counts.exists(_ > 1), s"no date split across tasks: $counts")
    assert(ids(Tiered.read(spark, root)) === ids(ev))
  }

  test("cold erase-key blooms prune discovery: a 2-of-N-dates erase reads a fraction of the archive") {
    // the 100 TB right-to-be-forgotten shape: the archive's id column
    // is high-cardinality (dictionary encoding falls back to plain —
    // exactly what happens at real per-date volumes), so WITHOUT a
    // bloom the affected-date discovery must read every cold date's
    // id pages; WITH the demote-time bloom the reader skips every row
    // group that cannot contain the id. Two identical roots, one knob.
    // per-file surviving ROW GROUPS under the engine's own read-time
    // filter stack (stats → dictionary → bloom), via parquet's reader
    // directly: a skipped row group's pages are never read, so
    // "0 row groups in the non-matching dates" IS the «-N-dates'-bytes
    // claim, measured without byte-counter noise
    def rowGroupsRead(root: String, uid: Long): Map[String, Int] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.filter2.predicate.FilterApi
      import org.apache.parquet.filter2.compat.FilterCompat
      val conf = spark.sparkContext.hadoopConfiguration
      val pred = FilterApi.eq(FilterApi.longColumn("user_id"),
        java.lang.Long.valueOf(uid))
      val f = fs(root)
      f.listStatus(new Path(s"$root/cold")).filter(_.isDirectory).flatMap { d =>
        f.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet")).map { file =>
            val opts = org.apache.parquet.ParquetReadOptions.builder()
              .withRecordFilter(FilterCompat.get(pred))
              .useStatsFilter(true).useDictionaryFilter(true)
              .useBloomFilter(true).build()
            val r = ParquetFileReader.open(
              HadoopInputFile.fromPath(file.getPath, conf), opts)
            try d.getPath.getName.stripPrefix("p_date=") -> r.getRowGroups.size
            finally r.close()
          }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    }

    val nDates = 8
    val perDate = 150000L // > parquet dictionary-page capacity for int64
    val target = -7L
    val sc = Seq("event_id")
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime / 1000
    val df = spark.range(0, nDates * perDate).select(
      $"id".as("event_id"),
      timestamp_seconds(lit(base) + floor($"id" / perDate) * 86400 +
        pmod($"id", lit(1000))).as("ts"),
      when(pmod($"id", lit(perDate)) === 137 &&
          floor($"id" / perDate).isin(3, 6), target)
        .otherwise(xxhash64($"id")).as("user_id"))
    val bloomRoot = freshRoot(); val plainRoot = freshRoot()
    for (r <- Seq(bloomRoot, plainRoot)) Tiered.build(spark, df, r, "ts", sc)
    Tiered.demote(spark, bloomRoot, "9999-12-31", sc,
      coldBloomCols = Seq("user_id"))
    Tiered.demote(spark, plainRoot, "9999-12-31", sc)
    def discover(root: String): Set[String] =
      Tiered.read(spark, root).filter($"user_id" === target)
        .select($"p_date".cast("string")).as[String].distinct().collect().toSet
    val expect = Set("2024-04-04", "2024-04-07")
    // discovery answers identically either way...
    assert(discover(bloomRoot) === expect)
    assert(discover(plainRoot) === expect)
    // ...but the bloom root's filter stack drops every non-matching
    // date's row groups (pages never read — only footer+bloom cost),
    // while the plain root must read id pages of ALL N dates
    val bloomRG = rowGroupsRead(bloomRoot, target)
    val plainRG = rowGroupsRead(plainRoot, target)
    info(s"row groups surviving the erase-key filter: bloom=$bloomRG plain=$plainRG")
    assert(expect.forall(d => bloomRG(d) >= 1), s"matching dates lost: $bloomRG")
    val nonMatching = bloomRG.view.filterKeys(!expect(_)).values.sum
    assert(nonMatching === 0,
      s"blooms failed to skip non-matching dates' row groups: $bloomRG")
    assert(plainRG.values.forall(_ >= 1),
      s"control broken: the bloom-less archive pruned anyway ($plainRG) — " +
        "the fixture no longer isolates the bloom's effect")

    // the erase itself works through the pruned path and KEEPS the
    // archive blooms: a second user's discovery on the rewritten
    // dates still prunes at the row-group level
    val affected = Tiered.eraseUser(spark, bloomRoot, "user_id", target, sc,
      coldBloomCols = Seq("user_id"))
    assert(affected.toSet === expect.map(d => s"cold/p_date=$d"))
    assert(Tiered.read(spark, bloomRoot).filter($"user_id" === target).count() === 0L)
    val second = df.filter($"event_id" === 3L * perDate + 138)
      .select($"user_id").as[Long].head()
    val afterRG = rowGroupsRead(bloomRoot, second)
    assert(afterRG("2024-04-04") >= 1 &&
      afterRG.view.filterKeys(_ != "2024-04-04").values.sum === 0,
      s"rewritten dates dropped their blooms: $afterRG")
  }

  test("eraseUser keeps a sharded cold layout: filesPerDate rides the erase rewrite") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols, filesPerDate = 3)
    val user = Tiered.read(spark, root).filter($"p_date" < lit(cutoff))
      .select($"user_id").orderBy($"user_id").as[Long].head()
    val affected = Tiered.eraseUser(spark, root, "user_id", user, sortCols,
      filesPerDate = 3)
    val coldAffected = affected.filter(_.startsWith("cold/"))
    assert(coldAffected.nonEmpty)
    val f = fs(root)
    // without the knob the rewrite would funnel each date back into
    // ONE write task (ADVICE r13) — with it, up to 3 sorted files
    val counts = coldAffected.map { rel =>
      f.listStatus(new Path(s"$root/$rel"))
        .map(_.getPath.getName).count(_.endsWith(".parquet"))
    }
    assert(counts.forall(c => c >= 1 && c <= 3), counts.mkString(","))
    assert(ids(Tiered.read(spark, root)) === ids(ev.filter($"user_id" =!= user)))
  }

  test("absorb folds only marked batches: an in-flight landing write is skipped, then folds once marked") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    Tiered.landBatch(Seq((1L, t("2024-05-01 10:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    // batch 1's directory exists but its marker doesn't — exactly the
    // state a tick sees while the pipeline thread is mid-write
    Seq((2L, t("2024-05-01 11:00:00"), 11L))
      .toDF("event_id", "ts", "user_id")
      .write.parquet(s"${Tiered.landingDir(root)}/batch_id=1")
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L),
      "absorb must fold only the marked batch")
    assert(ids(Tiered.read(spark, root)) === Set(1L))
    assert(fs(root).exists(
      new Path(s"${Tiered.landingDir(root)}/batch_id=1")),
      "absorb deleted an unmarked (in-flight) batch")
    // the write "completes" (marker lands) → the next tick folds it
    fs(root).create(
      new Path(s"${Tiered.landingDir(root)}/_done_batch_1"), true).close()
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(1L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 2L))
    // idempotent: nothing fresh, nothing re-folded
    assert(Tiered.absorb(spark, root, "ts", sc).isEmpty)
    assert(Tiered.read(spark, root).count() === 2L)
    // a replayed landing write for an already-absorbed batch id is
    // swept on the next tick, never re-folded
    Tiered.landBatch(Seq((1L, t("2024-05-01 10:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    assert(Tiered.absorb(spark, root, "ts", sc).isEmpty)
    assert(Tiered.read(spark, root).count() === 2L)
    assert(!fs(root).exists(
      new Path(s"${Tiered.landingDir(root)}/batch_id=0")),
      "replayed already-absorbed batch not swept")
  }

  test("eraseUser scrubs landed-but-unabsorbed batches: the user cannot resurface at the next tick") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    Tiered.build(spark, Seq(
      (1L, t("2024-07-01 10:00:00"), 10L),
      (2L, t("2024-07-02 10:00:00"), 77L)).toDF("event_id", "ts", "user_id"),
      root, "ts", sc)
    // user 77 also sits in a landed, not-yet-absorbed batch — and a
    // second landed batch holds ONLY user 77 (rewrites to empty)
    Tiered.landBatch(Seq(
      (3L, t("2024-07-02 11:00:00"), 77L),
      (4L, t("2024-07-02 12:00:00"), 11L)).toDF("event_id", "ts", "user_id"),
      0L, root)
    Tiered.landBatch(Seq((5L, t("2024-07-02 13:00:00"), 77L))
      .toDF("event_id", "ts", "user_id"), 1L, root)
    val affected = Tiered.eraseUser(spark, root, "user_id", 77L, sc)
    assert(affected.contains("landing/batch_id=0") &&
      affected.contains("landing/batch_id=1"), affected.toString)
    // the tick that follows must NOT bring user 77 back, and must not
    // choke on the now-EMPTY batch 1 (it advances the watermark)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L, 1L))
    val after = Tiered.read(spark, root)
    assert(after.filter($"user_id" === 77L).count() === 0L,
      "erased user resurfaced from the landing zone")
    assert(ids(after) === Set(1L, 4L), "innocent landed rows lost")
    // landing fully drained, including the emptied batch (only write
    // committer debris like _SUCCESS may remain)
    val landingFiles = Option(
      new java.io.File(Tiered.landingDir(root)).listFiles()).toSeq.flatten
    assert(!landingFiles.exists(f => f.getName.startsWith("batch_id=") ||
      f.getName.startsWith("_done_")),
      s"landing not drained: ${landingFiles.map(_.getName).mkString(",")}")
  }

  test("absorb conforms landed batches to an evolved registry: no column drop through the fold") {
    import org.apache.spark.sql.types.{LongType, StructField}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    Tiered.build(spark, Seq((1L, t("2024-08-01 10:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), root, "ts", Seq("event_id"))
    graft.tables.Evolve.register(spark, root, Tiered.read(spark, root).schema)
    graft.tables.Evolve.addColumn(spark, root,
      StructField("score", LongType), "-1")
    // a PRE-evolution producer lands a batch without the new column
    // (mixed-version fleet mid-rollout); the fold must fill the
    // registered default, not drop or null the column
    Tiered.landBatch(Seq((2L, t("2024-08-01 11:00:00"), 11L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    // and a POST-evolution producer lands real values
    Tiered.landBatch(Seq((3L, t("2024-08-01 12:00:00"), 12L, 9L))
      .toDF("event_id", "ts", "user_id", "score"), 1L, root)
    assert(Tiered.absorb(spark, root, "ts", Seq("event_id")) === Seq(0L, 1L))
    val out = Tiered.read(spark, root)
      .select($"event_id", $"score").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> -1L, 2L -> -1L, 3L -> 9L))
    // a producer AHEAD of the registry (column the registry lacks)
    // refuses at the tick instead of silently dropping the values;
    // the batch stays landed, and folds once the registry catches up
    Tiered.landBatch(Seq((4L, t("2024-08-01 13:00:00"), 13L, 1L, 5L))
      .toDF("event_id", "ts", "user_id", "score", "extra"), 2L, root)
    val e = intercept[IllegalArgumentException] {
      Tiered.absorb(spark, root, "ts", Seq("event_id"))
    }
    assert(e.getMessage.contains("extra") && e.getMessage.contains("addColumn"))
    assert(fs(root).exists(new Path(
      s"${Tiered.landingDir(root)}/batch_id=2")), "refused batch was consumed")
    // the REST of the lifecycle tick survives a blocked absorb: the
    // refusal lands in the tick log, demote/retention legs still run
    val msgs = graft.serving.Maintenance.run(spark, Seq(
      graft.serving.Maintenance.Tier(root, Seq("event_id"), hotDays = 0,
        nowDate = "2024-01-01", absorbIngest = true)))
    assert(msgs.exists(_.startsWith("absorb-blocked:")), msgs.toString)
    graft.tables.Evolve.addColumn(spark, root,
      StructField("extra", LongType), "0")
    assert(Tiered.absorb(spark, root, "ts", Seq("event_id")) === Seq(2L))
    assert(Tiered.read(spark, root).filter($"event_id" === 4L)
      .select($"extra").as[Long].head() === 5L)
    // a clean batch AHEAD of a fleet-ahead one: the clean prefix
    // folds durably, the refusal still fires on THIS tick (not only
    // once the queue reaches the offender)
    Tiered.landBatch(Seq((5L, t("2024-08-01 14:00:00"), 14L, 2L, 6L))
      .toDF("event_id", "ts", "user_id", "score", "extra"), 3L, root)
    Tiered.landBatch(Seq((6L, t("2024-08-01 15:00:00"), 15L, 3L, 7L, 1L))
      .toDF("event_id", "ts", "user_id", "score", "extra", "extra2"), 4L, root)
    val e2 = intercept[IllegalArgumentException] {
      Tiered.absorb(spark, root, "ts", Seq("event_id"))
    }
    assert(e2.getMessage.contains("extra2") &&
      e2.getMessage.contains("1 earlier batch"), e2.getMessage)
    assert(Tiered.read(spark, root).filter($"event_id" === 5L).count() === 1L,
      "clean prefix batch did not fold")
    graft.tables.Evolve.addColumn(spark, root,
      StructField("extra2", LongType), "0")
    assert(Tiered.absorb(spark, root, "ts", Seq("event_id")) === Seq(4L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("absorb sweeps orphaned commit markers (dir deleted, marker crash-left)") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    Tiered.landBatch(Seq((1L, t("2024-10-01 10:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    // crash-shaped debris: a sweep deleted the dir but not the marker
    fs(root).create(new Path(
      s"${Tiered.landingDir(root)}/_done_batch_42"), true).close()
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L))
    assert(!fs(root).exists(new Path(
      s"${Tiered.landingDir(root)}/_done_batch_42")),
      "orphaned marker survived the tick")
  }

  test("a parquet read of the landing dir returns the landed rows, never the commit markers") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    Tiered.landBatch(Seq((1L, t("2024-10-02 10:00:00"), 10L),
        (2L, t("2024-10-02 11:00:00"), 11L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    Tiered.landBatch(Seq((3L, t("2024-10-02 12:00:00"), 12L))
      .toDF("event_id", "ts", "user_id"), 1L, root)
    assert(fs(root).listStatus(new Path(Tiered.landingDir(root)))
      .count(_.getPath.getName.startsWith("_done")) === 2, "both batches carry a marker")
    val landed = spark.read.parquet(Tiered.landingDir(root))
    assert(ids(landed) === Set(1L, 2L, 3L))
    assert(landed.count() === 3L)
  }

  test("compactHot folds a tick-fragmented hot date to one file; below-threshold dates untouched") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    Tiered.build(spark, Seq((1L, t("2024-09-01 08:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), root, "ts", sc, Some("event_id"))
    // three absorb ticks each append one file to date 1 (the MoveIn
    // shape); date 2 gets a single file — below the threshold
    for (b <- 1 to 3) {
      Tiered.landBatch(Seq((b + 1L, t(s"2024-09-01 0$b:00:00"), 10L + b))
        .toDF("event_id", "ts", "user_id"), b.toLong, root)
      assert(Tiered.absorb(spark, root, "ts", sc, Some("event_id")) === Seq(b.toLong))
    }
    Tiered.landBatch(Seq((9L, t("2024-09-02 08:00:00"), 20L))
      .toDF("event_id", "ts", "user_id"), 9L, root)
    Tiered.absorb(spark, root, "ts", sc, Some("event_id"))
    val f = fs(root)
    def files(d: String) = f.listStatus(new Path(s"$root/hot/p_date=$d"))
      .map(s => (s.getPath.getName, s.getModificationTime))
      .filter(_._1.endsWith(".parquet")).toSet
    assert(files("2024-09-01").size === 4, files("2024-09-01").toString)
    val day2Before = files("2024-09-02")
    // via the scheduled tick, layout-preserving
    val msgs = graft.serving.Maintenance.run(spark, Seq(
      graft.serving.Maintenance.Tier(root, sc, hotDays = 0,
        nowDate = "2024-01-01", // nothing old enough to demote
        absorbIngest = true, bloomCol = Some("event_id"),
        compactHotMinFiles = Some(4))))
    assert(msgs.exists(_.startsWith(s"compacted:$root/hot/p_date=2024-09-01")),
      msgs.toString)
    assert(files("2024-09-01").size === 1, "fragmented date did not fold to one file")
    assert(files("2024-09-02") === day2Before, "below-threshold date was rewritten")
    assert(ids(Tiered.read(spark, root)) === Set(1L, 2L, 3L, 4L, 9L))
    // idempotent: a second compaction finds nothing fragmented
    assert(Tiered.compactHot(spark, root, sc, Some("event_id"), 4).isEmpty)
  }

  test("absorb rewrites only the dates the landed batches touch") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    Tiered.build(spark, Seq(
      (1L, t("2024-06-01 10:00:00"), 10L),
      (2L, t("2024-06-02 10:00:00"), 11L),
      (3L, t("2024-06-03 10:00:00"), 12L)).toDF("event_id", "ts", "user_id"),
      root, "ts", Seq("event_id"))
    val f = fs(root)
    def snapshot(d: String) = f.listStatus(new Path(s"$root/hot/p_date=$d"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val untouched = Seq("2024-06-01", "2024-06-03").map(d => d -> snapshot(d))
    Tiered.landBatch(Seq((4L, t("2024-06-02 11:00:00"), 13L))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    assert(Tiered.absorb(spark, root, "ts", Seq("event_id")) === Seq(0L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 2L, 3L, 4L))
    // the fold's cost is bounded by the TOUCHED dates: day 1 and day
    // 3's files are byte- and mtime-identical after the tick
    untouched.foreach { case (d, snap) =>
      assert(snapshot(d) === snap, s"absorb rewrote untouched date $d")
    }
  }

  test("demoting every date leaves an empty hot tier; reads serve cold only") {
    val (root, _) = buildDemoted()
    val demoted = Tiered.demote(spark, root, "9999-12-31", sortCols)
    assert(dateDirs(root, "hot").isEmpty && demoted.nonEmpty)
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    // erase still works with one live tier
    val user = ev.select($"user_id").orderBy($"user_id").as[Long].head()
    val affected = Tiered.eraseUser(spark, root, "user_id", user, sortCols)
    assert(affected.nonEmpty && affected.forall(_.startsWith("cold/")))
    assert(ids(Tiered.read(spark, root)) === ids(ev.filter($"user_id" =!= user)))
  }

  test("an evolved tiered table demotes without losing the added column") {
    import org.apache.spark.sql.types.{LongType, StructField}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    // epoch 1: three columns, two days
    Tiered.build(spark, Seq(
      (1L, t("2024-03-01 10:00:00"), 10L),
      (2L, t("2024-03-02 10:00:00"), 11L)).toDF("event_id", "ts", "user_id"),
      root, "ts", Seq("event_id"))
    // the registry lives at the TIERED root, shared by both tiers
    graft.tables.Evolve.register(spark, root, Tiered.read(spark, root).schema)
    graft.tables.Evolve.addColumn(spark, root,
      StructField("score", LongType), "-1")
    // epoch 2 carries the new column: a backfill for day 1 plus day 3
    Tiered.ingest(spark, Seq(
      (3L, t("2024-03-01 11:00:00"), 12L, 7L),
      (4L, t("2024-03-03 10:00:00"), 13L, 8L))
      .toDF("event_id", "ts", "user_id", "score"),
      root, "ts", Seq("event_id"))
    // demote days 1-2: the staged read spans pre- and post-evolution
    // files — a single-footer inferred schema could silently drop
    // `score` from the relocated rows; the registry must not
    val demoted = Tiered.demote(spark, root, "2024-03-03", Seq("event_id"))
    assert(demoted === Seq("2024-03-01", "2024-03-02"))
    val out = Tiered.read(spark, root)
      .select($"event_id", $"score").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> -1L, 2L -> -1L, 3L -> 7L, 4L -> 8L))
    // and the cold files are schema-complete: a plain (registry-less)
    // read of the cold tier alone already carries the column
    val cold = Tiered.tier(spark, root, "cold")
    assert(cold.columns.contains("score"))
    assert(cold.filter($"event_id" === 3 && $"score" === 7).count() === 1L)
  }

  test("random lifecycle sequences match the per-date tier model (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => PropTest}
    // ops against a synthetic 6-day table; the model tracks each
    // date's (hot ids, cold ids) and the read must equal its union
    // after EVERY op, whatever the interleaving
    val days = (1 to 6).map(d => f"2024-02-0$d")
    sealed trait Op
    case class Ingest(day: Int, n: Int) extends Op
    case class Land(day: Int, n: Int) extends Op
    case object Absorb extends Op
    case class Demote(cutoff: Int) extends Op
    case class Retain(before: Int) extends Op
    case class Erase(pick: Int) extends Op
    val genOp: Gen[Op] = Gen.frequency(
      4 -> Gen.zip(Gen.choose(0, 5), Gen.choose(1, 4)).map((Ingest.apply _).tupled),
      3 -> Gen.zip(Gen.choose(0, 5), Gen.choose(1, 4)).map((Land.apply _).tupled),
      2 -> Gen.const(Absorb),
      3 -> Gen.choose(0, 6).map(Demote(_)),
      1 -> Gen.choose(0, 3).map(Retain(_)),
      2 -> Gen.choose(0, 100).map(Erase(_)))
    val genOps = Gen.listOfN(6, genOp)
    var nextId = 0L
    def rowsFor(day: Int, n: Int): Seq[(Long, java.sql.Timestamp, Long)] =
      (0 until n).map { _ =>
        nextId += 1
        (nextId, java.sql.Timestamp.valueOf(s"${days(day)} 12:00:00"), nextId % 7)
      }
    val prop = Prop.forAll(genOps) { ops =>
      val root = freshRoot()
      // model: date index -> (hot ids, cold ids); LANDED batches are
      // invisible to reads until an Absorb tick folds them into hot
      val model = scala.collection.mutable.Map((0 to 5).map(_ -> ((Set.empty[Long], Set.empty[Long]))): _*)
      val pending = scala.collection.mutable.Map
        .empty[Int, Set[Long]].withDefaultValue(Set.empty)
      var nextBatch = 0L
      val seed = rowsFor(0, 2) ++ rowsFor(3, 2)
      Tiered.build(spark, seed.toDF("event_id", "ts", "user_id"), root, "ts", Seq("event_id"))
      seed.foreach { case (id, ts, _) =>
        val d = days.indexOf(ts.toString.take(10))
        model(d) = (model(d)._1 + id, model(d)._2)
      }
      ops.foreach {
        case Ingest(day, n) =>
          val rows = rowsFor(day, n)
          Tiered.ingest(spark, rows.toDF("event_id", "ts", "user_id"),
            root, "ts", Seq("event_id"))
          model(day) = (model(day)._1 ++ rows.map(_._1), model(day)._2)
        case Land(day, n) =>
          val rows = rowsFor(day, n)
          Tiered.landBatch(rows.toDF("event_id", "ts", "user_id"),
            nextBatch, root)
          nextBatch += 1
          pending(day) = pending(day) ++ rows.map(_._1)
        case Absorb =>
          Tiered.absorb(spark, root, "ts", Seq("event_id"))
          pending.foreach { case (d, ids) =>
            model(d) = (model(d)._1 ++ ids, model(d)._2)
          }
          pending.clear()
        case Demote(cutoff) =>
          Tiered.demote(spark, root, days.lift(cutoff).getOrElse("2024-02-07"),
            Seq("event_id"))
          (0 until cutoff).filter(_ <= 5).foreach { d =>
            model(d) = (Set.empty, model(d)._2 ++ model(d)._1)
          }
        case Retain(before) =>
          Tiered.retentionSweep(spark, root, days(before))
          (0 until before).foreach { d => model(d) = (model(d)._1, Set.empty) }
        case Erase(pick) =>
          val alive = model.values.flatMap(v => v._1 ++ v._2).toSeq.sorted
          if (alive.nonEmpty) {
            val id = alive(pick % alive.size)
            Tiered.eraseUser(spark, root, "event_id", id, Seq("event_id"))
            model.keys.foreach(d =>
              model(d) = (model(d)._1 - id, model(d)._2 - id))
          }
      }
      val expected = model.values.flatMap(v => v._1 ++ v._2).toSet
      val got =
        if (expected.isEmpty) Set.empty[Long]
        else ids(Tiered.read(spark, root))
      got == expected
    }
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("late backfill for a demoted date folds into cold as a union on the next tick") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols)
    val coldDate = dateDirs(root, "cold").head
    // synthesize late rows for that already-cold date with fresh ids
    val late = ev.filter(to_date($"ts").cast("string") === coldDate)
      .orderBy($"event_id").limit(5)
      .withColumn("event_id", $"event_id" + lit(10000000L))
    Tiered.ingest(spark, late, root, "ts", sortCols, Some("event_id"))
    assert(dateDirs(root, "hot").contains(coldDate), "backfill must land hot")
    // the maintenance tick drives the re-demote
    val msgs = Maintenance.run(spark, Seq(Maintenance.Tier(root, sortCols,
      hotDays = 0, nowDate = cutoff)))
    assert(msgs.exists(_ == s"demoted:$root/p_date=$coldDate"), msgs.toString)
    assert(!dateDirs(root, "hot").contains(coldDate))
    val cold = Tiered.tier(spark, root, "cold")
      .filter($"p_date".cast("string") === coldDate)
    val lateIds = late.select($"event_id").as[Long].collect().toSet
    val coldIds = cold.select($"event_id").as[Long].collect().toSet
    assert(lateIds.subsetOf(coldIds), "late rows missing from cold")
    // and nothing original was lost in the union rewrite
    assert(ids(Tiered.read(spark, root)) === (ids(ev) ++ lateIds))
  }

  test("type widening mid-stream: a narrow-type producer's landed batches absorb through the widened registry exactly") {
    import org.apache.spark.sql.types.LongType
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    // epoch 1: cents is INT (the narrow convention)
    Tiered.build(spark, Seq((1L, t("2024-09-01 10:00:00"), 100))
      .toDF("event_id", "ts", "cents"), root, "ts", sc)
    graft.tables.Evolve.register(spark, root,
      Tiered.read(spark, root).schema)
    graft.tables.Evolve.widenColumn(spark, root, "cents", LongType)
    // a PRE-widening producer still lands INT batches (mixed-version
    // fleet mid-rollout): conform must upcast, not refuse or corrupt
    Tiered.landBatch(Seq((2L, t("2024-09-01 11:00:00"), 200))
      .toDF("event_id", "ts", "cents"), 0L, root)
    // a POST-widening producer lands values only LONG can hold
    Tiered.landBatch(Seq((3L, t("2024-09-01 12:00:00"), 3000000000L))
      .toDF("event_id", "ts", "cents"), 1L, root)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L, 1L))
    val out = Tiered.read(spark, root)
      .select($"event_id", $"cents").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 100L, 2L -> 200L, 3L -> 3000000000L))
    assert(Tiered.read(spark, root).schema("cents").dataType === LongType)
    // a genuine TYPE DRIFT (cross-kind) still blocks the tick loudly
    Tiered.landBatch(Seq((4L, t("2024-09-01 13:00:00"), "oops"))
      .toDF("event_id", "ts", "cents"), 2L, root)
    intercept[Tiered.AbsorbBlockedException] {
      Tiered.absorb(spark, root, "ts", sc)
    }
    assert(fs(root).exists(new Path(
      s"${Tiered.landingDir(root)}/batch_id=2")),
      "drifted batch was consumed instead of withheld")
  }

  test("erase tombstone: a replayed pre-erase landing cannot resurface the user at the next tick") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    val victim = 666L
    def batch1 = Seq((3L, t("2024-06-01 11:00:00"), victim),
      (4L, t("2024-06-01 11:01:00"), 11L)).toDF("event_id", "ts", "user_id")
    Tiered.landBatch(Seq((1L, t("2024-06-01 10:00:00"), 10L),
      (2L, t("2024-06-01 10:01:00"), victim))
      .toDF("event_id", "ts", "user_id"), 0L, root)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L))
    Tiered.landBatch(batch1, 1L, root) // marked, unabsorbed
    val affected = Tiered.eraseUser(spark, root, "user_id", victim, sc)
    assert(affected.contains("landing/batch_id=1"))
    // a deterministic streaming REPLAY of batch 1 re-lands its
    // PRE-ERASE rows after the erase manifest committed (landBatch is
    // lease-less — the documented race); the tombstone must re-filter
    // them at the fold
    Tiered.landBatch(batch1, 1L, root)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(1L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 4L),
      "erased user resurfaced through a replayed landing")
    // the tombstone window is the visible max PLUS ONE: the next
    // batch id (2 here) could have been mid-write — directory not yet
    // created, invisible to the erase-time listing — so its same-user
    // rows are treated as pre-erase and scrubbed (rows arriving
    // concurrently with the erase fall on the forgotten side; the
    // r15 ADVICE residual window, now covered)
    Tiered.landBatch(Seq((5L, t("2024-06-01 12:00:00"), victim))
      .toDF("event_id", "ts", "user_id"), 2L, root)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(2L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 4L),
      "in-flight-slack batch folded the erased user's rows")
    // a genuinely NEW batch beyond the widened window may carry the
    // same user id (the user returned): it folds untouched
    Tiered.landBatch(Seq((6L, t("2024-06-01 13:00:00"), victim))
      .toDF("event_id", "ts", "user_id"), 3L, root)
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(3L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 4L, 6L))
    // the spent tombstone swept once the watermark passed its window
    val ek = new Path(s"$root/_erase_keys")
    assert(!fs(root).exists(ek) || fs(root).listStatus(ek).isEmpty,
      "spent erase tombstone not swept")
  }

  test("cold replica mirrors: routed read fails over past a damaged copy; stale mirror bypassed; ticks converge INCREMENTALLY") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols,
      coldBloomCols = Seq("user_id"))
    val copied = Tiered.replicate(spark, root, "cold", n = 2)
    assert(copied.size === 2 && copied.forall(_ > 0), copied.toString)
    assert(ids(Tiered.read(spark, root)) === ids(ev),
      "replica-routed read lost rows")
    // an unchanged archive re-mirrors NOTHING
    assert(Tiered.replicate(spark, root, "cold", n = 2) === Seq(0, 0))
    val f = fs(root)
    def walk(p: Path): Seq[Path] =
      f.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s.getPath))
    // damage the copy the route pins: delete one of its segments —
    // the manifest size/presence check must fail the copy over,
    // identical rows from the next mirror
    val routed = graft.serving.Replicas.replicaFor(s"$root/cold", 2)
    val mirror = s"$root/_replicas/cold/replica=$routed"
    val segment = walk(new Path(mirror))
      .find(_.getName.endsWith(".parquet")).get
    f.delete(segment, false)
    RootCache.invalidate(spark, root) // a fresh reader's first read
    assert(ids(Tiered.read(spark, root)) === ids(ev),
      "failover did not serve identical rows")
    // archive content changes (everything demotes) → mirrors are
    // stale and the read bypasses them for the primary
    Tiered.demote(spark, root, "9999-12-31", sortCols,
      coldBloomCols = Seq("user_id"))
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    // the maintenance tick re-converges the mirrors INCREMENTALLY:
    // files already mirrored (untouched dates) are neither re-copied
    // nor rewritten — their modification times survive the tick
    val intactMirror = s"$root/_replicas/cold/replica=${1 - routed}"
    val beforeTimes = walk(new Path(intactMirror))
      .filter(_.getName.endsWith(".parquet"))
      .map(p => p.toString -> f.getFileStatus(p).getModificationTime).toMap
    assert(beforeTimes.nonEmpty)
    val msgs = Maintenance.run(spark, Seq(Maintenance.Tier(root, sortCols,
      hotDays = 0, nowDate = cutoff, coldBloomCols = Seq("user_id"),
      replicateCold = Some(2))))
    assert(msgs.exists(_.startsWith("replicated:")), msgs.toString)
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    val afterTimes = walk(new Path(intactMirror))
      .filter(_.getName.endsWith(".parquet"))
      .map(p => p.toString -> f.getFileStatus(p).getModificationTime).toMap
    val surviving = beforeTimes.keySet intersect afterTimes.keySet
    assert(surviving.nonEmpty, "tick rewrote every mirrored file")
    assert(surviving.forall(k => beforeTimes(k) == afterTimes(k)),
      "tick re-copied files the archive did not change")
    // and the damaged mirror healed: the deleted segment re-copied
    assert(readsThroughMirror(root, routed),
      "healed mirror not serving after the tick")
  }

  test("erasure and retention propagate to cold mirrors in the SAME call — no replica keeps the user or expired dates") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols,
      coldBloomCols = Seq("user_id"))
    Tiered.replicate(spark, root, "cold", n = 2)
    // a user living in a COLD date
    val victim = Tiered.read(spark, root)
      .filter($"p_date" < lit(cutoff))
      .select($"user_id").orderBy($"user_id").as[Long].head()
    Tiered.eraseUser(spark, root, "user_id", victim, sortCols,
      coldBloomCols = Seq("user_id"))
    // the PRIMARY lost the user (existing guarantee) AND each mirror
    // did too, within this call — the pre-erase segment files are
    // gone from every copy, not just unreachable by routing
    (0 to 1).foreach { i =>
      val mirror = s"$root/_replicas/cold/replica=$i"
      assert(spark.read.parquet(mirror)
        .filter($"user_id" === victim).count() === 0L,
        s"mirror $i still holds the erased user's rows at rest")
    }
    assert(ids(Tiered.read(spark, root)) ===
      ids(ev.filter($"user_id" =!= victim)))
    // retention: expired dates leave the mirrors with the primary
    val horizon = dateDirs(root, "cold").drop(1).headOption
      .getOrElse(cutoff)
    val dropped = Tiered.retentionSweep(spark, root, horizon)
    assert(dropped.nonEmpty)
    (0 to 1).foreach { i =>
      val mirror = s"$root/_replicas/cold/replica=$i"
      val survivingDates = spark.read.parquet(mirror)
        .select($"p_date".cast("string")).distinct()
        .as[String].collect().toSet
      assert(dropped.toSet.intersect(survivingDates).isEmpty,
        s"mirror $i still holds retention-dropped dates: $dropped")
    }
  }

  test("hot mirrors: a lost PRIMARY hot segment fails over to a converged mirror and heals on the next tick") {
    val (root, cutoff) = buildDemoted()
    Tiered.demote(spark, root, cutoff, sortCols)
    val copied = Tiered.replicate(spark, root, "hot", n = 2)
    assert(copied.size === 2 && copied.forall(_ > 0), copied.toString)
    assert(ids(Tiered.read(spark, root)) === ids(ev),
      "mirror-routed hot read lost rows")
    // damage the PRIMARY hot tier: delete one segment file. No write
    // moved the generation token, so the converged mirrors are the
    // authoritative copies — the r15 gap where hot dates were the
    // system's only single-copy data
    val f = fs(root)
    def walk(p: Path): Seq[Path] =
      f.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s.getPath))
    val victim = walk(new Path(s"$root/hot"))
      .filter(_.getName.endsWith(".parquet")).head
    val victimLen = f.getFileStatus(victim).getLen
    f.delete(victim, false)
    RootCache.invalidate(spark, root) // a fresh reader's first read
    assert(ids(Tiered.read(spark, root)) === ids(ev),
      "primary hot damage leaked into the read — no mirror failover")
    // the next replicate tick heals the primary FROM the mirror
    // (convergence must never propagate the damage instead)
    val msgs = Maintenance.run(spark, Seq(Maintenance.Tier(root, sortCols,
      hotDays = 0, nowDate = cutoff, replicateHot = Some(2))))
    assert(f.exists(victim) && f.getFileStatus(victim).getLen == victimLen,
      s"tick did not restore the lost primary segment ($msgs)")
    assert(ids(Tiered.read(spark, root)) === ids(ev))
    // and a legitimate rewrite is NOT damage: demote everything (the
    // token moves), mirrors are stale, the primary serves — the count
    // catches a stale hot mirror double-serving relocated rows
    Tiered.demote(spark, root, "9999-12-31", sortCols)
    assert(Tiered.read(spark, root).count() === ev.count())
    assert(ids(Tiered.read(spark, root)) === ids(ev))
  }

  test("landing mirrors: durability copies carry the commit markers; an erase scrubs every copy in the same call") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val root = freshRoot()
    val sc = Seq("event_id")
    val victim = 77L
    Tiered.build(spark, Seq((1L, t("2024-07-01 10:00:00"), 10L))
      .toDF("event_id", "ts", "user_id"), root, "ts", sc)
    Tiered.landBatch(Seq(
      (2L, t("2024-07-02 11:00:00"), victim),
      (3L, t("2024-07-02 12:00:00"), 11L)).toDF("event_id", "ts", "user_id"),
      0L, root)
    val copied = Tiered.replicate(spark, root, "landing", n = 2)
    assert(copied.size === 2 && copied.forall(_ > 0), copied.toString)
    val f = fs(root)
    (0 to 1).foreach { i =>
      val mirror = s"$root/_replicas/landing/replica=$i"
      assert(f.exists(new Path(s"$mirror/batch_id=0")),
        s"landing mirror $i missing the batch directory")
      // the zero-length commit marker is part of the mirrored content
      // (a restored copy without it would absorb nothing)
      assert(f.exists(new Path(s"$mirror/_done_batch_0")),
        s"landing mirror $i missing the commit marker")
      assert(spark.read.parquet(s"$mirror/batch_id=0")
        .filter($"user_id" === victim).count() === 1L)
    }
    // right-to-be-forgotten reaches the landing MIRRORS in-call: the
    // rewritten batch replaces the user's copy in every replica
    Tiered.eraseUser(spark, root, "user_id", victim, sc)
    (0 to 1).foreach { i =>
      val mirror = s"$root/_replicas/landing/replica=$i"
      assert(spark.read.parquet(s"$mirror/batch_id=0")
        .filter($"user_id" === victim).count() === 0L,
        s"landing mirror $i still holds the erased user at rest")
      assert(f.exists(new Path(s"$mirror/_done_batch_0")))
    }
    // the innocent landed row still folds from the scrubbed landing
    assert(Tiered.absorb(spark, root, "ts", sc) === Seq(0L))
    assert(ids(Tiered.read(spark, root)) === Set(1L, 3L))
  }

  test("the bench tiered fixture serves THROUGH its replica mirrors — routing engaged, not silently failed over") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // the latency-bar gate over the shared mirrored fixture: its scan
    // must read FROM a hot mirror directory (the hash gate would not
    // notice a silent failover to the primary — byte-identical — so
    // the routing claim needs this plan pin)
    val df = graft.SparkEntry.queries("q_tiered_recent")(spark, sfDir)
    df.collect()
    val paths = scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(paths.exists(_.contains("/_replicas/hot/replica=")),
      s"q_tiered_recent does not scan a hot mirror: ${paths.mkString(", ")}")
  }

  test("a FOREIGN writer's commit is served within one gen-probe TTL — no restart, no in-process invalidate") {
    val (root, _) = buildDemoted()
    spark.conf.set("graft.read.gen.ttl.ms", "600000")
    try {
      val t0 = Tiered.read(spark, root)
      assert(Tiered.read(spark, root) eq t0)
      // another PROCESS appends to the hot tier: emulated by writing
      // through TableManager directly (bypassing this JVM's Tiered
      // in-process invalidation) plus the on-disk token rewrite its
      // write body performs ([[RootCache]])
      val extra = ev.limit(1).withColumn("event_id", lit(999999001L))
      graft.tables.TableManager.writePartitioned(
        extra, s"$root/hot", "ts", sortCols, None,
        mode = org.apache.spark.sql.SaveMode.Append)
      RootCache.bumpToken(spark, root)
      // inside the TTL the cached frame still serves — staleness is a
      // bounded freshness window, not an error
      assert(Tiered.read(spark, root) eq t0)
      // past the TTL the probe sees the new token and rebuilds
      spark.conf.set("graft.read.gen.ttl.ms", "0")
      val t1 = Tiered.read(spark, root)
      assert(!(t1 eq t0), "foreign commit not picked up past the TTL")
      assert(ids(t1).contains(999999001L))
    } finally spark.conf.unset("graft.read.gen.ttl.ms")
  }

  /** Does a fresh routed read serve from mirror `i`? (Damage-free
    * manifest at the current stamp — probed by reading through the
    * public path after invalidation and checking the mirror's files
    * all exist at manifest sizes, which is [[Tiered]]'s own routing
    * condition.)
    */
  private def readsThroughMirror(root: String, i: Int): Boolean = {
    val f = fs(root)
    val mirror = new Path(s"$root/_replicas/cold/replica=$i/_replica_manifest")
    f.exists(mirror) && {
      val in = f.open(mirror)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // lines starting with '#' are manifest metadata (the generation
      // token), not file entries
      txt.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
        .forall { l =>
          val t = l.lastIndexOf('\t')
          val p = new Path(s"$root/_replicas/cold/replica=$i/${l.substring(0, t)}")
          f.exists(p) && f.getFileStatus(p).getLen == l.substring(t + 1).toLong
        }
    }
  }
}
