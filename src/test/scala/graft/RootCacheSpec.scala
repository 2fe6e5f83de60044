package graft

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.TopKApi
import graft.queries.SqlQueries
import graft.serving.{NearDupIndex, PqIndex, RootCache, SearchIndex, Serving, Tiered}

/** The one per-root read cache: a fill that races an invalidate never
  * publishes, and every served root kind picks up a FOREIGN process's
  * commit within one `graft.read.gen.ttl.ms` window, with no
  * in-process invalidate.
  */
class RootCacheSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a fill racing an invalidate never publishes: the next get rebuilds") {
    val root = tmp("root_cache_race")
    var builds = 0
    def build(): DataFrame = {
      builds += 1
      spark.range(builds.toLong).toDF().persist()
    }
    // the invalidate lands while the fill is building — the writer's
    // commit straddles the reader's build
    val raced = RootCache.get(spark, root, "slot") {
      val df = build()
      RootCache.invalidate(spark, root)
      df
    }
    assert(raced.count() === 1L, "the racing caller is still served its value")
    assert(raced.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the unpublished pinned value must be released")
    val next = RootCache.get(spark, root, "slot")(build())
    assert(builds === 2, "the raced fill was published")
    assert(next.count() === 2L)
    assert((RootCache.get(spark, root, "slot")(build()) eq next) && builds === 2,
      "an unraced fill must publish")
    next.unpersist()
  }

  test("a build losing the insert race to a same-result frame leaves the winner cached") {
    val root = tmp("root_cache_loser")
    spark.range(10).write.parquet(s"$root/t")
    def pinned(): DataFrame = spark.read.parquet(s"$root/t").persist()
    val built = new java.util.concurrent.CountDownLatch(1)
    val published = new java.util.concurrent.CountDownLatch(1)
    @volatile var lost: DataFrame = null
    // the loser builds first and publishes last: its persist registers
    // the cache entry, the winner's persist shares it
    val loser = new Thread(() => {
      lost = RootCache.get(spark, root, "t") {
        val df = pinned()
        built.countDown()
        published.await()
        df
      }
    })
    loser.start()
    built.await()
    val winner = RootCache.get(spark, root, "t")(pinned())
    published.countDown()
    loser.join()
    assert(lost eq winner, "the loser is served the published value")
    assert(winner.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "the loser's release dropped the published slot's cache entry")
    RootCache.invalidate(spark, root)
    assert(winner.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a build straddling a commit leaves the same-result frame published after it cached") {
    import java.util.concurrent.CountDownLatch
    val root = tmp("root_cache_straddle")
    spark.range(10).write.parquet(s"$root/t")
    def pinned(): DataFrame = spark.read.parquet(s"$root/t").persist()
    val built = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    // the straddler registers the cache entry, a commit lands, and a
    // post-commit build (sharing that entry) publishes before the
    // straddler finishes — which then must not drop the entry
    val straddler = new Thread(() => {
      RootCache.get(spark, root, "t") {
        val df = pinned()
        built.countDown()
        go.await()
        df
      }
    })
    straddler.start()
    built.await()
    RootCache.invalidate(spark, root)
    val after = RootCache.get(spark, root, "t")(pinned())
    go.countDown()
    straddler.join()
    assert((RootCache.get(spark, root, "t")(pinned()) eq after), "the post-commit frame is published")
    assert(after.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "the straddler's release dropped the published slot's cache entry")
    RootCache.invalidate(spark, root)
  }

  // ---- foreign-commit fixtures, one per served root kind ----------

  private def events(rows: (Long, String, Long, String, Long)*): DataFrame =
    rows.map { case (id, t, u, et, cents) =>
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("value_cents", round(col("value") * 100).cast("long"))

  private val baseEvents = Seq(
    (1L, "2024-01-01 10:10:00", 1L, "click", 300L),
    (2L, "2024-01-01 10:20:00", 2L, "purchase", 500L),
    (3L, "2024-01-02 09:05:00", 1L, "click", 200L))
  // the foreign refresh: a heavy new user five hours past the anchor,
  // so the routed top-K sees it only under the NEW anchor and stamp
  private val marker = 424242L
  private def foreignEvents = events((10L to 12L).map(i =>
    (i, "2024-01-02 14:15:00", marker, "click", 900L)): _*)

  private lazy val docs = Tables.documents(spark, sfDir)
  private def dupOfDoc0(times: Int) = docs.filter($"doc_id" === 0L)
    .select(lit(marker).as("doc_id"),
      concat_ws(" ", Seq.fill(times)(col("text")): _*).as("text"))

  /** A served root kind: `open` builds a root and returns it with the
    * cached read under test (the ids it serves); `commit` is the
    * other process's write, run on a copy of the root; `fresh` tells
    * the post-commit answer (by default: it serves the marker id).
    */
  private final case class Kind(name: String,
      open: () => (String, () => Set[Long]), commit: String => Unit,
      fresh: Set[Long] => Boolean = _.contains(marker))

  /** A data dir holding `baseEvents` as its events table. */
  private def baseDataDir(prefix: String): String = {
    val dataDir = tmp(prefix)
    events(baseEvents: _*).drop("value_cents").coalesce(1)
      .write.parquet(s"$dataDir/events.parquet")
    dataDir
  }

  private val kinds = Seq(
    Kind("Tiered.read", { () =>
      val root = tmp("rc_tiered")
      Tiered.build(spark, events(baseEvents: _*), root, "ts", Seq("ts"))
      (root, () => Tiered.read(spark, root).select("event_id").as[Long].collect().toSet)
    }, root => Tiered.ingest(spark, events((marker, "2024-01-02 11:00:00", 5L,
      "click", 100L)), root, "ts", Seq("ts"))),
    Kind("Serving.readTableAt", { () =>
      val root = tmp("rc_serving")
      Serving.materializeInto(spark, root, events(baseEvents: _*))
      (root, () => Serving.readTableAt(spark, root, "agg_by_window")
        .select("user_id").as[Long].collect().toSet)
    }, root => Serving.refreshWithBatch(spark, root, foreignEvents, 1L)),
    Kind("TopKApi.topk via ReplicaRouter + anchorMs", { () =>
      val dataDir = baseDataDir("rc_api")
      (Serving.materialize(spark, dataDir), () => TopKApi.topk(spark, dataDir)
        .select("user_id").as[Long].collect().toSet)
    }, root => Serving.refreshWithBatch(spark, root, foreignEvents, 1L)),
    // the marker's clicks move the anchor: the 24 h window keeps only
    // event 3's 200 cents and the marker's 3 x 900
    Kind("SqlQueries.topkRollup", { () =>
      val dataDir = baseDataDir("rc_sql")
      (Serving.materialize(spark, dataDir), () => SqlQueries.topkRollup(spark, dataDir)
        .select("total_revenue_cents").as[Long].collect().toSet)
    }, root => Serving.refreshWithBatch(spark, root, foreignEvents, 1L),
      fresh = _ == Set(2900L)),
    Kind("SearchIndex.query", { () =>
      val root = tmp("rc_search")
      SearchIndex.materialize(docs, root)
      (root, () => SearchIndex.query(spark, root, docs.filter($"doc_id" === 0L), k = 10)
        .select("doc_id").as[Long].collect().toSet)
    }, root => SearchIndex.append(spark, root, dupOfDoc0(3))),
    Kind("NearDupIndex.query", { () =>
      val root = tmp("rc_neardup")
      NearDupIndex.materialize(docs.filter($"doc_id" >= 50), root)
      (root, () => NearDupIndex.query(spark, root, docs.filter($"doc_id" === 0L))
        .select("match_id").as[Long].collect().toSet)
    }, root => NearDupIndex.append(spark, root, dupOfDoc0(1))),
    Kind("PqIndex.load", { () =>
      val root = tmp("rc_pq")
      val emb = Tables.embeddings(spark, sfDir)
      PqIndex.materialize(spark, emb.filter($"vec_id" > 0L), root)
      (root, () => PqIndex.load(spark, root).codes.select("vec_id").as[Long]
        .collect().toSet)
    }, root => PqIndex.append(spark, root,
      Tables.embeddings(spark, sfDir).filter($"vec_id" === 0L)
        .withColumn("vec_id", lit(marker)))))

  /** Emulate another process's commit on `root`: run `commit` on a
    * private copy (whose in-process invalidation touches only the
    * copy), land the files it wrote back into `root` — new and
    * rewritten files copied, files it dropped deleted — and rewrite
    * the `_read_gen` token, exactly as the foreign write body would.
    */
  private def foreignCommit(root: String, commit: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    val copy = s"${tmp("rc_foreign")}/root"
    FileUtil.copy(fs, new Path(root), fs, new Path(copy), false, conf)
    commit(copy)
    def files(dir: String): Map[String, Long] = {
      val it = fs.listFiles(new Path(dir), true)
      val prefix = fs.makeQualified(new Path(dir)).toString
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => s.getPath.toString.stripPrefix(prefix) -> s.getLen).toMap
    }
    val (mine, theirs) = (files(root), files(copy))
    theirs.foreach { case (rel, len) =>
      if (!mine.get(rel).contains(len))
        FileUtil.copy(fs, new Path(copy + rel), fs, new Path(root + rel), false, true, conf)
    }
    (mine.keySet -- theirs.keySet).foreach(rel => fs.delete(new Path(root + rel), false))
    RootCache.bumpToken(spark, root)
  }

  test("a FOREIGN commit reaches every served root kind within one TTL — old answer inside it, new at TTL 0") {
    // every kind runs; the failure names each one that misbehaved
    val failures = kinds.flatMap { k =>
      spark.conf.set("graft.read.gen.ttl.ms", "600000")
      try {
        val (root, read) = k.open()
        val before = read()
        require(!before.contains(marker), s"${k.name}: fixture already serves the marker")
        foreignCommit(root, k.commit)
        if (read() != before) Some(s"${k.name}: a foreign commit served inside the TTL")
        else {
          spark.conf.set("graft.read.gen.ttl.ms", "0")
          if (k.fresh(read())) None
          else Some(s"${k.name}: the foreign commit was not served past the TTL")
        }
      } finally spark.conf.unset("graft.read.gen.ttl.ms")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("served SQL: an erase through Serving.eraseUser reaches SqlQueries.topkRollup with no explicit invalidate") {
    val dir = tmp("rc_sql_erase")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    def answer(): Set[(String, Long, Long, Long)] = SqlQueries.topkRollup(spark, dir)
      .select("event_type", "total_revenue_cents", "total_orders", "unique_customers")
      .as[(String, Long, Long, Long)].collect().toSet
    // the oracle's recompute over the raw events, without `erased`
    def recompute(erased: Long): Set[(String, Long, Long, Long)] = {
      val w = Tables.events(spark, dir).filter($"user_id" =!= erased)
        .select($"event_type", $"user_id", $"value_cents",
          unix_millis(date_trunc("minute", $"ts")).as("wsm"))
      val anchor = w.agg(max($"wsm")).head().getLong(0)
      w.filter($"wsm" > anchor - 24L * 3600 * 1000)
        .groupBy($"event_type")
        .agg(sum($"value_cents"), count(lit(1)), countDistinct($"user_id"))
        .as[(String, Long, Long, Long)].collect().toSet
    }
    answer()
    assert(answer() === recompute(-1L), "fixture: the warm answer is the recompute")
    // the user with the most events in the last 24 h
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val user = ev.filter($"ts" > lit(new Timestamp(maxTs.getTime - 24L * 3600 * 1000)))
      .groupBy($"user_id").count().orderBy($"count".desc, $"user_id")
      .select("user_id").as[Long].head()
    val expected = recompute(user)
    require(expected != recompute(-1L), "fixture: the user must move the answer")
    Serving.eraseUser(spark, Serving.materialize(spark, dir), ev, user)
    assert(answer() === expected, "the served SQL still counts the erased user")
  }
}
