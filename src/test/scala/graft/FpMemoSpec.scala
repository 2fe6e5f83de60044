package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{AnalyticsQueries, EmbedQueries}

/** The source-file memo: a source regenerated in place releases the
  * superseded entry, and a build that loses the insert race is
  * released, so neither leaves a pinned frame behind.
  */
class FpMemoSpec extends SparkSuite {

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** How many of each id set are still persisted once collectable
    * garbage is gone: `System.gc()` (the ContextCleaner unpersists
    * the RDDs of collected frames) until the counts hold still. A
    * value something still references is never collected.
    */
  private def survivors(sets: Seq[Set[Int]]): Seq[Int] = {
    def counts = { val live = persistedIds(); sets.map(s => (s & live).size) }
    val deadline = System.currentTimeMillis() + 20000L
    var (last, still) = (counts, 0)
    while (still < 3 && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(300)
      val now = counts
      if (now == last) still += 1 else { last = now; still = 0 }
    }
    last
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `table` of the fixture, landed at `dir` in one of two variants
    * with different rows (every 10th id dropped in the second).
    */
  private def land(table: String, idCol: String, dir: String, variant: Int): Unit = {
    val src = if (table == "events") Tables.events(spark, sfDir).drop("value_cents")
      else Tables.load(spark, sfDir, table)
    src.filter(lit(variant) === 0 || col(idCol) % 10 =!= 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  /** A row: its name and a run that returns its failure, if any. */
  private final case class Row(name: String, run: () => Option[String])

  /** Call `gate` twice, rewrite its source in place, call it again.
    * The first call's new persistent RDDs are the memo's entries plus
    * the frames the caller owns; the second call (a hit) adds only
    * the caller's. Every caller frame stays reachable, so after the
    * rewrite no more of the first call's RDDs may survive than of
    * the second's, and the third call's rebuilt entries must stay
    * pinned on top of its caller's share.
    */
  private def regenerated(name: String, table: String, idCol: String,
      gate: (SparkSession, String) => DataFrame): Row = Row(name, { () =>
    val dir = tmp("fp_memo_regen")
    land(table, idCol, dir, 0)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def call(): Set[Int] = {
      val before = persistedIds()
      val r = gate(spark, dir)
      r.collect()
      held += r
      persistedIds() -- before
    }
    val (first, hit) = (call(), call())
    land(table, idCol, dir, 1)
    val rebuilt = call()
    val Seq(left, callers, now) = survivors(Seq(first, hit, rebuilt))
    if (left > callers)
      Some(s"$name: ${left - callers} superseded persistent RDDs not released")
    else if (now <= callers) Some(s"$name: the rebuilt entry is not pinned")
    else None
  })

  /** Two threads miss on the same fingerprint; their builds both
    * block until both have started, so both build and one loses. The
    * test holds every built value, so only a release unpersists one.
    */
  private val raced = Row("race: two builds of one fingerprint", { () =>
    val dir = tmp("fp_memo_race")
    land("events", "event_id", dir, 0)
    val memo = new FpMemo[DataFrame](_.unpersist())
    val started = new CountDownLatch(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val served = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val threads = (1 to 2).map { i =>
      new Thread(() => served.add(memo.get(spark, s"$dir/events.parquet") {
        started.countDown()
        started.await(30, TimeUnit.SECONDS)
        val df = spark.range(i.toLong).toDF().persist()
        df.count()
        built.add(df)
        df
      }))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000L))
    val pinned = built.toArray(Array.empty[DataFrame])
      .count(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val got = served.toArray(Array.empty[DataFrame])
    if (built.size != 2) Some(s"race: ${built.size} builds ran, not both")
    else if (got.length != 2 || !(got(0) eq got(1)))
      Some("race: the callers were not both served the published value")
    else if (pinned != 1) Some(s"race: $pinned built values still pinned, not the winner alone")
    else None
  })

  private val rows = Seq(
    regenerated("typePagerank (transition edges)", "events", "event_id",
      AnalyticsQueries.typePagerank),
    regenerated("eventTransitionsStream (streamed emissions + matrix)",
      "events", "event_id", AnalyticsQueries.eventTransitionsStream),
    regenerated("cohortRetentionStream (cohort fold)", "events", "event_id",
      AnalyticsQueries.cohortRetentionStream),
    regenerated("pqAdcKnn (PQ code table)", "embeddings", "vec_id",
      EmbedQueries.pqAdcKnn),
    regenerated("ivfAdcTop5 (IVFADC code table)", "embeddings", "vec_id",
      EmbedQueries.ivfAdcTop5),
    raced)

  test("a superseded or race-losing memo entry is released") {
    // every row runs; the failure names each one that leaked
    val failures = rows.flatMap(_.run())
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
