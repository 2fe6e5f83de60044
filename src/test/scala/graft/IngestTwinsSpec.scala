package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{AnalyticsQueries, DocQueries, MediaQueries, OlapQueries}
import graft.streaming.{LmIngest, MergeableState}

/** The ingest states: stream == batch under OUT-OF-ORDER arrival,
  * REPLAYED batches and compaction at any point — the
  * order-independence the mergeable-state pattern promises (the
  * gates check the in-order composition against the DuckDB oracle;
  * this spec checks the orderings the gate split cannot express).
  */
class IngestTwinsSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def liveBatchDirs(root: String): Set[String] =
    new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet

  private val covisit = AnalyticsQueries.covisitState
  private val wau = AnalyticsQueries.wauState

  /** Every [[MergeableState]] with its full input and the id column
    * the random splits hash on. Each batch op is
    * `derive(merge(partial(input)))`, so `read` equal to
    * `merge(partial(input))` is stream == batch for the derived gate.
    */
  private lazy val mergeableStates: Seq[(String, MergeableState, DataFrame, String)] = {
    val ev = Tables.events(spark, sfDir)
    val media = graft.multimodal.Media.mediaFromEvents(ev)
    val drift = graft.ops.Drift.countState(col("doc_id") % 2 === 0,
      Seq("lang" -> col("lang"), "source" -> col("source")), col("n_chars"))
    Seq(
      ("covisit", AnalyticsQueries.covisitState, ev, "event_id"),
      ("wau", AnalyticsQueries.wauState, ev, "event_id"),
      ("rfm", AnalyticsQueries.rfmState, ev, "event_id"),
      ("corr", OlapQueries.corrState, ev, "event_id"),
      ("ohlc", OlapQueries.ohlcState, ev, "event_id"),
      ("media dedup", MediaQueries.mediaDedupState, media, "media_id"),
      ("media signatures", MediaQueries.mediaSignatureState, media, "media_id"),
      ("drift", drift, Tables.documents(spark, sfDir), "doc_id"))
  }

  test("every mergeable state: any split, arrival order, replay and compaction point == batch") {
    import org.scalacheck.{Gen, Prop, Test => PropTest}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    // (batches, hash seed of the split, arrival order, appends before
    // the mid-stream compaction)
    val genCase = for {
      n <- Gen.choose(1, 4)
      splitSeed <- Gen.choose(0, 1 << 20)
      order <- Gen.long.map(l => new scala.util.Random(l).shuffle((0 until n).toList))
      compactAfter <- Gen.choose(1, n)
    } yield (n, splitSeed, order, compactAfter)
    // the states share nothing but the session, and each case is a
    // chain of small jobs: checking them on four driver threads keeps
    // the cores busy through each job's driver-side barriers
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val checks = mergeableStates.zipWithIndex.map { case ((name, state, input, idCol), si) =>
      scala.concurrent.Future {
        val want = rows(state.merge(state.partial(input)))
        val prop = Prop.forAllNoShrink(genCase) { case (n, splitSeed, order, compactAfter) =>
          val batches = (0 until n).map(i =>
            input.filter(pmod(hash(col(idCol), lit(splitSeed)), lit(n)) === i))
          val root = tmp("graft_mergeable") + "/state"
          order.zipWithIndex.foreach { case (i, k) =>
            state.append(batches(i), i.toLong, root)
            if (k + 1 == compactAfter) state.compact(spark, root)
          }
          // the max batch id is the one streaming can re-fire
          state.append(batches(n - 1), n - 1L, root)
          val replayed = rows(state.read(spark, root)) == want
          state.compact(spark, root)
          state.append(batches(n - 1), n - 1L, root)
          (replayed && rows(state.read(spark, root)) == want &&
            liveBatchDirs(root) == Set(s"batch_id=${n - 1}")) :|
            s"n=$n split=$splitSeed order=$order compactAfter=$compactAfter"
        }
        val res = PropTest.check(PropTest.Parameters.default
          .withMinSuccessfulTests(2).withInitialSeed(Seed(20261017L + si)), prop)
        (name, want.nonEmpty, res)
      }
    }
    try checks.foreach { f =>
      val (name, nonEmpty, res) =
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      assert(nonEmpty, name)
      assert(res.passed, s"$name: $res")
    } finally pool.shutdown()
  }

  test("covisit ingest: compaction preserves reads, replay-after-compaction safe") {
    val ev = Tables.events(spark, sfDir)
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val batches = Seq(
      ev.filter(col("event_id") <= maxId / 3),
      ev.filter(col("event_id") > maxId / 3 && col("event_id") <= 2 * maxId / 3),
      ev.filter(col("event_id") > 2 * maxId / 3))
    val t = tmp("graft_covisit_compact")
    batches.zipWithIndex.foreach { case (b, i) =>
      covisit.append(b, i.toLong, s"$t/us") }
    val before = rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us")))
    covisit.compact(spark, s"$t/us")
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == before)
    // batches 0/1 folded; only the last (replayable) partition remains
    val dirs = new java.io.File(s"$t/us").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(dirs == Set("batch_id=2"))
    // replay of the LAST batch (the only one streaming can re-fire)
    covisit.append(batches(2), 2L, s"$t/us")
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == before)
    // compact again (folds nothing new), then with a fresh batch
    covisit.compact(spark, s"$t/us")
    covisit.append(batches(0), 3L, s"$t/us") // re-sent rows: set-union no-op
    covisit.compact(spark, s"$t/us")
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == before)
    // an uncommitted generation (no _manifest — the crash-before-
    // commit debris) must be invisible to readers
    new java.io.File(s"$t/us/_consolidated/gen=99").mkdirs()
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == before)
  }

  test("lm ingest: compaction preserves scores (additive state)") {
    val d = Tables.documents(spark, sfDir)
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val batches = Seq(
      d.filter(col("doc_id") <= maxId / 3),
      d.filter(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      d.filter(col("doc_id") > 2 * maxId / 3))
    val t = tmp("graft_lm_compact")
    batches.zipWithIndex.foreach { case (b, i) =>
      LmIngest.processBatch(b, i.toLong, s"$t/grams", s"$t/census") }
    val before = rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census"))
    LmIngest.compact(spark, s"$t/grams", s"$t/census")
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == before)
    // replay of the last batch overwrites its own (kept) partition —
    // no double count against the consolidated generation
    LmIngest.processBatch(batches(2), 2L, s"$t/grams", s"$t/census")
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == before)
    // re-compacting with nothing strictly older to fold is a no-op
    LmIngest.compact(spark, s"$t/grams", s"$t/census")
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == before)
  }

  test("lm ingest: out-of-order + replay == batch") {
    val d = Tables.documents(spark, sfDir)
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val batches = Seq(
      d.filter(col("doc_id") <= maxId / 3),
      d.filter(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      d.filter(col("doc_id") > 2 * maxId / 3))
    val t = tmp("graft_lm_spec")
    Seq(1, 2, 0).foreach(i =>
      LmIngest.processBatch(batches(i), i.toLong, s"$t/grams", s"$t/census"))
    LmIngest.processBatch(batches(0), 0L, s"$t/grams", s"$t/census")
    val streamed = rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census"))
    val direct = rows(DocQueries.lmScore(d))
    assert(streamed == direct && streamed.nonEmpty)
  }

  test("ingest-state erasure: erase == rebuild-without-user; replay can't resurface; compaction still sane") {
    val ev = Tables.events(spark, sfDir)
    val victim = ev.groupBy(col("user_id")).count()
      .orderBy(desc("count"), col("user_id")).head().getLong(0) // hottest user
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val batches = Seq(
      ev.filter(col("event_id") <= maxId / 3),
      ev.filter(col("event_id") > maxId / 3 && col("event_id") <= 2 * maxId / 3),
      ev.filter(col("event_id") > 2 * maxId / 3))
    val t = tmp("graft_erase_state")
    batches.zipWithIndex.foreach { case (b, i) =>
      covisit.append(b, i.toLong, s"$t/us")
      wau.append(b, i.toLong, s"$t/ud")
    }
    // compact first so the erase has BOTH a generation and live
    // batch partitions to reach
    covisit.compact(spark, s"$t/us")
    wau.compact(spark, s"$t/ud")
    covisit.eraseWhere(spark, s"$t/us", col("user_id") === victim)
    wau.eraseWhere(spark, s"$t/ud", col("user_id") === victim)
    val evErased = ev.filter(col("user_id") =!= victim)
    val wantLift = rows(AnalyticsQueries.liftOf(
      evErased.select(col("user_id"), col("event_type")).distinct()))
    val wantWau = rows(AnalyticsQueries.wauOf(evErased
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day")).distinct()))
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == wantLift)
    assert(rows(AnalyticsQueries.wauOf(wau.read(spark, s"$t/ud"))) == wantWau)
    // no row of the victim anywhere in the visible state
    assert(graft.streaming.StateCompactor.readState(spark, s"$t/us")
      .filter(col("user_id") === victim).isEmpty)
    assert(graft.streaming.StateCompactor.readState(spark, s"$t/ud")
      .filter(col("user_id") === victim).isEmpty)
    // a replay of the last (folded) batch rewrites its partition but
    // stays invisible: the erased user cannot resurface
    covisit.append(batches(2), 2L, s"$t/us")
    wau.append(batches(2), 2L, s"$t/ud")
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == wantLift)
    assert(rows(AnalyticsQueries.wauOf(wau.read(spark, s"$t/ud"))) == wantWau)
    // fresh erased-world batches + compaction keep reads consistent
    covisit.append(batches(0).filter(col("user_id") =!= victim), 3L, s"$t/us")
    covisit.append(batches(1).filter(col("user_id") =!= victim), 4L, s"$t/us")
    covisit.compact(spark, s"$t/us")
    assert(rows(AnalyticsQueries.liftOf(covisit.read(spark, s"$t/us"))) == wantLift)
  }
}
