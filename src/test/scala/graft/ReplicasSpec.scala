package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.serving.{ReplicaRouter, Replicas, Serving}

/** Replica-group routing: identical copies, deterministic key→replica
  * pinning, failover when a replica is damaged or disappears, and
  * in-place incremental convergence of the serving tables' mirrors.
  */
class ReplicasSpec extends SparkSuite {
  import spark.implicits._

  private val table = "topk_by_count"

  /** An isolated copy of the shared serving root's `topk_by_count`,
    * mirrored n = 3 (a set's mirror count is whatever is on disk, so
    * n = 3 never touches the shared root, which routes with N = 2).
    */
  private def mirroredCopy(prefix: String): String = {
    val r = tempDir(prefix)
    org.apache.commons.io.FileUtils.copyDirectory(
      new File(s"${Serving.materialize(spark, sfDir)}/$table"), new File(s"$r/$table"))
    Replicas.converge(spark, r, table, 3)
    r
  }

  private lazy val root: String = mirroredCopy("graft_replicas")

  private def mirror(r: String, i: Int): String = s"${Replicas.area(r, table)}/replica=$i"

  private def tenantOn(i: Int, n: Int = 3): String = (0 until 100).map(j => s"tenant-$j")
    .find(Replicas.replicaFor(_, n) == i).get

  private def walk(f: File): Seq[File] =
    Option(f.listFiles).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))

  private def segments(dir: String): Seq[File] =
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("window_start_ms"), col("rank"), col("user_id"))
      .collect().map(_.toString).toSet

  test("every replica serves the identical table") {
    val all = (0 until 3).map(i => rows(spark.read.parquet(mirror(root, i))))
    assert(all.forall(_ === all.head))
    assert(all.head.nonEmpty)
  }

  test("replicas are byte-identical segment copies: same files, same bytes, layout preserved") {
    val src = s"$root/$table"
    def manifest(dir: String): Map[String, Long] =
      segments(dir).map(f => f.getAbsolutePath.stripPrefix(dir) -> f.length).toMap
    val want = manifest(src)
    assert(want.nonEmpty)
    for (i <- 0 until 3)
      assert(manifest(mirror(root, i)) === want,
        s"replica $i is not a byte-identical segment copy")
    // spot-check actual bytes on the largest segment
    val biggest = want.maxBy(_._2)._1
    def bytes(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes(src + biggest), bytes(mirror(root, 1) + biggest)))
  }

  test("routing is deterministic and actually spreads keys") {
    val keys = (0 until 100).map(i => s"tenant-$i")
    val routed = keys.map(Replicas.replicaFor(_, 3))
    assert(routed === keys.map(Replicas.replicaFor(_, 3)), "routing not stable")
    assert(routed.distinct.sorted === Seq(0, 1, 2), "keys all pinned to one replica")
    // the routed read serves the replica the key hashes to
    val k = keys.head
    val served = Replicas.servingCopy(spark, root, table, k)
    assert(served === Some(mirror(root, Replicas.replicaFor(k, 3))))
    assert(rows(spark.read.parquet(served.get)).nonEmpty)
  }

  test("replica-routed gate equals the direct served lookup from any replica") {
    val served = graft.queries.ServingQueries.topKLookupServed(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val routed = graft.queries.ServingQueries.topKLookupReplica(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(routed === served)
    assert(routed.nonEmpty)
  }

  test("replica set re-replicates after an in-place serving refresh (freshness stamp)") {
    // isolated dataset copy: the shared sfDir serving root must not
    // be mutated under the other suites
    val dir = eventsCopy("replica_fresh")
    val before = graft.queries.ServingQueries.topKLookupReplica(spark, dir)
      .collect().map(_.toString).toSeq
    // refresh the SAME serving root with a late batch that rewrites
    // the ranked tables (new dominant user past the old anchor)
    val root = Serving.materialize(spark, dir)
    val anchor = Serving.anchorMs(spark, dir)
    val batch = (1 to 5).map(i =>
        (new java.sql.Timestamp(anchor + i * 60000L), 999999L, "click", 100L))
      .toDF("ts", "user_id", "event_type", "value_cents")
    Serving.refreshWithBatch(spark, root, batch, batchId = 0L)
    val served = graft.queries.ServingQueries.topKLookupServed(spark, dir)
      .collect().map(_.toString).toSeq
    val routed = graft.queries.ServingQueries.topKLookupReplica(spark, dir)
      .collect().map(_.toString).toSeq
    assert(routed === served, "stale replica served after refresh")
    assert(routed !== before, "refresh should have changed the lookup window")
  }

  test("erasure propagates through replication: no replica serves the erased user") {
    // isolated dataset copy: the erase mutates the serving root
    val dir = eventsCopy("replica_erase")
    // victim: a user visible in the replica-routed lookup, chosen so
    // it does NOT own the global max ts — the erase then changes
    // neither max_ts_ms nor last_batch_id
    val ev = Tables.events(spark, dir)
    val lastUser = ev.orderBy(col("ts").desc).select(col("user_id"))
      .head().getLong(0)
    val victim = graft.queries.ServingQueries.topKLookupReplica(spark, dir)
      .select(col("user_id")).as[Long].collect()
      .find(_ != lastUser).get
    val root = Serving.materialize(spark, dir)
    Serving.eraseUser(spark, root, ev, victim)
    // the routed lookup re-derives and equals the direct served read
    val servedRows = graft.queries.ServingQueries.topKLookupServed(spark, dir)
      .collect().map(_.toString).toSeq
    val routedRows = graft.queries.ServingQueries.topKLookupReplica(spark, dir)
      .collect().map(_.toString).toSeq
    assert(routedRows === servedRows, "stale replica served after erase")
    // and EVERY replica of the ranked table is clean — route a tenant
    // to each replica and scan its whole copy, not just the window
    for (i <- 0 until 3) {
      val full = ReplicaRouter.table(spark, dir, table, tenantOn(i))
      assert(full.filter(col("user_id") === victim).isEmpty,
        s"replica $i still serves the erased user")
    }
  }

  test("eraseUser leaves no mirror file at rest holding the erased user") {
    val dir = eventsCopy("replica_erase_rest")
    val root = Serving.materialize(spark, dir)
    // route the table through both of its mirrors
    (0 until ReplicaRouter.N).foreach(i =>
      ReplicaRouter.table(spark, dir, table, tenantOn(i, ReplicaRouter.N)).count())
    // every parquet file under the mirror area, read directly from
    // disk — not through routing, which would skip a superseded copy
    def atRest(user: Long): Long = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/_replicas").filter(col("user_id") === user).count()
    val victim = ReplicaRouter.table(spark, dir, table)
      .select(col("user_id")).as[Long].head()
    assert(atRest(victim) > 0, "the mirrors never held the victim")
    Serving.eraseUser(spark, root, Tables.events(spark, dir), victim)
    assert(atRest(victim) === 0L, "the erased user's rows are still at rest in a mirror")
  }

  test("serving mirrors converge in place: k refreshes copy only changed files and keep N mirror dirs") {
    val dir = eventsCopy("replica_incr")
    val root = Serving.materialize(spark, dir)
    val area = Replicas.area(root, table)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def routedEqualsPrimary(): Unit =
      assert(sorted(ReplicaRouter.table(spark, dir, table)) ===
        sorted(Serving.readTable(spark, dir, table)), "routed read differs from the primary")
    def mtimes(): Map[String, Long] =
      segments(area).map(f => f.getPath -> f.lastModified).toMap
    routedEqualsPrimary()
    val anchor = Serving.anchorMs(spark, dir)
    (1 to 3).foreach { k =>
      val before = mtimes()
      val batch = (1 to 5).map(i => (new java.sql.Timestamp(anchor + k * Serving.hourMs + i * 60000L),
          900000L + k, "click", 100L))
        .toDF("ts", "user_id", "event_type", "value_cents")
      Serving.refreshWithBatch(spark, root, batch, batchId = k.toLong)
      routedEqualsPrimary()
      val after = mtimes()
      val kept = before.keySet intersect after.keySet
      assert(kept.nonEmpty, s"refresh $k re-copied every mirror file")
      assert(kept.forall(p => before(p) == after(p)),
        s"refresh $k re-copied mirror files the refresh did not change")
      assert(after.keySet !== before.keySet, s"refresh $k's changed files never reached the mirrors")
      assert(new File(area).list().sorted.toSeq === Seq("replica=0", "replica=1"),
        s"refresh $k left a mirror area other than the N mirrors")
    }
  }

  test("a partial replica — crashed or in-flight rebuild — fails over, never serves silently") {
    val r = mirroredCopy("graft_replicas_part")
    // every copy committed its manifest: one per mirror, no tmp left
    for (i <- 0 until 3) {
      assert(new File(s"${mirror(r, i)}/_replica_manifest").exists)
      assert(!new File(s"${mirror(r, i)}/._replica_manifest.tmp").exists)
    }
    def served(i: Int): Option[String] = Replicas.servingCopy(spark, r, table, tenantOn(i))
    val want = rows(spark.read.parquet(mirror(r, 2)))
    assert(want.nonEmpty)
    // crashed update: replica 0 lost a segment its manifest records
    assert(segments(mirror(r, 0)).head.delete())
    assert(served(0) === Some(mirror(r, 1)), "partial replica 0 must fail over to 1")
    assert(rows(spark.read.parquet(served(0).get)) === want)
    // in-flight update: replica 1 has files but no manifest
    assert(new File(s"${mirror(r, 1)}/_replica_manifest").delete())
    assert(served(1) === Some(mirror(r, 2)), "manifest-less replica 1 must fail over to 2")
    assert(rows(spark.read.parquet(served(1).get)) === want)
    // and convergence heals both: every copy serves again
    Replicas.converge(spark, r, table, 3)
    for (i <- 0 until 3)
      assert(served(i) === Some(mirror(r, i)))
  }

  test("a lost replica fails over with identical results") {
    val k = tenantOn(1)
    val before = rows(spark.read.parquet(Replicas.servingCopy(spark, root, table, k).get))
    val victim = new org.apache.hadoop.fs.Path(mirror(root, 1))
    val fs = victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(victim, true)
    val served = Replicas.servingCopy(spark, root, table, k)
    assert(served === Some(mirror(root, 2)), "failover must move to the next replica")
    assert(rows(spark.read.parquet(served.get)) === before, "failover changed the served result")
  }
}
