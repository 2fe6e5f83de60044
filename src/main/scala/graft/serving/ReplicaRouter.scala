package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Broker-side replica routing for SERVING tables — the general form
  * of the count-path routing the X6 gate first exercised, now shared
  * by every serving query class (the reference routes EVERY query
  * through replica groups — pinot orders_raw_upsert_table.json:64-66
  * — not just one table): a serving table is replicated n ways on
  * first routed use ([[Replicas.replicate]]), each query pins to the
  * copy its tenant key hashes to, and a missing copy fails over with
  * identical results.
  *
  * Layout: replica sets live INSIDE the serving root —
  * `<servingRoot>/_replicas/<table>/gen=<maxTs>_<batch>_<eraseGen>` —
  * one immutable generation directory per content stamp
  * ([[Serving.metaStamp]]: max ts + last applied batch id + erase
  * generation). A refresh or erase changes the stamp, the router
  * builds the NEW generation while in-flight readers keep scanning
  * the old one, and the superseded directory is swept by the
  * maintenance tick ([[sweepStale]], wired as
  * [[Maintenance.ReplicaSets]]) — never by the router mid-query.
  * The underscore prefix keeps the whole area invisible to parquet
  * scans of the serving tables, and putting it under the serving
  * root (instead of an unmanaged temp dir) is what brings it into
  * the retention/maintenance domain at all.
  *
  * Caching discipline (the broker metadata cache): the generation
  * root is derived from the stamp (no listing), and each ROUTED COPY
  * is pinned per replica index as a [[RootCache]] slot of the serving
  * root (`replica:<table>:<idx>`) — between commits a routed query
  * re-lists nothing and re-reads nothing; a refresh, an erase or a
  * foreign commit drops the pins together with every other slot of
  * the root (among them the prepared API plans that scan them), and
  * the next routed read re-replicates from the refreshed primary.
  */
object ReplicaRouter {

  /** Replication factor for routed serving tables. */
  val N = 2

  private def genName(stamp: (Long, Long, Long)): String =
    s"gen=${stamp._1}_${stamp._2}_${stamp._3}"

  private def tableReplicaRoot(servingRoot: String, table: String): String =
    s"$servingRoot/_replicas/$table"

  /** Read `table` of `dataDir`'s serving layout through the replica
    * set, pinned to the copy `tenant` hashes to. Every copy is
    * written from the same primary read, so results are identical
    * whichever replica serves — what lets routed gates share the
    * unrouted gates' oracles.
    */
  def table(spark: SparkSession, dataDir: String, table: String,
      tenant: String = "tenant-analytics"): DataFrame = {
    val servingRoot = Serving.materialize(spark, dataDir)
    val idx = Replicas.replicaFor(tenant, N)
    RootCache.get(spark, servingRoot, s"replica:$table:$idx") {
      val genRoot = s"${tableReplicaRoot(servingRoot, table)}/" +
        genName(Serving.metaStamp(spark, servingRoot))
      // build the generation if this is its first routed use; the
      // serving root's single-writer lease quiesces refresh/erase
      // while the copy reads the primary, and makes concurrent
      // first-routers serialize (the second finds _complete and
      // returns immediately)
      val fs = new Path(genRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(s"$genRoot/_complete")))
        Lease.withLease(spark, servingRoot, "replicate") {
          if (!fs.exists(new Path(s"$genRoot/_complete"))) {
            // a crashed first-router left a partial generation: the
            // rebuild below re-stages and atomically re-publishes
            // every replica, so debris never survives as truth
            Replicas.replicate(spark, s"$servingRoot/$table", genRoot, n = N)
            fs.create(new Path(s"$genRoot/_complete"), true).close()
          }
        }
      val (df, _) = Replicas.read(spark, genRoot, tenant, N)
      // serving tables are date-sliced into many small files; cache
      // each as ONE block: every serving query over the pin then runs
      // as one job of one stage with no exchange — at serving sizes a
      // stage or a task costs more than the data (a ~100 ms warm
      // lookup was mostly per-task scheduling at 30 partitions of a
      // 1 MB table, measured) — and a prepared route's parameters
      // never sit below an exchange whose map output could be reused
      df.coalesce(1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Sweep superseded replica generations of every table under
    * `<servingRoot>/_replicas` — the maintenance-tick leg
    * ([[Maintenance.ReplicaSets]]). The generation matching the
    * CURRENT content stamp survives; older (and newer-orphaned,
    * e.g. from a rolled-back stamp) directories are deleted — their
    * pins went with the commit that superseded them. Returns the
    * swept paths.
    */
  private[graft] def sweepStale(spark: SparkSession,
      servingRoot: String): Seq[String] = {
    val fs = new Path(servingRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val area = new Path(s"$servingRoot/_replicas")
    if (!fs.exists(area)) Seq.empty
    else {
      val live = genName(Serving.metaStamp(spark, servingRoot))
      val stale = fs.listStatus(area).toSeq.filter(_.isDirectory).flatMap {
        t =>
          fs.listStatus(t.getPath).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
            .filter(_.getPath.getName != live)
            .map(_.getPath)
      }
      stale.foreach(fs.delete(_, true))
      stale.map(_.toString)
    }
  }

  /** The replica-set root currently serving (dataDir, table) if its
    * generation has been built — observability for tests and ops (a
    * broker's routing-table dump).
    */
  def replicaRootFor(spark: SparkSession, dataDir: String,
      table: String): Option[String] = {
    val servingRoot = Serving.materialize(spark, dataDir)
    val genRoot = s"${tableReplicaRoot(servingRoot, table)}/" +
      genName(Serving.metaStamp(spark, servingRoot))
    val fs = new Path(genRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$genRoot/_complete"))) Some(genRoot) else None
  }
}
