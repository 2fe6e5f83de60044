package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Broker-side replica routing for SERVING tables — the general form
  * of the count-path routing the X6 gate first exercised, now shared
  * by every serving query class (the reference routes EVERY query
  * through replica groups — pinot orders_raw_upsert_table.json:64-66
  * — not just one table): each routed table keeps `N` mirrors under
  * the serving root, `<servingRoot>/_replicas/<table>/replica=<i>`,
  * converged incrementally by [[Replicas]] (the tiers' mechanism), and
  * each query pins to the copy its tenant key hashes to, with
  * failover to a verified copy.
  *
  * Caching discipline (the broker metadata cache): each ROUTED COPY
  * is pinned per replica index as a [[RootCache]] slot of the serving
  * root (`replica:<table>:<idx>`) — between commits a routed query
  * re-lists nothing and re-reads nothing; a refresh, an erase or a
  * foreign commit drops the pins together with every other slot of
  * the root (among them the prepared API plans that scan them), and
  * the next routed read converges the mirrors to the refreshed
  * primary — copying only the files the commit changed.
  */
object ReplicaRouter {

  /** Replication factor for routed serving tables. */
  val N = 2

  /** Read `table` of `dataDir`'s serving layout through its mirrors,
    * pinned to the copy `tenant` hashes to. Every copy is a
    * byte-identical file copy of the primary, so results are
    * identical whichever replica serves — what lets routed gates share
    * the unrouted gates' oracles.
    */
  def table(spark: SparkSession, dataDir: String, table: String,
      tenant: String = "tenant-analytics"): DataFrame = {
    val servingRoot = Serving.materialize(spark, dataDir)
    val idx = Replicas.replicaFor(tenant, N)
    RootCache.get(spark, servingRoot, s"replica:$table:$idx") {
      // the serving root's single-writer lease quiesces refresh/erase
      // while the mirrors converge and the routed copy is listed; when
      // the mirrors are already current this is a listing-only no-op
      val df = Lease.withLease(spark, servingRoot, "replicate") {
        // a crashed commit completes before its files are mirrored
        if (EraseStage.recover(spark, servingRoot)) RootCache.invalidate(spark, servingRoot)
        Replicas.converge(spark, servingRoot, table, N)
        spark.read.parquet(Replicas.servingCopy(spark, servingRoot, table, tenant)
          .getOrElse(s"$servingRoot/$table"))
      }
      // serving tables are date-sliced into many small files; cache
      // each as ONE block: every serving query over the pin then reads
      // one partition with no exchange (a prepared route evaluates it
      // on the calling thread, with no job) — at serving sizes a
      // stage or a task costs more than the data (a ~100 ms warm
      // lookup was mostly per-task scheduling at 30 partitions of a
      // 1 MB table, measured) — and a prepared route's parameters
      // never sit below an exchange whose map output could be reused
      df.coalesce(1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }
}
