package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one per-root read cache of the serving layer: every cached
  * read of [[Tiered]], [[Serving]], [[ReplicaRouter]], [[SearchIndex]],
  * [[NearDupIndex]] and [[PqIndex]], and every prepared
  * [[graft.api.TopKApi]] route plan, is a named SLOT of its root here,
  * so one staleness discipline covers them all. A root's content GENERATION is
  *
  *  - on disk, a single tiny `_read_gen` file holding an opaque token
  *    rewritten by every mutating op ([[bumpToken]], one small-file
  *    write per mutation — the `graft.evolve.cache.ms` pattern applied
  *    to data roots). A FOREIGN process's committed write is visible
  *    to this process as a changed token: [[get]] re-reads it at most
  *    once per `graft.read.gen.ttl.ms` (default 2000) per root, and a
  *    changed token drops every slot of the root — the single-writer
  *    deployment shape is a freshness bound (≤ TTL), not a
  *    correctness assumption. Zero FS calls within the TTL.
  *  - in process, a generation counter bumped by every [[invalidate]].
  *    A fill captures the counter BEFORE building and publishes only
  *    if it has not moved — a reader that started building before a
  *    writer's commit can never insert the pre-commit value after the
  *    writer's invalidate ran. The loser serves its value to its own
  *    caller (barrier-complete) and unpersists it if it was pinned —
  *    unless the slot's published value is a same-result frame, whose
  *    cache entry it shares.
  *
  * Every miss runs the read barrier (wait out a live foreign writer's
  * lease, [[Lease.awaitQuiesced]]) and read-path recovery (complete a
  * crashed staged commit, [[EraseStage.recover]]) before building, so
  * a fresh JVM's first read never serves a holed or mixed layout.
  *
  * The disk token doubles as the mirror generation of [[Replicas]]
  * (the [[Tiered]] tiers' and the routed [[Serving]] tables' mirrors):
  * a mirror manifest recording the CURRENT token was converged after
  * the last mutation, which is what authorizes serving it — and
  * healing the primary from it — when the primary's listing has
  * drifted (primary damage, not staleness).
  *
  * Token reads/writes are not atomic with the data commit — a reader
  * can observe the token before the commit it announces or vice
  * versa — but every such race only widens staleness by one TTL
  * window or forces one spurious rebuild, never serves a torn frame
  * (the miss path still runs the lease read barrier).
  */
object RootCache {

  private final class Root {
    val gen = new java.util.concurrent.atomic.AtomicLong(0L)
    val slots = scala.collection.concurrent.TrieMap.empty[String, Any]
    // the disk token the slots were built under (None after an
    // in-process invalidate: nothing built yet to compare against)
    @volatile var token: Option[String] = None
    @volatile var probedAt: Long = 0L
  }

  private val roots = scala.collection.concurrent.TrieMap.empty[String, Root]

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rootOf(spark: SparkSession, root: String): Root =
    roots.getOrElseUpdate(
      fsOf(spark, root).makeQualified(new Path(root)).toString, new Root)

  private def release(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist()
    case _ => ()
  }

  /** Whether `v` holds `kept`'s storage: a Dataset whose plan has the
    * same result as one already cached persists nothing of its own, it
    * shares that cache entry — releasing `v` would drop `kept`'s.
    */
  private[graft] def sharesCache(v: Any, kept: Any): Boolean = (v, kept) match {
    case (a: Dataset[_], b: Dataset[_]) =>
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    case _ => false
  }

  /** `root`'s cached value for `slot`, built by `build` on a miss. A
    * slot of an open-ended family — one whose name starts with
    * `family`, as a route plan keyed by a caller-chosen shape — is
    * published only while the root holds fewer than `max` slots of
    * that family (misses racing the last free place may each take it);
    * past that a miss builds for its caller alone.
    */
  def get[A](spark: SparkSession, root: String, slot: String, family: String = "",
      max: Int = Int.MaxValue)(build: => A): A = {
    val r = rootOf(spark, root)
    val now = System.currentTimeMillis()
    if (now - r.probedAt >= spark.conf.get("graft.read.gen.ttl.ms", "2000").toLong) {
      val t = token(spark, root)
      // a FOREIGN writer committed a new generation
      if (r.token.exists(_ != t)) invalidate(spark, root)
      r.token = Some(t)
      r.probedAt = now
    }
    r.slots.get(slot) match {
      case Some(v) => v.asInstanceOf[A]
      case None =>
        Lease.awaitQuiesced(spark, root, waitMs =
          spark.conf.get("graft.read.barrier.ms", "60000").toLong)
        if (EraseStage.recover(spark, root)) invalidate(spark, root)
        val gen = r.gen.get
        val v = build
        // an unpublished value is released, unless the slot's
        // published value is a same-result frame sharing its entry
        def drop(kept: Option[Any]): Unit = if (!kept.exists(sharesCache(v, _))) release(v)
        if (r.gen.get != gen) { drop(r.slots.get(slot)); v }
        else if (max < Int.MaxValue && slot.startsWith(family) && !r.slots.contains(slot) &&
            r.slots.keys.count(_.startsWith(family)) >= max) { release(v); v }
        else r.slots.putIfAbsent(slot, v) match {
          case Some(existing) => drop(Some(existing)); existing.asInstanceOf[A]
          case None =>
            // an invalidate that slipped between the check and the put
            // bumped the counter before its drop: retract our entry
            if (r.gen.get != gen && r.slots.remove(slot, v)) release(v)
            v
        }
    }
  }

  /** Drop every slot of `root` — call after every in-process commit.
    * Bumps the generation FIRST, so a concurrent fill whose build
    * straddled the commit cannot publish its stale value.
    */
  def invalidate(spark: SparkSession, root: String): Unit = {
    val r = rootOf(spark, root)
    r.gen.incrementAndGet()
    // the next get re-reads the token (this commit's own) before it
    // builds, so a later foreign commit still reads as a change
    r.token = None
    r.probedAt = 0L
    r.slots.keys.foreach(k => r.slots.remove(k).foreach(release))
  }

  private def tokenPath(root: String) = new Path(s"$root/_read_gen")

  /** Rewrite the on-disk token — call from every mutating write body
    * (at the write point, inside the lease where there is one).
    */
  private[graft] def bumpToken(spark: SparkSession, root: String): Unit = {
    val out = fsOf(spark, root).create(tokenPath(root), true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The current on-disk token ("" when the root has never been
    * mutated through this library — gen-based decisions disable).
    */
  private[graft] def token(spark: SparkSession, root: String): String = {
    val f = fsOf(spark, root)
    val p = tokenPath(root)
    if (!f.exists(p)) ""
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }
}
