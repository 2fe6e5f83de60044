package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-writer lease for a managed root — the missing cross-process
  * guard around every staged-commit write path ([[EraseStage]],
  * [[Serving.refreshWithBatch]], [[Serving.eraseUser]],
  * [[Maintenance.run]]): those all assume ONE writer per root, and two
  * sessions interleaving stage/apply on the same root could duplicate
  * kept rows or delete each other's staged reads mid-write. Pinot gets
  * the same guarantee from Helix's controller leadership; a shared-
  * storage Spark library gets it from a lock FILE next to the data:
  *
  *  - `acquire` = atomic create of `<root>/_lease` (create with
  *    overwrite=false is the mutual-exclusion primitive every
  *    Hadoop-compatible FS provides); content is
  *    `owner \t nonce \t created-epoch-ms`, and the file is IMMUTABLE
  *    after creation — nothing ever rewrites it in place.
  *  - a holder doing long work calls [[renew]] to re-stamp its
  *    heartbeat, written to PER-NONCE, double-buffered sidecars
  *    (`_lease.hb.<nonce>.{0,1}`), never to the shared lease file: a
  *    displaced holder whose renew races a TTL takeover can therefore
  *    only touch its own (now-irrelevant) sidecar — it can never
  *    clobber the new owner's lease and reinstall itself, which a
  *    read-check-then-overwrite of the shared file would allow in the
  *    window between the check and the write. A lease whose
  *    heartbeat (sidecar if present, else the created stamp) is older
  *    than its TTL is STALE (crashed holder) and may be taken over.
  *  - takeover is decided by an atomic RENAME of the stale lease to a
  *    taker-nonce tombstone — of two takers, exactly one rename
  *    succeeds (the source vanishes for the loser), so a crashed
  *    holder's lease moves to exactly one new owner and a live
  *    holder can never be displaced by two racing takers.
  *  - `release` deletes the file only if the nonce is still ours —
  *    a holder that lost its lease to a (mis-tuned TTL) takeover
  *    must not delete the new owner's lease.
  *  - displaced-writer FENCING: [[renew]] throws when the lease file
  *    no longer carries our nonce, and [[EraseStage]] calls it before
  *    every destructive leg (stage-directory delete, each manifest
  *    leg's partition swap, the final stage cleanup) — so a holder
  *    paused past its TTL and taken over ABORTS its in-flight apply
  *    at the next leg boundary instead of racing the new owner.
  *    Work already mid-leg when the takeover lands is bounded by one
  *    table rewrite and is idempotent under the new owner's recovery.
  *
  * In-JVM, a per-root ReentrantLock fronts the file protocol, so
  * same-process threads serialize without file round-trips and
  * nested acquires (Serving.eraseUser → EraseStage.run) are
  * reentrant. The underscore prefix keeps `_lease` invisible to every
  * parquet read of the root's tables, and the mirror walk of
  * [[Replicas]] skips underscore entries, so the lease and its
  * heartbeat sidecars never land in a mirror. Mirror convergence runs
  * under this lease ([[Tiered.replicate]], [[ReplicaRouter.table]],
  * the erase paths).
  *
  * Known limit (documented, standard for lock files): rename-based
  * takeover assumes the FS renames atomically (HDFS, local, ABFS do;
  * raw S3 does not — there, back the lease with a conditional-put
  * object or DynamoDB, same interface). TTLs trade takeover latency
  * against clock skew; the default is deliberately long.
  */
object Lease {

  final class LeaseHeldException(msg: String)
    extends RuntimeException(msg)

  /** Heartbeats older than this are stale and may be taken over. */
  val DefaultTtlMs: Long = 10 * 60 * 1000L
  /** How long `acquire` waits on a LIVE foreign lease before refusing. */
  val DefaultWaitMs: Long = 60 * 1000L

  // in-JVM front lock + the nonce of the file lease each root holds
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()
  private val nonces = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def qualified(spark: SparkSession, root: String): String =
    fs(spark, root).makeQualified(new Path(root)).toString

  private def leasePath(root: String) = new Path(s"$root/_lease")

  // heartbeat sidecars are DOUBLE-BUFFERED (.0/.1, renew alternates):
  // an overwrite-create truncates the file it targets, so a single
  // sidecar would transiently read as empty mid-renew and a racing
  // staleness check would fall back to the (old) created stamp and
  // wrongly judge an actively-renewing holder stale. With two
  // buffers, the most-recently-COMPLETED stamp is always readable —
  // the writer never touches the file it finished last.
  private def hbPath(root: String, nonce: String, k: Int) =
    new Path(s"$root/_lease.hb.$nonce.$k")
  private val hbFlips = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def readSmall(spark: SparkSession, rootQ: String,
      p: Path): Option[String] =
    try {
      val in = fs(spark, rootQ).open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Effective heartbeat of a lease: the freshest parseable sidecar
    * stamp, else the lease file's created stamp.
    */
  private def heartbeatOf(spark: SparkSession, rootQ: String,
      nonce: String, created: Long): Long =
    (0 to 1).flatMap(k => readSmall(spark, rootQ, hbPath(rootQ, nonce, k))
      .flatMap(_.trim.toLongOption))
      .foldLeft(created)(math.max)

  /** Liveness with a fast path: a lease created within the TTL is
    * live without any sidecar read — the common poll (awaitQuiesced
    * behind a live writer, acquire's wait loop) costs zero extra GETs.
    */
  private def isLive(spark: SparkSession, rootQ: String, nonce: String,
      created: Long, ttlMs: Long): Boolean = {
    val now = System.currentTimeMillis()
    now - created <= ttlMs ||
      now - heartbeatOf(spark, rootQ, nonce, created) <= ttlMs
  }

  private def deleteHb(spark: SparkSession, rootQ: String, nonce: String): Unit =
    (0 to 1).foreach(k => fs(spark, rootQ).delete(hbPath(rootQ, nonce, k), false))

  private def self: String = {
    val host = java.net.InetAddress.getLocalHost.getHostName
    s"$host:${ProcessHandle.current().pid()}"
  }

  /** Is a LIVE foreign lease present on `root`? (Observability +
    * the read-path recovery guard: a reader seeing a live lease
    * leaves recovery to the writer that holds it.)
    */
  def heldByOther(spark: SparkSession, root: String,
      ttlMs: Long = DefaultTtlMs): Boolean = {
    val key = qualified(spark, root)
    readLease(spark, key) match {
      case Some((_, nonce, created)) =>
        nonce != nonces.get(key) && isLive(spark, key, nonce, created, ttlMs)
      case None => false
    }
  }

  private def readLease(spark: SparkSession,
      rootQ: String): Option[(String, String, Long)] =
    readSmall(spark, rootQ, leasePath(rootQ))
      .map(_.linesIterator.nextOption().getOrElse("").split("\t", -1))
      .flatMap {
        // corrupt/half-written: treat as absent
        case Array(o, n, c) => c.toLongOption.map((o, n, _))
        case _ => None
      }

  // always an EXCLUSIVE create: the lease file is immutable once
  // created — heartbeats live in per-nonce sidecars (see renew)
  private def writeLease(spark: SparkSession, rootQ: String, owner: String,
      nonce: String): Unit = {
    val f = fs(spark, rootQ)
    val out = f.create(leasePath(rootQ), false)
    try out.write(
      s"$owner\t$nonce\t${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
  }

  /** Take the root's write lease; blocks up to `waitMs` behind an
    * in-JVM holder or a live foreign lease, then refuses with
    * [[LeaseHeldException]]. Reentrant within a thread.
    */
  def acquire(spark: SparkSession, root: String, owner: String,
      ttlMs: Long = DefaultTtlMs, waitMs: Long = DefaultWaitMs): Unit = {
    val key = qualified(spark, root)
    val lock = locks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!lock.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new LeaseHeldException(
        s"lease on $root held by another thread of this process " +
          s"(waited ${waitMs}ms)")
    if (lock.getHoldCount > 1) return // nested acquire: file already ours
    try {
      val f = fs(spark, key)
      val nonce = java.util.UUID.randomUUID().toString
      val deadline = System.currentTimeMillis() + waitMs
      var acquired = false
      while (!acquired) {
        try {
          writeLease(spark, key, s"$owner@$self", nonce)
          acquired = true
        } catch {
          case _: java.io.IOException => // exists (or create race): inspect
            readLease(spark, key) match {
              case Some((_, staleNonce, created))
                  if !isLive(spark, key, staleNonce, created, ttlMs) =>
                // stale: atomic rename decides which taker wins — but
                // the rename must be VERIFIED before destroying what
                // it caught: a slow taker's rename can land after a
                // faster taker already consumed the stale lease and
                // re-created a FRESH one, and blindly deleting the
                // tombstone would then destroy the winner's live
                // lease, leaving two processes believing they
                // acquired. Nonce mismatch → put it back and retry.
                // SECOND staleness confirmation immediately before
                // the rename: between the first read and here another
                // taker may already have consumed the stale lease and
                // created a fresh one, and renaming THAT away —
                // however briefly, pending the mismatch restore below
                // — opens a window where a third acquirer's exclusive
                // create succeeds while the displaced fresh holder
                // still believes it holds. The re-read shrinks that
                // window to the single read→rename gap; write bodies
                // close the remainder via their renew fences.
                val confirmed = readLease(spark, key).exists {
                  case (_, n2, c2) =>
                    n2 == staleNonce && !isLive(spark, key, n2, c2, ttlMs)
                }
                val tomb = new Path(s"$key/_lease.takeover.$nonce")
                if (confirmed && f.rename(leasePath(key), tomb)) {
                  val tombNonce = readSmall(spark, key, tomb)
                    .map(_.split("\t", -1)).collect {
                      case Array(_, n, _) => n
                    }
                  if (tombNonce.contains(staleNonce)) {
                    f.delete(tomb, false)
                    deleteHb(spark, key, staleNonce)
                  } else {
                    // we caught a fresh lease, not the stale one:
                    // restore it and retry as live. If the restore
                    // rename fails (someone created a new lease in
                    // the gap), LEAVE the tombstone — it is inert
                    // underscore-prefixed debris, and destroying the
                    // displaced owner's record buys nothing; that
                    // owner is fenced at its next renew either way.
                    f.rename(tomb, leasePath(key))
                  }
                }
              case other =>
                if (System.currentTimeMillis() >= deadline)
                  throw new LeaseHeldException(
                    s"lease on $root held by " +
                      s"${other.map(_._1).getOrElse("<unreadable>")} " +
                      s"(live; waited ${waitMs}ms)")
                Thread.sleep(100) // live foreign lease, or vanished
            }
        }
      }
      nonces.put(key, nonce)
    } catch { case e: Throwable => lock.unlock(); throw e }
  }

  /** READ BARRIER: wait until no live FOREIGN lease holds `root`,
    * then return — the reader-side half of the single-writer
    * discipline. A dynamic-partition overwrite (incremental refresh,
    * erase) rewrites partitions in place, so a fresh read that lists
    * files mid-swap could see a mix of generations; waiting for the
    * writer's release means the listing sees either the pre-write or
    * the post-write layout, never a mix. A lease we hold OURSELVES
    * passes immediately (a writer's own queries never self-block),
    * and a stale lease (crashed writer) passes too — its staged
    * manifest, if any, is what read-path recovery completes. Throws
    * [[LeaseHeldException]] after `waitMs` behind a live writer.
    */
  def awaitQuiesced(spark: SparkSession, root: String,
      waitMs: Long = DefaultWaitMs, ttlMs: Long = DefaultTtlMs): Unit = {
    val deadline = System.currentTimeMillis() + waitMs
    while (heldByOther(spark, root, ttlMs)) {
      if (System.currentTimeMillis() >= deadline)
        throw new LeaseHeldException(
          s"read barrier on $root: a live writer held its lease for " +
            s"${waitMs}ms")
      Thread.sleep(100)
    }
  }

  /** Re-stamp the heartbeat mid-work (long erases/compactions), and
    * the FENCE: throws when the lease file no longer carries our
    * nonce. The stamp goes to our per-nonce sidecar, never the shared
    * lease file — so even if a TTL takeover lands between this
    * check and the write, the displaced holder scribbles only on its
    * own dead sidecar; the new owner's lease is untouchable by
    * construction (the filename embeds the nonce).
    */
  def renew(spark: SparkSession, root: String): Unit = {
    val key = qualified(spark, root)
    val nonce = nonces.get(key)
    require(nonce != null, s"renew without holding the lease on $root")
    readLease(spark, key) match {
      case Some((_, n, _)) if n == nonce =>
        // alternate buffers so the stamp completed LAST is never the
        // one being truncated (see hbPath)
        val k = hbFlips.merge(key, 1, (a, _) => Integer.valueOf(a ^ 1))
        val out = fs(spark, key).create(hbPath(key, nonce, k), true)
        try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
        finally out.close()
      case other => throw new LeaseHeldException(
        s"lease on $root lost before renew (now: $other)")
    }
  }

  /** Drop the lease (outermost release deletes the file — and only
    * if the nonce is still ours).
    */
  def release(spark: SparkSession, root: String): Unit = {
    val key = qualified(spark, root)
    val lock = locks.get(key)
    require(lock != null && lock.isHeldByCurrentThread,
      s"release without holding the lease on $root")
    if (lock.getHoldCount == 1) {
      val nonce = nonces.remove(key)
      readLease(spark, key) match {
        case Some((_, n, _)) if n == nonce =>
          fs(spark, key).delete(leasePath(key), false)
        case _ => // taken over or already gone: not ours to delete
      }
      // our heartbeat sidecars are ours whatever happened to the lease
      if (nonce != null) deleteHb(spark, key, nonce)
    }
    lock.unlock()
  }

  /** acquire → body → release; the shape every write path uses. */
  def withLease[T](spark: SparkSession, root: String, owner: String,
      ttlMs: Long = DefaultTtlMs, waitMs: Long = DefaultWaitMs)(body: => T): T = {
    acquire(spark, root, owner, ttlMs, waitMs)
    try body finally release(spark, root)
  }
}
