package graft.serving

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Replica-group routing — the X6 analog (reference: Pinot replica
  * groups, which pin each query to ONE copy of the segments so
  * tenants/query classes don't contend on the same servers). A Spark
  * library over shared storage has no servers to pin, but the same
  * isolation exists at the layer Spark actually touches: the
  * DIRECTORY. This is the one mirror mechanism of the serving layer:
  * the [[Tiered]] hot/cold/landing tiers and the routed [[Serving]]
  * tables ([[ReplicaRouter]]) both mirror through it. A mirrored set
  * is keyed by (root, name):
  * {{{
  *   <root>/<name>                              the primary
  *   <root>/_replicas/<name>/replica=<i>/...    byte-identical copies
  *   <root>/_replicas/<name>/replica=<i>/_replica_manifest
  * }}}
  * The underscore prefix keeps the whole area invisible to parquet
  * scans of the root, and the root's single-writer [[Lease]] governs
  * the mirrors like every other write under it.
  *
  * Mirrors converge INCREMENTALLY ([[converge]]): the primary's
  * listing is diffed against each mirror's ACTUAL files (one metadata
  * walk, no data read — which is also what lets a damaged mirror HEAL:
  * a deleted/truncated segment re-copies on the next convergence
  * instead of staying a permanent failover), and only what the mirror
  * lacks copies (one cluster job fans files across executors;
  * segments copy byte-identical, so sort order, row-group stats and
  * bloom filters carry over). A steady-state convergence costs
  * O(changed files) in DATA, never O(table).
  *
  * Each mirror's manifest lists (relative path, size) per file plus
  * the root's generation token it was converged under (`#gen\t<token>`,
  * the [[RootCache]] disk token). A read ([[servingCopy]]) serves a
  * mirror only when its files verify against the manifest, and the
  * manifest either matches the live primary listing or records the
  * CURRENT token — every legitimate write moves the token before it
  * touches files, so a current-token mirror whose primary drifted
  * means the primary is damaged, and the mirror is the good copy.
  *
  * What this does NOT pretend to do: balance CPU across executors
  * (Spark's scheduler owns that). What it genuinely gives a 100 TB
  * deployment: object-store rate-limit isolation per tenant class
  * (S3 prefix throttling is per-prefix), blast-radius containment for
  * corrupted/deleted copies, and a second copy of every routed file.
  */
object Replicas {

  /** The replica a routing key pins to: deterministic, uniform. */
  def replicaFor(key: String, n: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), n)

  /** Where the mirrors of `<root>/<name>` live. */
  def area(root: String, name: String): String = s"$root/_replicas/$name"

  private val Manifest = "_replica_manifest"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A directory tree's (relative path → size) listing — a set's
    * content identity, one recursive walk. Underscore- and
    * dot-prefixed names (`_SUCCESS`, the manifest, lease and stage
    * debris) are skipped unless `keep` holds for the name.
    */
  private def listing(f: FileSystem, dir: String,
      keep: String => Boolean): Seq[(String, Long)] = {
    val base = f.makeQualified(new Path(dir))
    def visible(n: String) =
      (!n.startsWith("_") && !n.startsWith(".")) || keep(n)
    def walk(p: Path): Seq[(String, Long)] =
      f.listStatus(p).toSeq
        .filter(s => visible(s.getPath.getName))
        .flatMap(s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq((s.getPath.toString.stripPrefix(base.toString)
            .stripPrefix("/"), s.getLen)))
    if (!f.exists(base)) Nil else walk(base)
  }

  private def sameFiles(a: Seq[(String, Long)], b: Seq[(String, Long)]) =
    a.sorted == b.sorted

  /** A mirror's manifest: the generation token it was converged under
    * ("" for manifests predating the token) + its (rel, size)
    * entries. Lines starting with `#` are metadata; unknown keys are
    * ignored.
    */
  private def readManifest(f: FileSystem,
      mirror: String): Option[(String, Seq[(String, Long)])] = {
    val p = new Path(s"$mirror/$Manifest")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      val gen = lines.collectFirst {
        case l if l.startsWith("#gen\t") => l.stripPrefix("#gen\t")
      }.getOrElse("")
      Some((gen, lines.filterNot(_.startsWith("#")).map { l =>
        val t = l.lastIndexOf('\t')
        (l.substring(0, t), l.substring(t + 1).toLong)
      }))
    }
  }

  /** Atomic manifest swap: tmp + delete-old + rename. A crash between
    * the delete and the rename leaves the mirror manifest-less —
    * readers fail it over, the next convergence rebuilds it from the
    * actual-file diff.
    */
  private def writeManifest(f: FileSystem, mirror: String, gen: String,
      files: Seq[(String, Long)]): Unit = {
    val text = (if (gen.isEmpty) "" else s"#gen\t$gen\n") +
      files.map { case (rel, len) => s"$rel\t$len" }.sorted
        .mkString("", "\n", "\n")
    val tmp = new Path(s"$mirror/.$Manifest.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    f.delete(new Path(s"$mirror/$Manifest"), false)
    require(f.rename(tmp, new Path(s"$mirror/$Manifest")),
      s"failed to publish mirror manifest for $mirror")
  }

  /** Do `mirror`'s files hold every manifest entry at its size? */
  private def intact(f: FileSystem, mirror: String,
      entries: Seq[(String, Long)], keep: String => Boolean): Boolean = {
    val actual = listing(f, mirror, keep).toMap
    entries.forall { case (rel, len) => actual.get(rel).contains(len) }
  }

  /** A set's mirror count as it stands on disk: one past the highest
    * `replica=<i>` index (0 = no mirrors), so a lost copy neither
    * reshuffles every key's pin nor escapes convergence.
    */
  private def mirrorCount(f: FileSystem, root: String, name: String): Int = {
    val a = new Path(area(root, name))
    if (!f.exists(a)) 0
    else f.listStatus(a).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .flatMap(d => if (d.startsWith("replica=")) d.stripPrefix("replica=").toIntOption else None)
      .maxOption.fold(0)(_ + 1)
  }

  /** The mirror directory a read of `<root>/<name>` serves from, or
    * None for the primary. The copy `key` hashes to is tried first,
    * then the other mirrors in turn:
    *
    *  - a mirror whose manifest matches the live primary listing and
    *    whose files verify serves — the steady state;
    *  - a mirror that verifies against its own manifest AND records
    *    the CURRENT generation token serves even when the primary
    *    listing has drifted: with no intervening write, drift means
    *    the PRIMARY is damaged — a lost/truncated segment — and the
    *    converged mirror is the good copy (freshness wins over
    *    replication, but damage is not freshness);
    *  - anything else (stale after a write, damaged copy) is skipped.
    */
  private[graft] def servingCopy(spark: SparkSession, root: String,
      name: String, key: String,
      keep: String => Boolean = _ => false): Option[String] = {
    val f = fs(spark, root)
    val n = mirrorCount(f, root, name)
    if (n == 0) None
    else {
      val primary = listing(f, s"$root/$name", keep)
      val gen = RootCache.token(spark, root)
      val start = replicaFor(key, n)
      (0 until n).map(d => s"${area(root, name)}/replica=${(start + d) % n}")
        .find(dir => readManifest(f, dir).exists { case (mGen, entries) =>
          (sameFiles(entries, primary) || (mGen.nonEmpty && mGen == gen)) &&
            intact(f, dir, entries, keep)
        })
    }
  }

  /** Converge `n` mirrors of `<root>/<name>` to the primary's current
    * content; the caller holds the root's [[Lease]]. Per mirror: copy
    * what its ACTUAL files lack, commit the new manifest atomically
    * with the current generation token, then sweep files the manifest
    * no longer lists. Before converging, a DAMAGED PRIMARY heals from
    * its mirrors ([[healPrimary]]). Crash safety is read-side: a
    * mirror without a current manifest fails verification in
    * [[servingCopy]] and the route falls through; the next
    * convergence is idempotent. Returns the per-mirror file counts
    * copied (all-zero = mirrors were already current).
    */
  private[graft] def converge(spark: SparkSession, root: String,
      name: String, n: Int, keep: String => Boolean = _ => false): Seq[Int] = {
    val f = fs(spark, root)
    val primaryQ = f.makeQualified(new Path(s"$root/$name")).toString
    // the area holds mirrors only: anything else in it (crash debris,
    // a superseded layout's copies) would keep rows at rest unmanaged
    val areaP = new Path(area(root, name))
    if (f.exists(areaP)) f.listStatus(areaP).map(_.getPath)
      .filterNot(_.getName.startsWith("replica=")).foreach(f.delete(_, true))
    healPrimary(spark, f, root, name, n, keep)
    val files = listing(f, s"$root/$name", keep)
    val want = files.toMap
    val gen = RootCache.token(spark, root)
    (0 until n).map { i =>
      val mirror = s"${area(root, name)}/replica=$i"
      val actual = listing(f, mirror, keep).toMap
      val adds = files.filter { case (rel, len) => !actual.get(rel).contains(len) }
      copy(spark, adds.map { case (rel, _) => (s"$primaryQ/$rel", s"$mirror/$rel") })
      // current = same entries AND the same generation token recorded
      // (a content-identical manifest from a previous generation still
      // rewrites, so the token authorizing the damage inference stays
      // fresh)
      val current = readManifest(f, mirror).exists { case (mGen, entries) =>
        mGen == gen && sameFiles(entries, files) }
      if (adds.nonEmpty || !current) {
        writeManifest(f, mirror, gen, files)
        // dropped dates, erased rewrites, crashed-update orphans
        actual.keysIterator.filterNot(want.contains)
          .foreach(rel => f.delete(new Path(s"$mirror/$rel"), false))
      }
      adds.size
    }
  }

  /** One cluster job copies every (from, to) file pair; executors
    * resolve filesystems from the DRIVER's configuration (credentials,
    * custom fs impls), not a bare classpath default.
    */
  private def copy(spark: SparkSession, pairs: Seq[(String, String)]): Unit =
    if (pairs.nonEmpty) {
      val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(pairs, math.min(pairs.size, 64))
        .foreach { case (from, to) =>
          val c = serConf.value
          val fp = new Path(from)
          val tp = new Path(to)
          org.apache.hadoop.fs.FileUtil.copy(
            fp.getFileSystem(c), fp, tp.getFileSystem(c), tp, false, true, c)
          ()
        }
    }

  /** Restore PRIMARY files lost to damage from a current-generation
    * mirror, before convergence would otherwise propagate the loss
    * into every copy. The inference is [[servingCopy]]'s: a mirror
    * manifest recording the CURRENT token that lists a file the
    * primary lacks (or holds at another size) can only mean the
    * primary lost it. Only files the mirror actually holds at
    * manifest size copy back; anything else waits for an operator.
    */
  private def healPrimary(spark: SparkSession, f: FileSystem, root: String,
      name: String, n: Int, keep: String => Boolean): Unit = {
    val gen = RootCache.token(spark, root)
    if (gen.nonEmpty) {
      val primary = listing(f, s"$root/$name", keep).toMap
      var healed = false
      (0 until n).foreach { i =>
        val mirror = s"${area(root, name)}/replica=$i"
        readManifest(f, mirror) match {
          case Some((mGen, entries)) if mGen == gen =>
            val actual = listing(f, mirror, keep).toMap
            entries.foreach { case (rel, len) =>
              if (!primary.get(rel).contains(len) && actual.get(rel).contains(len)) {
                org.apache.hadoop.fs.FileUtil.copy(f, new Path(s"$mirror/$rel"),
                  f, new Path(s"$root/$name/$rel"), false, true,
                  spark.sparkContext.hadoopConfiguration)
                healed = true
              }
            }
          case _ => () // stale/absent manifest: no heal authority
        }
      }
      if (healed) RootCache.invalidate(spark, root)
    }
  }

  /** Re-converge every existing mirror set under `<root>/_replicas`
    * to its primary, keeping each set's on-disk mirror count; a set
    * whose primary is no longer `live` goes with it. The deletion
    * paths call this inside their lease, so a compliance delete
    * leaves every copy in the same call. A LONE mirror (n = 1, below
    * the routing floor) still converges: it is unreachable by routing
    * but would hold deleted rows AT REST.
    */
  private[serving] def convergeAll(spark: SparkSession, root: String,
      live: String => Boolean,
      keep: String => String => Boolean = _ => _ => false): Unit = {
    val f = fs(spark, root)
    val all = new Path(s"$root/_replicas")
    if (f.exists(all))
      f.listStatus(all).toSeq.filter(_.isDirectory).map(_.getPath.getName).foreach { name =>
        val n = mirrorCount(f, root, name)
        if (!live(name)) f.delete(new Path(area(root, name)), true)
        else if (n >= 1) converge(spark, root, name, n, keep(name))
      }
  }
}
