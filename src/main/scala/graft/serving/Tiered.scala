package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tiered storage for a date-partitioned fact table — the Pinot
  * tiered-storage / Druid cold-tier analog (pinot tableIndexConfig
  * tierConfigs semantics: segments older than an age cutoff RELOCATE
  * to a cheaper tier; queries span both tiers transparently).
  *
  * Layout under one managed root:
  * {{{
  *   <root>/hot/p_date=YYYY-MM-DD/...   ingest-grain layout
  *                                      (TableManager.writePartitioned:
  *                                      sorted files, optional bloom)
  *   <root>/cold/p_date=YYYY-MM-DD/...  ONE zstd-compressed file per
  *                                      date, same within-file sort
  *   <root>/_erase_stage, <root>/_lease staged commits + single-writer
  * }}}
  *
  * Why this matters at 100 TB: the hot tier stays small enough for
  * low-latency serving (bloom filters, small sorted files, page-cache
  * residency), while years of history compact to one large
  * aggressively-compressed file per date on the cold tier — fewer
  * listing calls, better scan bandwidth, cheaper bytes. Time-range
  * predicates prune at the DIRECTORY level on both tiers (p_date
  * partition pruning), so a recent-window query never opens a cold
  * file and a historical scan never touches hot segments.
  *
  * [[demote]] is crash-safe the same way every maintenance op here
  * is: both table rewrites — the cold-side swap-in (which also folds
  * any rows the date already had on cold: a backfilled date re-demotes
  * as the UNION, never a replacement) and the hot-side directory
  * drops — commit under ONE [[EraseStage]] manifest, so a crash at
  * any point either leaves both tiers untouched or recovers to the
  * completed relocation (read-path recovery in [[read]] completes it
  * on the next read, like every index here). A reader never sees a
  * date on neither tier; the only transient state is a date on both,
  * confined by the single-writer lease to the apply window. [[read]]
  * runs the lease barrier once per root per GENERATION (the frame
  * cache below) and returns a LAZY DataFrame whose file listing
  * happens at action time, so the guarantee is "a handle taken and
  * consumed while no writer holds the lease never sees the window" —
  * consume handles promptly after [[read]] (the same discipline
  * [[Serving.readTable]] documents), don't park one across a
  * maintenance tick.
  */
object Tiered {

  /** [[absorb]]'s "operator must evolve the registry first" refusal —
    * a DEDICATED type so [[Maintenance]]'s Tier tick can tolerate
    * exactly this (fold what's clean, log, keep the lifecycle
    * running) while every OTHER `IllegalArgumentException` from the
    * staged-commit machinery (movein rename failure, staged/
    * destination both-exist, manifest-version refusal) propagates
    * loudly as the genuine failure it is.
    */
  final class AbsorbBlockedException(msg: String)
    extends IllegalArgumentException(msg)

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One tier's rows, SCHEMA-EVOLUTION-AWARE: when the tiered root
    * carries an [[graft.tables.Evolve]] registry (register it at the
    * ROOT, not per tier), every read — serving, demote staging, erase
    * staging — goes through the registered schema, one fetch, no
    * footer sweep. Without it, a plain parquet read infers the schema
    * from ONE file's footer, and a column added mid-life would be
    * silently DROPPED from any read whose sampled file predates it —
    * a demote would then bake that loss into the cold tier. With the
    * registry, demote instead materializes the registered defaults
    * into the relocated files (the archive normalizes itself, and the
    * value every reader sees is unchanged — defaultNullValue
    * semantics either way).
    */
  private def tierFrame(spark: SparkSession, root: String,
      tier: String): DataFrame =
    if (graft.tables.Evolve.hasRegistry(spark, root))
      graft.tables.Evolve.readAt(spark, root, s"$root/$tier")
    else spark.read.parquet(s"$root/$tier")

  /** A tier exists AND holds at least one partition directory — a
    * fully-demoted hot tier is an empty directory whose parquet read
    * would fail schema inference, not an error state.
    */
  private def liveTier(spark: SparkSession, root: String,
      tier: String): Boolean = {
    val f = fs(spark, root)
    val p = new Path(s"$root/$tier")
    f.exists(p) && f.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Build the tiered table from scratch: everything lands HOT (fresh
    * ingest is hot by definition); [[demote]] relocates. `sortCols` +
    * `bloomCol` define the hot layout and the sort carries to cold.
    */
  def build(spark: SparkSession, df: DataFrame, root: String, tsCol: String,
      sortCols: Seq[String], bloomCol: Option[String] = None): Unit =
    Lease.withLease(spark, root, "tiered-build") {
      EraseStage.recover(spark, root)
      val f = fs(spark, root)
      f.delete(new Path(s"$root/cold"), true)
      f.delete(new Path(s"$root/_replicas"), true)
      // a REBUILD resets the streaming lifecycle too: a stale absorb
      // watermark would silently sweep a fresh pipeline's first
      // batches (ids restart at 0 ≤ old wm) without folding them —
      // and stale erase tombstones would re-filter them (batch-id
      // windows from the previous lifecycle cover a restarted
      // pipeline's low ids)
      f.delete(new Path(landingDir(root)), true)
      f.delete(new Path(s"$root/absorb_wm"), true)
      f.delete(new Path(eraseKeyDir(root)), true)
      // fence (the Lease.renew displaced-writer discipline): a holder
      // paused past its TTL and taken over must not run this
      // destructive write body against the new owner
      Lease.renew(spark, root)
      // generation token moves BEFORE the write ([[RootCache]]): any
      // mirror converged earlier is instantly non-current, so the
      // primary-damage inference can never mistake this rewrite for
      // damage, and foreign readers' TTL probes see the new token
      RootCache.bumpToken(spark, root)
      graft.tables.TableManager.writePartitioned(
        df, s"$root/hot", tsCol, sortCols, bloomCol)
      RootCache.invalidate(spark, root)
    }

  /** Append a batch into the HOT tier (live ingest always lands hot,
    * whatever its event time — a late backfill for an already-demoted
    * date sits hot until the next [[demote]] folds it into that
    * date's cold file as a union). Same sorted layout per new file.
    */
  def ingest(spark: SparkSession, df: DataFrame, root: String, tsCol: String,
      sortCols: Seq[String], bloomCol: Option[String] = None): Unit =
    Lease.withLease(spark, root, "tiered-ingest") {
      EraseStage.recover(spark, root)
      // fence: this append runs under the lease but outside
      // EraseStage's per-leg renew discipline, so without its own
      // renew a displaced holder (TTL takeover during a long pause)
      // would run the whole write unfenced against the new owner
      Lease.renew(spark, root)
      RootCache.bumpToken(spark, root) // token moves before the write
      graft.tables.TableManager.writePartitioned(
        df, s"$root/hot", tsCol, sortCols, bloomCol,
        mode = org.apache.spark.sql.SaveMode.Append)
      RootCache.invalidate(spark, root)
    }

  /** Where a STREAMING pipeline lands its batch-keyed raw output
    * before [[absorb]] folds it into the hot tier — under the tiered
    * root so one lease governs the whole lifecycle, but outside
    * `hot`/`cold` so queries never see unabsorbed batches.
    */
  def landingDir(root: String): String = s"$root/landing"

  // A batch's commit marker in the landing dir. Underscore-prefixed
  // and free of '=': Spark's file listing hides a `_` name only when
  // it holds no '=', so a parquet read of the landing never sees it.
  private val MarkerPrefix = "_done_batch_"

  private def landingMarker(root: String, batchId: Long) =
    new Path(s"${landingDir(root)}/$MarkerPrefix$batchId")

  /** The batch id a landing entry's name marks as committed, if it is
    * a commit marker.
    */
  private def markedBatch(name: String): Option[Long] =
    if (name.startsWith(MarkerPrefix)) name.stripPrefix(MarkerPrefix).toLongOption
    else None

  /** Land one micro-batch exactly-once: batch-id dynamic-partition
    * overwrite (a replay rewrites its own partition), bracketed by
    * its commit MARKER file — deleted BEFORE the write begins,
    * created strictly after it returns. [[absorb]] folds only marked
    * batches, so a maintenance tick on another thread can never fold
    * a batch whose files are mid-write: neither a first landing (no
    * marker yet) nor a REPLAYED one (the previous landing's marker is
    * removed before the overwrite touches the old files — without
    * that, a tick could fold the partition mid-rewrite and then sweep
    * the fully-replayed rows as already-absorbed debris, losing
    * them). The marker's name starts with `_` and holds no `=`, so
    * parquet directory reads of the landing never see it.
    */
  def landBatch(batch: DataFrame, batchId: Long, root: String): Unit = {
    val f = fs(batch.sparkSession, root)
    f.delete(landingMarker(root, batchId), false)
    graft.streaming.StreamingPipeline.writeBatchIdempotent(
      batch, batchId, landingDir(root))
    // marker only if the write produced the partition directory: an
    // empty micro-batch's dynamic overwrite writes none, and a
    // directory-less marker would read as sweep debris at the next
    // tick — probed with one FS call instead of an extra Spark action
    // (batch.isEmpty) on the ingest hot path
    if (f.exists(new Path(s"${landingDir(root)}/batch_id=$batchId"))) {
      val out = f.create(landingMarker(root, batchId), true)
      out.close()
    }
  }

  private def eraseKeyDir(root: String) = s"$root/_erase_keys"

  private case class EraseKey(col: String, value: Long, maxBatchId: Long)

  /** The erase tombstones not yet expired by the absorb watermark —
    * `column \t value \t max-batch-id` sidecars under `_erase_keys/`
    * (underscore-prefixed: invisible to parquet reads), one per
    * [[eraseUser]] call that ran while the landing lifecycle was
    * active.
    */
  private def activeEraseKeys(spark: SparkSession,
      root: String): Seq[(Path, EraseKey)] = {
    val f = fs(spark, root)
    val dir = new Path(eraseKeyDir(root))
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.trim.split("\t", -1) match {
        case Array(c, v, m) =>
          for (vv <- v.toLongOption; mm <- m.toLongOption)
            yield (p, EraseKey(c, vv, mm))
        case _ => None
      }
    }
  }

  /** Re-filter rows for users erased AFTER their batch landed — the
    * landing-replay seam of right-to-be-forgotten: [[landBatch]] is
    * deliberately lease-less (the ingest hot path), so a streaming
    * replay of a batch [[eraseUser]] already scrubbed can re-land the
    * user's pre-erase rows after the erase manifest commits, and an
    * in-flight (unmarked) batch at erase time commits its pre-erase
    * rows only later. Each erase records a tombstone (column, value,
    * max landing batch id at erase time), and the fold re-filters
    * rows whose batch id falls inside that window — a pre-erase row
    * can never fold, while batches beyond the window (genuinely new
    * data, possibly the same user returning) fold untouched. The
    * batch id comes from the pinned file's path (the fold reads
    * explicit `batch_id=N` files, and no exchange sits between the
    * scan and this filter). Tombstones self-expire once the watermark
    * passes their window (see [[absorb]]).
    */
  private def scrubErased(spark: SparkSession, root: String,
      landRows: DataFrame): DataFrame = {
    val keys = activeEraseKeys(spark, root).map(_._2)
      .filter(k => landRows.columns.contains(k.col))
    if (keys.isEmpty) landRows
    else {
      val b = regexp_extract(input_file_name(), "batch_id=(\\d+)", 1)
        .cast("long")
      keys.foldLeft(landRows) { (df, k) =>
        // null-safe equality: a null-id row is never the erased user
        df.filter(!(b <= lit(k.maxBatchId) && (col(k.col) <=> lit(k.value))))
      }
    }
  }

  private def absorbWatermark(spark: SparkSession, root: String): Long = {
    val p = new Path(s"$root/absorb_wm")
    if (!fs(spark, root).exists(p)) -1L
    else spark.read.parquet(p.toString)
      .select(col("max_batch_id")).head().getLong(0)
  }

  /** Fold every landed-AND-MARKED batch newer than the absorb
    * watermark into the HOT tier — the streaming half of the Pinot
    * realtime→offline relocation, run from the maintenance tick. The
    * landing zone is written exactly-once by the pipeline
    * ([[landBatch]]: batch-id dynamic overwrite + commit marker, so a
    * tick racing an in-flight landing write skips the unmarked
    * batch); this fold is exactly-once too because the new rows'
    * hot-tier APPEND (an [[EraseStage.MoveIn]]: files staged in final
    * sorted+bloom'd form, then idempotently RENAMED into the date
    * directories — a re-applied move is a per-file no-op) and the
    * watermark bump (an idempotent Overwrite) commit under ONE staged
    * manifest: a crash at any point either leaves the watermark
    * unmoved (the same batches re-absorb identically next tick) or
    * recovers to the complete fold (a replayed landing write for an
    * already-absorbed batch id lands ≤ watermark and is swept, never
    * re-folded). Returns the absorbed batch ids.
    *
    * Cost shape at scale: one tick costs O(new batches) — existing
    * hot files are never read or rewritten (the move-in append), so
    * an hourly tick appends the hour rather than rewriting the day
    * 24 times. Each tick adds at most one sorted, bloom-filtered file
    * per touched date; fragmentation is bounded by ticks-per-day and
    * collapses at [[demote]] (or a
    * [[graft.serving.EraseStage.compactFragmented]]-style hot
    * compaction). With a schema registry at the root, landed batches
    * conform to the registered schema before folding (defaults
    * filled), so an evolution mid-stream cannot bake a column drop
    * into the hot tier.
    */
  def absorb(spark: SparkSession, root: String, tsCol: String,
      sortCols: Seq[String], bloomCol: Option[String] = None): Seq[Long] =
    Lease.withLease(spark, root, "tiered-absorb") {
      EraseStage.recover(spark, root)
      val f = fs(spark, root)
      val landing = new Path(landingDir(root))
      if (!f.exists(landing)) Seq.empty
      else {
        val wm = absorbWatermark(spark, root)
        // only batches whose COMMIT MARKER exists fold: a batch whose
        // landing write is in flight on the pipeline thread has no
        // marker yet and is left for the next tick ([[landBatch]]).
        // A marker WITHOUT its directory is unambiguous sweep debris
        // (landBatch writes dir-then-marker; only a crash between a
        // sweep's dir and marker deletes leaves one) — cleaned here
        // or it would accumulate forever.
        val (batchIds, orphans) = f.listStatus(landing).toSeq
          .flatMap(st => markedBatch(st.getPath.getName))
          .sorted
          .partition(b => f.exists(new Path(s"${landingDir(root)}/batch_id=$b")))
        orphans.foreach(b => f.delete(landingMarker(root, b), false))
        // already-absorbed debris (a replayed landing write after its
        // batch was folded): swept, never re-folded
        batchIds.filter(_ <= wm).foreach { b =>
          f.delete(new Path(s"${landingDir(root)}/batch_id=$b"), true)
          f.delete(landingMarker(root, b), false)
        }
        // erase-key tombstones whose whole window is ≤ the watermark
        // are spent: every batch id they cover can only be swept
        // above, never folded again
        activeEraseKeys(spark, root).foreach { case (p, k) =>
          if (k.maxBatchId <= wm) f.delete(p, false)
        }
        val fresh = batchIds.filter(_ > wm)
        if (fresh.isEmpty) Seq.empty
        else {
          // pin each fresh batch's parquet FILES now, under the same
          // listing the marker check used: the fold below reads these
          // exact paths, so a landing REPLAY racing this tick (it
          // unmarks, rewrites, re-marks without the lease) either
          // leaves every pinned file readable — complete OLD content,
          // which a deterministic replay makes identical to the new —
          // or vanishes one mid-read and the staged write fails
          // BEFORE the manifest, leaving the tick to retry. A partial
          // mix of old and new files is impossible: the rewrite's
          // files have fresh names the pinned set never contains.
          val files: Map[Long, Seq[String]] = fresh.map { b =>
            b -> f.listStatus(new Path(s"${landingDir(root)}/batch_id=$b"))
              .map(_.getPath).filter(_.getName.endsWith(".parquet"))
              .map(_.toString).toSeq
          }.toMap
          // fold only the CONTIGUOUS prefix of batches the registry
          // can represent: one fleet-ahead producer batch (columns
          // the registry lacks) must neither silently drop its data
          // nor block every later-landed batch from... it does block
          // later batches — watermark contiguity requires it — but it
          // must not abort the whole tick's demote/retention legs
          // (Maintenance catches the refusal), and earlier clean
          // batches still fold. Empty batch dirs (an eraseUser that
          // emptied one) are foldable by definition.
          val registered =
            if (!graft.tables.Evolve.hasRegistry(spark, root)) None
            else Some(graft.tables.Evolve
              .registeredSchema(spark, root).fieldNames.toSet)
          // ONE mergeSchema read over every fresh pinned file is both
          // the schema gate and (on the clean path) the fold's input —
          // bounded by the batches since the last tick, and it
          // replaces the batches-per-tick per-batch footer probes the
          // first cut paid (at a 10 s trigger and an hourly tick,
          // ~360 footer reads a single read now covers). mergeSchema
          // refuses a MIXED-TYPE landing (INT vs BIGINT for the same
          // column — exactly what a widening rollout produces while
          // pre-widening producers still land the narrow type), which
          // the registry can conform even though the merge cannot:
          // that case falls back to the per-batch path below (bounded
          // by batches-per-tick, and only during the rollout window).
          // Without a registry there is nothing to conform TO, so the
          // merge failure propagates loudly.
          val allFiles = fresh.flatMap(files(_))
          val merged =
            if (allFiles.isEmpty) None
            else try Some(spark.read.option("mergeSchema", "true")
              .parquet(allFiles: _*))
            catch {
              case e: org.apache.spark.SparkException
                  if registered.isDefined &&
                    Option(e.getMessage)
                      .exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
                None
            }
          // per-batch probes run only on the BLOCKED path, to find
          // the contiguous foldable prefix; they probe the PINNED
          // files, like the fold itself — a probe on the live
          // directory could catch a replay's commit window
          // (momentarily file-less) and misreport a transient race as
          // a schema refusal
          def extrasOf(b: Long): Set[String] =
            if (files(b).isEmpty) Set.empty
            else registered.fold(Set.empty[String])(names =>
              spark.read.parquet(files(b): _*)
                .schema.fieldNames.toSet -- names)
          // does one batch's frame conform to the registry? (plan
          // construction only, no job — used on the mixed-type /
          // blocked paths to find the contiguous foldable prefix)
          def conformsOf(b: Long): Boolean =
            files(b).isEmpty || registered.isEmpty || {
              try {
                graft.tables.Evolve.conform(spark, root,
                  spark.read.parquet(files(b): _*))
                true
              } catch {
                case _: graft.tables.Evolve.SchemaDriftException => false
              }
            }
          val mergedExtras: Set[String] = (registered, merged) match {
            case (Some(names), Some(m)) => m.schema.fieldNames.toSet -- names
            case _ => Set.empty
          }
          val mixedTypes = registered.isDefined && merged.isEmpty &&
            allFiles.nonEmpty
          val foldable =
            if (!mixedTypes && mergedExtras.isEmpty) fresh
            else fresh.takeWhile(b => extrasOf(b).isEmpty && conformsOf(b))
          def blocked(): Nothing = {
            val bad = fresh(foldable.size)
            val extras = extrasOf(bad)
            val reason =
              if (extras.nonEmpty)
                s"columns ${extras.toSeq.sorted.mkString(", ")} are " +
                  s"missing from the schema registry at $root — run " +
                  "Evolve.addColumn for them"
              else
                s"its columns do not conform to the registry at $root " +
                  "(type drift — evolve the registry or fix the producer)"
            throw new AbsorbBlockedException(
              s"absorb blocked at landed batch $bad: $reason, then the " +
                s"next tick folds it (${foldable.size} " +
                "earlier batch(es) folded this tick; nothing was dropped)")
          }
          if (foldable.isEmpty) blocked()
          val nonEmpty = foldable.filter(files(_).nonEmpty)
          val wmDf = spark.range(1)
            .select(lit(foldable.max).as("max_batch_id"))
          if (nonEmpty.isEmpty) {
            // a foldable set of only-empty batches still advances the
            // watermark so their debris sweeps
            EraseStage.run(spark, root, Seq(
              EraseStage.Overwrite("absorb_wm") -> wmDf))
          } else {
            // conform BEFORE deriving p_date: producers land their
            // event schema, which is also what operators naturally
            // register — conforming after the derivation would strip
            // p_date whenever the registry (correctly) lacks it and
            // wedge every later tick at the staged write. A TYPE
            // drift refusal (producer changed a column's type) blocks
            // the tick the same way a fleet-ahead column does: the
            // operator must evolve the registry, nothing is dropped.
            // The clean path reuses the gate's single read verbatim
            // (empty batches contribute no files, so the pinned-file
            // set is identical); a blocked tick re-reads the foldable
            // prefix; a MIXED-TYPE landing conforms per batch and
            // unions the registry-shaped results (conform makes the
            // union's sides identical where the raw merge could not).
            val landRows =
              (if (registered.isEmpty)
                (if (foldable.size == fresh.size) merged.get
                 else spark.read.option("mergeSchema", "true")
                   .parquet(nonEmpty.flatMap(files): _*))
              else try {
                if (mixedTypes)
                  nonEmpty.map(b => graft.tables.Evolve.conform(spark,
                    root, spark.read.parquet(files(b): _*)))
                    .reduce(_ unionByName _)
                else graft.tables.Evolve.conform(spark, root,
                  if (foldable.size == fresh.size) merged.get
                  else spark.read.option("mergeSchema", "true")
                    .parquet(nonEmpty.flatMap(files): _*))
              } catch {
                case e: graft.tables.Evolve.SchemaDriftException =>
                  throw new AbsorbBlockedException(
                    s"absorb blocked: landed batches do not conform " +
                      s"to the registry at $root — ${e.getMessage}")
              })
                .withColumn("p_date", to_date(col(tsCol)))
            RootCache.bumpToken(spark, root) // token moves before the fold
            EraseStage.run(spark, root, Seq(
              EraseStage.MoveIn("hot", "p_date", sortCols,
                bloomCol.map(c =>
                  s"parquet.bloom.filter.enabled#$c" -> "true").toMap) ->
                scrubErased(spark, root, landRows),
              EraseStage.Overwrite("absorb_wm") -> wmDf))
            RootCache.invalidate(spark, root)
          }
          foldable.foreach { b =>
            f.delete(new Path(s"${landingDir(root)}/batch_id=$b"), true)
            f.delete(landingMarker(root, b), false)
          }
          // a withheld SUFFIX (clean prefix folded, a fleet-ahead
          // batch blocks the rest) must signal on THIS tick, not only
          // once the queue reaches the offender — the prefix is
          // durably folded and swept above, so the refusal loses
          // nothing
          if (foldable.size < fresh.size) blocked()
          foldable
        }
      }
    }

  /** Rewrite every HOT date fragmented past `minFiles` back to one
    * sorted, bloom-filtered file — the counterpart of [[absorb]]'s
    * cheap append: each tick adds at most one small file per touched
    * date, and once a date collects `minFiles` of them this folds the
    * date under a staged Swap that PRESERVES the ingest layout
    * (`sortCols` order restored across the merged runs, `bloomCol`
    * re-declared — the generic
    * [[EraseStage.compactFragmented]] would strip both). Scheduled
    * from the same [[Maintenance.Tier]] tick; untouched dates are
    * neither read nor written, so the tick stays bounded by actual
    * fragmentation. Returns the compacted p_date strings.
    */
  def compactHot(spark: SparkSession, root: String, sortCols: Seq[String],
      bloomCol: Option[String] = None, minFiles: Int = 8): Seq[String] =
    Lease.withLease(spark, root, "tiered-compact-hot") {
      EraseStage.recover(spark, root)
      val f = fs(spark, root)
      val hotPath = new Path(s"$root/hot")
      val frag =
        if (!f.exists(hotPath)) Seq.empty[String]
        else f.listStatus(hotPath).toSeq
          .filter(_.isDirectory)
          .map(_.getPath)
          .filter(_.getName.startsWith("p_date="))
          .filter(p => f.listStatus(p)
            .count(_.getPath.getName.endsWith(".parquet")) >= minFiles)
          .map(_.getName.stripPrefix("p_date="))
          .sorted
      if (frag.nonEmpty) {
        val kept = tierFrame(spark, root, "hot")
          .filter(col("p_date").cast("string").isin(frag: _*))
        RootCache.bumpToken(spark, root) // token moves before the rewrite
        EraseStage.run(spark, root, Seq(
          EraseStage.Swap("hot", "p_date", frag, sortCols,
            bloomCol.map(c =>
              s"parquet.bloom.filter.enabled#$c" -> "true").toMap) -> kept))
        RootCache.invalidate(spark, root)
      }
      frag
    }

  /** Relocate every hot date strictly OLDER than `cutoffDate` to the
    * cold tier: the date's rows (plus any rows that date already has
    * on cold — late backfill demotes as a union) rewrite as
    * `filesPerDate` sorted zstd files per date under `cold/`, and the
    * hot directories drop — one staged commit for both legs. Returns
    * the demoted p_date strings (empty = nothing old enough).
    * Idempotent: a second run at the same cutoff finds no hot dates
    * and no-ops.
    *
    * `filesPerDate` is the 100 TB knob: the default 1 gives the
    * archive-compact one-file-per-date layout, but a date too large
    * for one write task shards by a hash of the sort key across
    * `filesPerDate` write tasks (up to that many files per date, each
    * still internally sorted — per-file min/max pruning holds; global
    * order within a date is already irrelevant across files). The
    * shard count rides the [[EraseStage.Swap]] manifest, so recovery
    * replays the identical layout.
    *
    * `coldBloomCols` declares which columns get parquet bloom filters
    * in the ARCHIVE files (typically the erase identity key, e.g.
    * user_id): a right-to-be-forgotten request must first discover
    * which dates hold the user at all, and without blooms that
    * discovery scans the id column of EVERY cold file — the whole
    * archive, per request, at 100 TB. With a bloom, the parquet
    * reader skips every row group that cannot contain the value, so
    * discovery reads footers+blooms plus only the matching dates'
    * pages. One compact file per date makes the bloom cheap (one
    * filter per column per date). Like the hot tier's `bloomCol`,
    * this is the CALLER's layout contract — pass the same columns to
    * [[eraseUser]] or its cold rewrites drop them.
    */
  def demote(spark: SparkSession, root: String, cutoffDate: String,
      sortCols: Seq[String], filesPerDate: Int = 1,
      coldBloomCols: Seq[String] = Nil): Seq[String] =
    Lease.withLease(spark, root, "tiered-demote") {
      EraseStage.recover(spark, root)
      val f = fs(spark, root)
      val hotPath = new Path(s"$root/hot")
      require(f.exists(hotPath), s"no hot tier at $root/hot")
      require(filesPerDate >= 1, s"filesPerDate $filesPerDate < 1")
      val expired = f.listStatus(hotPath).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("p_date="))
        .map(_.stripPrefix("p_date="))
        .filter(_ < cutoffDate)
        .sorted
      if (expired.isEmpty) Seq.empty
      else {
        val hotRows = tierFrame(spark, root, "hot")
          .filter(col("p_date").cast("string").isin(expired: _*))
        val coldExisting =
          if (!liveTier(spark, root, "cold")) None
          else Some(tierFrame(spark, root, "cold")
            .filter(col("p_date").cast("string").isin(expired: _*)))
        val demoted = coldExisting
          .map(c => hotRows.unionByName(c)).getOrElse(hotRows)
        RootCache.bumpToken(spark, root) // token moves before the swap
        EraseStage.run(spark, root, Seq(
          // cold first: rows are durable on the cold tier before the
          // hot directories can drop, at every crash point
          EraseStage.Swap("cold", "p_date", expired, sortCols,
            coldOpts(coldBloomCols), shards = filesPerDate) -> demoted,
          EraseStage.Swap("hot", "p_date", expired) ->
            hotRows.limit(0)))
        RootCache.invalidate(spark, root)
        expired
      }
    }

  /** Archive-tier writer options: aggressive compression always, plus
    * a bloom filter per caller-declared erase/probe key (one compact
    * file per date keeps them cheap). Blooms are ADAPTIVE-sized: the
    * writer can't know a date's distinct-id count up front, and
    * without sizing parquet-mr falls back to the 1 MiB maximum per
    * filter — which at one filter per date per column would cost more
    * bytes than the id pages the bloom exists to skip; adaptive
    * sizing tracks the observed NDV and keeps ~0.01 FPP at the
    * minimal size instead.
    */
  private def coldOpts(coldBloomCols: Seq[String]): Map[String, String] =
    Map("compression" -> "zstd") ++
      (if (coldBloomCols.isEmpty) Map.empty[String, String]
       else Map("parquet.bloom.filter.adaptive.enabled" -> "true")) ++
      coldBloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  /** Right-to-be-forgotten across BOTH tiers: every date partition
    * holding `value` in `idCol` — hot or cold — rewrites without
    * those rows, all legs under ONE staged manifest (the
    * [[graft.tables.TableManager.eraseUser]] discipline, spanning the
    * tier boundary: a crash can never leave the user erased hot but
    * present cold). Untouched dates are neither read nor written —
    * and when the archive was demoted with `idCol` in
    * `coldBloomCols`, the affected-date DISCOVERY itself reads only
    * footers+blooms plus the matching dates' id pages, not the whole
    * cold tier. Cold rewrites keep the archive layout: zstd,
    * `filesPerDate` sorted files per date (pass the demote's value or
    * a sharded date funnels back into one write task), and the
    * caller-declared `coldBloomCols` blooms. The hot layout is the
    * CALLER's to declare, the same contract as
    * [[graft.tables.TableManager.eraseUser]]: pass the build's
    * `bloomCol` or the rewritten hot dates lose their bloom filters.
    * The LANDING zone is scrubbed too: a landed-but-unabsorbed batch
    * holding the user rewrites under the same manifest (the user must
    * not resurface at the next absorb tick), and absorbed-but-unswept
    * landing debris is deleted. Returns `tier/p_date` (and
    * `landing/batch_id=<b>`) strings affected.
    */
  def eraseUser(spark: SparkSession, root: String, idCol: String,
      value: Long, sortCols: Seq[String],
      bloomCol: Option[String] = None,
      coldBloomCols: Seq[String] = Nil,
      filesPerDate: Int = 1): Seq[String] =
    Lease.withLease(spark, root, "tiered-erase") {
      EraseStage.recover(spark, root)
      val tierLegs = Seq("hot", "cold")
        .filter(liveTier(spark, root, _))
        .flatMap { t =>
          val frame = tierFrame(spark, root, t)
          val affected = frame.filter(col(idCol) === value)
            .select(col("p_date").cast("string")).distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          if (affected.isEmpty) Nil
          else {
            val kept = frame
              .filter(col("p_date").cast("string").isin(affected: _*))
              .filter(col(idCol) =!= value)
            // hot rewrites carry the caller-declared ingest layout
            // (bloom on the PK when passed); cold keeps the archive
            // layout (zstd + the declared erase-key blooms)
            val opts =
              if (t == "cold") coldOpts(coldBloomCols)
              else bloomCol
                .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
            val shards = if (t == "cold") filesPerDate else 1
            Seq((EraseStage.Swap(t, "p_date", affected, sortCols, opts,
              shards = shards) -> kept,
              affected.map(d => s"$t/p_date=$d")))
          }
        }
      // the LANDING zone is part of the table for right-to-be-
      // forgotten purposes: a user's rows in a landed-but-unabsorbed
      // batch would otherwise survive the erase and RESURFACE at the
      // next absorb tick. Marked unabsorbed batches holding the user
      // rewrite (same staged manifest — a crash can't leave the user
      // gone from the tiers but pending in the landing); absorbed-but-
      // unswept debris (≤ watermark) is deleted outright, it can
      // never fold again.
      val f = fs(spark, root)
      val landingActive = f.exists(new Path(landingDir(root)))
      val landingEntries =
        if (!landingActive) Nil
        else f.listStatus(new Path(landingDir(root))).toSeq
          .map(_.getPath.getName)
      val wm = if (landingActive) absorbWatermark(spark, root) else -1L
      val landingLegs =
        if (!landingActive) Nil
        else {
          val marked = landingEntries.flatMap(markedBatch)
            .filter(b => f.exists(new Path(s"${landingDir(root)}/batch_id=$b")))
            .sorted
          marked.filter(_ <= wm).foreach { b =>
            f.delete(new Path(s"${landingDir(root)}/batch_id=$b"), true)
            f.delete(landingMarker(root, b), false)
          }
          marked.filter(_ > wm).flatMap { b =>
            val dir = s"${landingDir(root)}/batch_id=$b"
            val batch = spark.read.parquet(dir)
            if (batch.filter(col(idCol) === value).isEmpty) Nil
            else Seq((EraseStage.Overwrite(s"landing/batch_id=$b")
              -> batch.filter(col(idCol) =!= value),
              Seq(s"landing/batch_id=$b")))
          }
        }
      // TOMBSTONE before the staged run, whenever the landing
      // lifecycle is in use (this ordering is the crash-safe one: a
      // tombstone without a committed erase only re-filters batches
      // the erase would have scrubbed anyway — conservative for
      // right-to-be-forgotten — while an erase without a tombstone
      // would leave the lease-less [[landBatch]] replay window open:
      // a replayed or in-flight-at-erase-time batch could re-land the
      // user's pre-erase rows after this manifest commits, and the
      // next [[absorb]] would fold them back). The window covers
      // every batch id visible now — markers, directories, and the
      // watermark — PLUS ONE: an in-flight [[landBatch]] that has not
      // yet created its batch directory is invisible to this listing,
      // and its id is at most max(visible, wm) + 1 because Structured
      // Streaming runs a query's micro-batches serially with
      // consecutive ids (at most one batch can be mid-write while
      // this erase runs, and every earlier id either left a
      // directory/marker or advanced the watermark before sweeping).
      // Cost of the slack: a user who RETURNS inside that single next
      // batch has those rows treated as pre-erase and scrubbed — rows
      // arriving concurrently with the erase fall on the forgotten
      // side, the conservative direction for right-to-be-forgotten.
      if (landingActive) {
        val ids = landingEntries.flatMap { n =>
          markedBatch(n).orElse(
            if (n.startsWith("batch_id=")) n.stripPrefix("batch_id=").toLongOption
            else None)
        }
        val maxLanded = (ids :+ wm).max + 1
        if (maxLanded >= 0) {
          val out = f.create(new Path(
            s"${eraseKeyDir(root)}/k_${java.util.UUID.randomUUID()}"), false)
          try out.write(s"$idCol\t$value\t$maxLanded".getBytes("UTF-8"))
          finally out.close()
        }
      }
      val legs = tierLegs ++ landingLegs
      if (legs.isEmpty) Seq.empty
      else {
        RootCache.bumpToken(spark, root) // token moves before the rewrites
        EraseStage.run(spark, root, legs.map(_._1))
        RootCache.invalidate(spark, root)
        // right-to-be-forgotten reaches the MIRRORS in the same call:
        // the cold legs above rewrote the primary, but each replica
        // still holds the user's pre-erase segment files until
        // converged — sweep them NOW, not at the next maintenance
        // tick. A crash between the manifest commit above and this
        // convergence is healed by the next tick's replicate leg, and
        // readers never serve the stale mirror meanwhile (digest
        // mismatch → primary).
        convergeMirrors(spark, root)
        legs.flatMap(_._2)
      }
    }

  /** Final deletion at the end of the lifecycle: drop every COLD date
    * strictly older than `beforeDate` (directory-grain, idempotent —
    * the [[graft.tables.TableManager.retentionSweep]] semantics on
    * the tier where data goes to age out). Returns dropped dates.
    */
  def retentionSweep(spark: SparkSession, root: String,
      beforeDate: String): Seq[String] =
    Lease.withLease(spark, root, "tiered-retention") {
      EraseStage.recover(spark, root)
      val f = fs(spark, root)
      val coldPath = new Path(s"$root/cold")
      if (!f.exists(coldPath)) Seq.empty
      else {
        val expired = f.listStatus(coldPath).toSeq
          .filter(_.isDirectory)
          .map(_.getPath)
          .filter(_.getName.startsWith("p_date="))
          .filter(_.getName.stripPrefix("p_date=") < beforeDate)
          .sortBy(_.getName)
        if (expired.nonEmpty)
          RootCache.bumpToken(spark, root) // token moves before the drops
        val dropped = expired
          .map { p => f.delete(p, true); p.getName.stripPrefix("p_date=") }
        if (dropped.nonEmpty) {
          RootCache.invalidate(spark, root)
          // retention is a compliance delete too: expired dates must
          // leave the mirrors with the primary, not at the next tick
          convergeMirrors(spark, root)
        }
        dropped
      }
    }

  /** The whole table, both tiers, as one DataFrame — p_date partition
    * pruning applies per-tier, so a time-bounded query lists (and
    * reads) only the tier(s) its range touches. Built once per root
    * per generation ([[RootCache]]; every mutating op here
    * invalidates): rebuilding two parquet frames per call costs a
    * footer inference + full file listing each (~150 ms local). The
    * frame stays UNPINNED, deliberately: the hot tier's pruned scan
    * reads one page-cached date per recent-window query, and
    * columnar-cache decompression measured ~25% SLOWER than that
    * (besides, the raw tiers can be arbitrarily large). Each tier
    * routes through its mirrors when a verified one exists
    * ([[replicate]]). Handles stay
    * subject to the documented discipline: consume promptly; a handle
    * parked across a maintenance tick can observe a relocation's
    * apply window.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    RootCache.get(spark, root, "tiered") {
      val tiers =
        (if (liveTier(spark, root, "hot"))
          Seq(tierServeFrame(spark, root, "hot")) else Nil) ++
        (if (liveTier(spark, root, "cold"))
          Seq(tierServeFrame(spark, root, "cold")) else Nil)
      require(tiers.nonEmpty, s"no tiers under $root")
      tiers.reduce(_ unionByName _)
    }

  /** Tiers that can carry replica mirrors ([[Replicas]], keyed by
    * (root, tier)). `hot` and `cold` route reads through their
    * mirrors with failover; `landing` mirrors are durability copies
    * only (nothing queries the landing zone — a lost landed batch
    * restores from its mirror operator-side), but they converge and
    * scrub on the same machinery, so the landing zone stops being
    * single-copy data between [[landBatch]] and [[absorb]].
    */
  private[graft] val mirrorTiers = Seq("hot", "cold", "landing")

  /** The one hidden-name class a tier's mirrors carry: the LANDING
    * tier's zero-length commit markers are part of its content (a
    * restored copy without them would absorb nothing).
    */
  private def mirrorKeep(tier: String): String => Boolean =
    n => tier == "landing" && markedBatch(n).isDefined

  private def tierLive(spark: SparkSession, root: String, tier: String): Boolean =
    if (tier == "landing") fs(spark, root).exists(new Path(landingDir(root)))
    else liveTier(spark, root, tier)

  /** A mirror directory read through the root's schema registry when
    * one exists — the same rule as [[tierFrame]]: a mirror is
    * byte-identical segment copies, so a plain parquet read would
    * single-footer-infer a mid-life-added column away or serve a
    * pre-widening type, exactly like the primary would (r15 ADVICE:
    * the mirror route must not bypass Evolve).
    */
  private def mirrorFrame(spark: SparkSession, root: String,
      dir: String): DataFrame =
    if (graft.tables.Evolve.hasRegistry(spark, root))
      graft.tables.Evolve.readAt(spark, root, dir)
    else spark.read.parquet(dir)

  /** One tier's serving frame: the verified mirror the (root, tier)
    * hashes to, else the next verified mirror, else the primary
    * ([[Replicas.servingCopy]]).
    */
  private def tierServeFrame(spark: SparkSession, root: String,
      tier: String): DataFrame =
    Replicas.servingCopy(spark, root, tier, s"$root/$tier", mirrorKeep(tier))
      .map(mirrorFrame(spark, root, _))
      .getOrElse(tierFrame(spark, root, tier))

  /** Maintain `n` replica mirrors of one tier (`hot`, `cold` or
    * `landing`) under `<root>/_replicas/<tier>/replica=<i>` — Pinot
    * replicates realtime and offline segments alike
    * (orders_raw_upsert_table.json:14 `replication`, :64-66
    * replica-group routing of every query class). Convergence is
    * [[Replicas.converge]]: incremental (a steady-state tick costs
    * O(changed dates) in DATA, the same bound as the demote/erase it
    * mirrors, never O(tier)), heals a damaged primary from a
    * current-generation mirror first, and is crash-safe read-side.
    * Additive changes ([[demote]]'s relocations, [[absorb]]'s
    * appends) converge on the maintenance tick's replicate legs; the
    * deletion paths converge in-call. Returns the per-mirror file
    * counts copied (all-zero = mirrors were already current; empty =
    * tier absent).
    */
  def replicate(spark: SparkSession, root: String, tier: String,
      n: Int = 2): Seq[Int] = {
    require(n >= 2, s"replication below 2 is just the table (n=$n)")
    require(mirrorTiers.contains(tier), s"unknown tier $tier")
    Lease.withLease(spark, root, "tiered-replicate") {
      EraseStage.recover(spark, root)
      if (!tierLive(spark, root, tier)) Seq.empty
      else {
        val copied = Replicas.converge(spark, root, tier, n, mirrorKeep(tier))
        RootCache.invalidate(spark, root)
        copied
      }
    }
  }

  /** Re-converge every existing tier mirror set to its primary (no-op
    * listing when nothing changed); a tier that no longer exists —
    * everything erased or retention-swept — takes its mirrors with
    * it. Called inside the deletion paths' lease ([[eraseUser]],
    * [[retentionSweep]]) so compliance deletes reach every copy in
    * the same call.
    */
  private def convergeMirrors(spark: SparkSession, root: String): Unit = {
    Replicas.convergeAll(spark, root, tierLive(spark, root, _), mirrorKeep)
    RootCache.invalidate(spark, root)
  }

  /** One tier's frame (plan tests / tier-local audits). */
  private[graft] def tier(spark: SparkSession, root: String,
      which: String): DataFrame =
    spark.read.parquet(s"$root/$which")
}
