package graft.serving

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.tables.TableManager

/** ONE maintenance entry point — the Pinot minion/task-scheduler
  * analog: the reference declares retention and merge-rollup as
  * SCHEDULED table tasks (orders_1m_rollup_table.json:72-84,
  * RealtimeToOfflineSegmentsTask + retention config), not hand-called
  * maintenance; this is that scheduler's single tick. One
  * [[run]] call over a fleet of managed structures:
  *
  *  1. completes any crashed staged erase/compaction
  *     ([[EraseStage.recover]]) — always first, so every later step
  *     sees a consistent root;
  *  2. sweeps retention (expired `p_date` directory drops);
  *  3. compacts every FRAGMENTED index/state root — and only the
  *     fragmented ones, so the call is idempotent: a second run over
  *     a clean fleet reads directory listings and rewrites nothing;
  *  4. runs the [[Tiered]] lifecycle (absorb, demote, retention) and
  *     converges the tiers' mirrors last ([[Replicas]]; mirrors
  *     converge in place, so no superseded copy set needs a sweep).
  *
  * Returns a log of the actions actually taken (`recovered:`/
  * `swept:`/`compacted:`/`absorbed:`/`demoted:`/`replicated:`/`ran:`
  * entries), empty when the fleet was already clean — what a
  * scheduler surfaces as the task result.
  */
object Maintenance {

  /** One managed structure. Every task starts with staged-commit
    * recovery on its root; the rest is structure-specific.
    */
  sealed trait Task

  /** Any [[EraseStage]]-managed root with no compaction story of its
    * own (e.g. a [[Serving]] layout between refreshes): recovery only.
    */
  final case class Recover(root: String) extends Task

  /** A date-partitioned store ([[TableManager.writePartitioned]]
    * layout — raw sinks, rollup tables, serving tables): recovery,
    * then expired-date drops when `retentionDays`+`nowDate` are set,
    * then small-file rewrites of fragmented dates
    * ([[TableManager.compactDates]], preserving sort + bloom).
    */
  final case class DatedTable(path: String, sortCols: Seq[String],
    bloomCol: Option[String] = None, retentionDays: Option[Int] = None,
    nowDate: Option[String] = None, maxFiles: Int = 8) extends Task

  /** A [[SearchIndex]] root: consolidate df/N deltas + bucket files
    * when more than one delta has accumulated (append/ingest
    * fragmentation); a freshly-compacted index is left untouched.
    */
  final case class Search(root: String) extends Task

  /** An [[AnnIndex]] root: rewrite cells fragmented past `minFiles`. */
  final case class Ann(root: String, minFiles: Int = 8) extends Task

  /** A [[PqIndex]] root: same, over `codes/cell=` directories. */
  final case class Pq(root: String, minFiles: Int = 8) extends Task

  /** A [[NearDupIndex]] root: fragmented band buckets + the flat
    * id-sorted docs/postings tables.
    */
  final case class NearDupIdx(root: String, n: Int = 3,
    minFiles: Int = 8) extends Task

  /** A [[Tiered]] root: fold any landed streaming batches into the
    * hot tier first (when `absorbIngest`, [[Tiered.absorb]] — the
    * realtime→offline leg), then relocate hot dates older than
    * `hotDays` before `nowDate` to the cold tier (one staged commit
    * per tick, idempotent when nothing has aged past the cutoff),
    * then drop cold dates past `retentionDays` — the full lifecycle,
    * landing → hot → cold → gone, on one tick. `compactHotMinFiles`
    * additionally folds hot dates fragmented past that many files
    * back to one ([[Tiered.compactHot]] — absorb appends one small
    * file per tick per touched date; this is the bound on that).
    * `filesPerDate`/`coldBloomCols`/`bloomCol` are the layout knobs
    * ([[Tiered.demote]]/[[Tiered.absorb]]): the tick must carry the
    * SAME values every run or relocated dates drift between layouts.
    * `replicateCold = Some(n)` additionally converges the archive's
    * n replica mirrors as one of the tick's LAST legs
    * ([[Tiered.replicate]] — incremental, O(changed dates));
    * `replicateHot`/`replicateLanding` do the same for the hot tier
    * (realtime-segment replication — after the tick's absorb/demote/
    * compact settle the hot content) and the landing zone (durability
    * copies of landed-but-unabsorbed batches). Serving-table mirrors
    * need no leg here: they converge on the next routed read
    * ([[ReplicaRouter]]) and inside [[Serving.eraseUser]].
    */
  final case class Tier(root: String, sortCols: Seq[String],
    hotDays: Int, nowDate: String,
    retentionDays: Option[Int] = None,
    filesPerDate: Int = 1,
    coldBloomCols: Seq[String] = Nil,
    absorbIngest: Boolean = false,
    tsCol: String = "ts",
    bloomCol: Option[String] = None,
    compactHotMinFiles: Option[Int] = None,
    replicateCold: Option[Int] = None,
    replicateHot: Option[Int] = None,
    replicateLanding: Option[Int] = None) extends Task

  /** A streaming ingest's own compaction: a
    * [[graft.streaming.MergeableState.compact]] (WAU, co-visitation,
    * RFM, OHLC, correlation, drift and the two media states), an
    * admission or census twin's `compact` (SegmentIngest, SpanIngest,
    * CurationIngest, IncrementalDedup, LmIngest, VocabIngest,
    * BoilerplateIngest) or the pipeline's
    * [[graft.streaming.StreamingPipeline.compactRollupState]] — each
    * folds batch-id partitions at its state's own grain through
    * [[graft.streaming.StateCompactor]]. The body runs under this
    * scheduler tick and is logged by `label`.
    */
  final case class IngestCompact(label: String,
    body: SparkSession => Unit) extends Task

  def run(spark: SparkSession, tasks: Seq[Task]): Seq[String] =
    tasks.flatMap(exec(spark, _))

  private def recovered(spark: SparkSession, root: String): Seq[String] =
    if (EraseStage.recover(spark, root)) Seq(s"recovered:$root") else Nil

  // every root-bearing task runs under the root's single-writer
  // [[Lease]]: a maintenance tick racing a refresh/erase from another
  // process serializes instead of interleaving staged commits.
  // IngestCompact bodies guard their own state roots (StateCompactor
  // manifest commits), so they carry no root here.
  private def exec(spark: SparkSession, task: Task): Seq[String] = task match {
    case IngestCompact(label, body) =>
      body(spark)
      Seq(s"ran:$label")
    case t =>
      val root = t match {
        case Recover(r) => r
        case DatedTable(p, _, _, _, _, _) => p
        case Search(r) => r
        case Ann(r, _) => r
        case Pq(r, _) => r
        case NearDupIdx(r, _, _) => r
        case t: Tier => t.root
        case IngestCompact(_, _) => throw new MatchError(t) // unreachable
      }
      Lease.withLease(spark, root, "maintenance")(execLocked(spark, t))
  }

  private def execLocked(spark: SparkSession, task: Task): Seq[String] = task match {
    case Recover(root) => recovered(spark, root)

    case DatedTable(path, sortCols, bloom, retention, now, maxFiles) =>
      val rec = recovered(spark, path)
      val swept = (retention, now) match {
        case (Some(days), Some(nowDate)) =>
          TableManager.retentionSweep(spark, path, days, nowDate)
            .map(p => s"swept:$path/$p")
        case _ => Nil
      }
      val compacted = TableManager
        .compactDates(spark, path, sortCols, bloom, maxFiles)
        .map(p => s"compacted:$path/$p")
      rec ++ swept ++ compacted

    case Search(root) =>
      val rec = recovered(spark, root)
      // fragmented = more than one delta accumulated (every append /
      // streaming batch adds one); a compacted index holds exactly one
      val deltas = spark.read.parquet(s"$root/meta")
        .select(col("delta_id")).distinct().count()
      if (deltas > 1) {
        SearchIndex.compact(spark, root)
        rec :+ s"compacted:$root"
      } else rec

    case Ann(root, minFiles) =>
      val rec = recovered(spark, root)
      rec ++ AnnIndex.compactCells(spark, root, minFiles)
        .map(c => s"compacted:$root/cell=$c")

    case Pq(root, minFiles) =>
      val rec = recovered(spark, root)
      rec ++ PqIndex.compactCells(spark, root, minFiles)
        .map(c => s"compacted:$root/codes/cell=$c")

    case NearDupIdx(root, n, minFiles) =>
      val rec = recovered(spark, root)
      rec ++ NearDupIndex.compact(spark, root, n, minFiles)
        .map(t => s"compacted:$root/$t")

    case Tier(root, sortCols, hotDays, nowDate, retention, filesPerDate,
        coldBloomCols, absorbIngest, tsCol, bloomCol, compactMin,
        replicate, replicateHot, replicateLanding) =>
      val rec = recovered(spark, root)
      // a BLOCKED absorb (a fleet-ahead producer landed a column the
      // schema registry lacks, or a producer's type drifted —
      // absorb's documented [[Tiered.AbsorbBlockedException]]
      // refusal) must not abort the rest of the lifecycle: demote
      // still relocates aged dates and — above all — the retention
      // sweep (a compliance deadline) still runs, with the refusal in
      // the tick log for the operator. ONLY that dedicated type is
      // caught: every other IllegalArgumentException from the staged-
      // commit machinery (movein rename failure, staged/destination
      // both-exist, manifest-version refusal) is a genuine failure
      // and keeps propagating loudly rather than degrading into a log
      // line callers may discard.
      val absorbed =
        if (!absorbIngest) Nil
        else try Tiered.absorb(spark, root, tsCol, sortCols, bloomCol)
          .map(b => s"absorbed:$root/batch_id=$b")
        catch { case e: Tiered.AbsorbBlockedException =>
          val msg = Option(e.getMessage)
            .flatMap(_.linesIterator.find(_.nonEmpty))
            .getOrElse(e.getClass.getSimpleName)
          Seq(s"absorb-blocked:$root:$msg")
        }
      val cutoff = java.time.LocalDate.parse(nowDate)
        .minusDays(hotDays.toLong).toString
      val demoted = Tiered.demote(spark, root, cutoff, sortCols,
          filesPerDate, coldBloomCols)
        .map(d => s"demoted:$root/p_date=$d")
      // compaction AFTER demote: the date that just aged past the
      // cutoff is typically the most fragmented (a day of absorb
      // appends), and demote consumes it wholesale — compacting it
      // first would rewrite the same rows twice in one tick
      val compacted = compactMin.toSeq.flatMap { m =>
        Tiered.compactHot(spark, root, sortCols, bloomCol, m)
          .map(d => s"compacted:$root/hot/p_date=$d")
      }
      val swept = retention.toSeq.flatMap { days =>
        val before = java.time.LocalDate.parse(nowDate)
          .minusDays(days.toLong).toString
        Tiered.retentionSweep(spark, root, before)
          .map(d => s"swept:$root/cold/p_date=$d")
      }
      // replicate LAST: absorb/demote/retention just changed the
      // tiers' content, so mirroring earlier in the tick would
      // converge the replicas to a state this same tick immediately
      // obsoletes
      def repl(tier: String, nOpt: Option[Int]): Seq[String] =
        nOpt.toSeq.flatMap { n =>
          Tiered.replicate(spark, root, tier, n).zipWithIndex.collect {
            case (c, i) if c > 0 =>
              s"replicated:$root/_replicas/$tier/replica=$i:+$c"
          }
        }
      val replicated = repl("hot", replicateHot) ++
        repl("landing", replicateLanding) ++ repl("cold", replicate)
      rec ++ absorbed ++ demoted ++ compacted ++ swept ++ replicated

    case IngestCompact(_, _) =>
      throw new IllegalStateException("IngestCompact runs unleased in exec")
  }
}
