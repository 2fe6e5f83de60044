package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.NearDup
import graft.streaming.{CurationIngest, DocPipeline, IncrementalDedup,
  LmIngest, SegmentIngest, SpanIngest, StateCompactor}

/** Right-to-be-forgotten over the ingest-time admission indexes — the
  * round-10 gap: erasing a document from the corpus must also remove
  * its content hashes (and their future-dedup side effects) from the
  * fingerprint/segment/gram/band indexes that ingest-time dedup
  * persists, plus the additive census/profile mass its tokens
  * contributed. Each case asserts the three-legged contract the
  * ingest-twin erase specs established: erased state ≡
  * rebuild-without-doc, a replay of the last (manifest-folded) batch
  * cannot resurface the victim, and ingest CONTINUES correctly on top
  * of the erased root — in particular a re-submission of the erased
  * content is evaluated fresh, not silently deduped against ghosts.
  */
class IngestEraseSpec extends SparkSuite {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Id-ordered thirds — the stream==batch equivalence premise. */
  private def docBatches(d: DataFrame): Seq[DataFrame] = {
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    Seq(
      d.filter(col("doc_id") <= maxId / 3),
      d.filter(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
      d.filter(col("doc_id") > 2 * maxId / 3))
  }

  /** A doc that FIRST-CLAIMED at least one shared segment/gram (so
    * erasing it must hand the claim to a successor) AND carries at
    * least one sole-owned one (so the "its hashes actually leave the
    * index" leg is non-vacuous — a pure duplicate would have nothing
    * of its own to remove).
    */
  private def firstClaimerOf(units: DataFrame): Long = {
    val stats = units.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first"),
        countDistinct(col("doc_id")).as("nd"))
    stats.filter(col("nd") > 1).select(col("first")).distinct()
      .join(stats.filter(col("nd") === 1).select(col("first")).distinct(),
        Seq("first"))
      .agg(min(col("first"))).head().getLong(0)
  }

  test("segment-ingest erase: index == rebuild-without-doc; replay can't resurface; re-submission re-admits") {
    val docs = Tables.documents(spark, sfDir)
    val batches = docBatches(docs)
    val t = tmp("graft_seg_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      SegmentIngest.processBatch(b, i.toLong, s"$t/kept", s"$t/index") }
    // compact first: the erase must reach a generation + live mix,
    // and compaction itself must preserve reads
    val preCompact = rows(SegmentIngest.readKept(spark, s"$t/kept"))
    SegmentIngest.compact(spark, s"$t/kept", s"$t/index")
    assert(rows(SegmentIngest.readKept(spark, s"$t/kept")) == preCompact)
    val victim = firstClaimerOf(
      NearDup.segmentsOf(docs, 10).select(md5(col("seg")).as("h"), col("doc_id")))
    val retained = docs.filter(col("doc_id") =!= victim)
    SegmentIngest.eraseDoc(spark, docs, victim, s"$t/kept", s"$t/index")
    // erased state == rebuild-without-doc, both legs
    val wantKept = rows(NearDup.segmentDedup(retained))
    val wantIdx = rows(NearDup.segmentsOf(retained, 10)
      .select(md5(col("seg")).as("h")).distinct())
    assert(rows(SegmentIngest.readKept(spark, s"$t/kept")) == wantKept)
    assert(rows(SegmentIngest.readIndex(spark, s"$t/index")) == wantIdx)
    assert(SegmentIngest.readKept(spark, s"$t/kept")
      .filter(col("doc_id") === victim).isEmpty)
    // the victim's sole-claimed hashes actually LEFT the index
    val victimOnly = NearDup.segmentsOf(docs.filter(col("doc_id") === victim), 10)
      .select(md5(col("seg")).as("h")).distinct()
      .join(NearDup.segmentsOf(retained, 10)
        .select(md5(col("seg")).as("h")).distinct(), Seq("h"), "left_anti")
    assert(!victimOnly.isEmpty) // the case is non-vacuous on this corpus
    assert(SegmentIngest.readIndex(spark, s"$t/index")
      .join(victimOnly, Seq("h"), "left_semi").isEmpty)
    // replay of the last (folded) batch writes invisible partitions
    SegmentIngest.processBatch(batches(2), 2L, s"$t/kept", s"$t/index")
    assert(rows(SegmentIngest.readKept(spark, s"$t/kept")) == wantKept)
    assert(rows(SegmentIngest.readIndex(spark, s"$t/index")) == wantIdx)
    // ingest continues on the erased root: re-submitting the victim's
    // content is evaluated FRESH — its sole-claimed segments re-admit
    val resub = SegmentIngest.processBatch(
      docs.filter(col("doc_id") === victim), 3L, s"$t/kept", s"$t/index")
    assert(resub.filter(col("doc_id") === victim).count() == 1)
    assert(SegmentIngest.readKept(spark, s"$t/kept")
      .filter(col("doc_id") === victim).count() == 1)
    // stale-frame guard: a corpus with segments the index never saw
    val alien = docs.limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        lit("zzz unseen segment text never ingested qqq www eee rrr ttt yyy uuu").as("text"),
        col("lang"), col("source"), col("n_chars"))
    intercept[IllegalArgumentException] {
      SegmentIngest.eraseDoc(spark, retained.unionByName(alien),
        victim + 1, s"$t/kept", s"$t/index")
    }
  }

  test("span-ingest erase: claim index == rebuild-without-doc; replay can't resurface") {
    val docs = Tables.documents(spark, sfDir)
    val batches = docBatches(docs)
    val t = tmp("graft_span_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      SpanIngest.processBatch(b, i.toLong, s"$t/kept", s"$t/index") }
    val preCompact = rows(SpanIngest.readKept(spark, s"$t/kept"))
    SpanIngest.compact(spark, s"$t/kept", s"$t/index")
    assert(rows(SpanIngest.readKept(spark, s"$t/kept")) == preCompact)
    val victim = firstClaimerOf(
      NearDup.spanGramsOf(docs, 5).select(md5(col("gram")).as("h"), col("doc_id")))
    val retained = docs.filter(col("doc_id") =!= victim)
    SpanIngest.eraseDoc(spark, docs, victim, s"$t/kept", s"$t/index")
    val wantKept = rows(NearDup.spanScrub(retained))
    val wantIdx = rows(NearDup.spanGramsOf(retained, 5)
      .select(md5(col("gram")).as("h")).distinct())
    assert(rows(SpanIngest.readKept(spark, s"$t/kept")) == wantKept)
    assert(rows(SpanIngest.readIndex(spark, s"$t/index")) == wantIdx)
    // replay of the last (folded) batch writes invisible partitions
    SpanIngest.processBatch(batches(2), 2L, s"$t/kept", s"$t/index")
    assert(rows(SpanIngest.readKept(spark, s"$t/kept")) == wantKept)
    assert(rows(SpanIngest.readIndex(spark, s"$t/index")) == wantIdx)
    // post-erase ingest continues: the victim's sole-owned grams left
    // the index, so a re-submission claims them fresh and keeps their
    // tokens (shared grams stay scrubbed — claimed by survivors)
    val resub = SpanIngest.processBatch(
      docs.filter(col("doc_id") === victim), 3L, s"$t/kept", s"$t/index")
    assert(resub.filter(col("doc_id") === victim).count() == 1)
  }

  test("curation-ingest erase: successor takes the fingerprint; replay can't resurface") {
    val docs = Tables.documents(spark, sfDir)
    val batches = docBatches(docs)
    val t = tmp("graft_cur_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      CurationIngest.processBatch(b, i.toLong, s"$t/kept", s"$t/index") }
    // victim: the first admitted doc; depending on the corpus its
    // fingerprint either promotes to a successor (shared fp) or must
    // leave the index entirely (sole fp) — both branches asserted
    val cur = DocPipeline.curate(docs)
    val preCompact = rows(CurationIngest.readKept(spark, s"$t/kept"))
    CurationIngest.compact(spark, s"$t/kept", s"$t/index")
    assert(rows(CurationIngest.readKept(spark, s"$t/kept")) == preCompact)
    val victim = CurationIngest.readKept(spark, s"$t/kept")
      .agg(min(col("doc_id"))).head().getLong(0)
    val victimFp = cur.filter(col("doc_id") === victim).head().getAs[String]("fp")
    val retained = docs.filter(col("doc_id") =!= victim)
    CurationIngest.eraseDoc(spark, docs, victim, s"$t/kept", s"$t/index")
    val retCur = DocPipeline.curate(retained)
    val wantKept = rows(retCur
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("n_tokens"),
        col("lang"), col("source"))).as("w"))
      .select(col("fp"), col("w.doc_id").as("doc_id"),
        col("w.lang").as("lang"), col("w.source").as("source"),
        col("w.n_tokens").as("n_tokens")))
    assert(rows(CurationIngest.readKept(spark, s"$t/kept")) == wantKept)
    assert(rows(CurationIngest.readIndex(spark, s"$t/index")) ==
      rows(retCur.select(col("fp")).distinct()))
    // shared fp → survives under its successor; sole fp → leaves the
    // admission index with the victim (no ghost blocking resubmission)
    val after = CurationIngest.readKept(spark, s"$t/kept")
      .filter(col("fp") === victimFp)
    if (retCur.filter(col("fp") === victimFp).isEmpty) {
      assert(after.isEmpty)
      assert(CurationIngest.readIndex(spark, s"$t/index")
        .filter(col("fp") === victimFp).isEmpty)
    } else
      assert(after.count() == 1 && after.head().getAs[Long]("doc_id") != victim)
    // replay of the last (folded) batch writes invisible partitions
    NearDup.releaseCheckpoint(CurationIngest.processBatch(
      batches(2), 2L, s"$t/kept", s"$t/index"))
    assert(rows(CurationIngest.readKept(spark, s"$t/kept")) == wantKept)
  }

  test("incremental-dedup erase: bands leave the index; re-submission evaluated fresh") {
    val docs = Tables.documents(spark, sfDir)
    val batches = docBatches(docs)
    val t = tmp("graft_inc_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.processBatch(b, i.toLong, s"$t/adm", s"$t/index") }
    // victim: an admitted doc with NO band collision against any other
    // admitted doc — so the re-submission leg is deterministic (a
    // same-batch sub-threshold neighbor sharing a band would reject
    // the resubmitted victim through the index, legitimately)
    val idx = StateCompactor.readState(spark, s"$t/index")
    val colliding = idx.as("a")
      .join(idx.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id")).distinct()
    val victim = IncrementalDedup.readAdmitted(spark, s"$t/adm")
      .join(colliding, Seq("doc_id"), "left_anti")
      .agg(min(col("doc_id"))).head().getLong(0)
    val beforeAdm = rows(IncrementalDedup.readAdmitted(spark, s"$t/adm"))
    IncrementalDedup.compact(spark, s"$t/adm", s"$t/index")
    assert(rows(IncrementalDedup.readAdmitted(spark, s"$t/adm")) == beforeAdm)
    IncrementalDedup.eraseDoc(spark, s"$t/adm", s"$t/index", victim)
    // admission-preserving semantics: everything else stays admitted
    val afterAdm = rows(IncrementalDedup.readAdmitted(spark, s"$t/adm"))
    assert(afterAdm == beforeAdm.filterNot(_.startsWith(s"$victim|")))
    assert(StateCompactor.readState(spark, s"$t/index")
      .filter(col("doc_id") === victim).isEmpty)
    // replay of the last (folded) batch writes invisible partitions
    IncrementalDedup.processBatch(batches(2), 2L, s"$t/adm", s"$t/index")
    assert(rows(IncrementalDedup.readAdmitted(spark, s"$t/adm")) == afterAdm)
    // re-submission of the erased content is evaluated fresh: with its
    // bands gone (and no other admitted near-dup — it WAS admitted, so
    // its dups were rejected) it re-admits
    val resub = IncrementalDedup.processBatch(
      docs.filter(col("doc_id") === victim), 3L, s"$t/adm", s"$t/index")
    assert(resub.count() == 1)
    assert(IncrementalDedup.readAdmitted(spark, s"$t/adm")
      .filter(col("doc_id") === victim).count() == 1)
  }

  test("lm-ingest erase: census mass leaves with the doc; idempotent re-run; replay can't resurface") {
    val d = Tables.documents(spark, sfDir)
    val batches = docBatches(d)
    val t = tmp("graft_lm_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      LmIngest.processBatch(b, i.toLong, s"$t/grams", s"$t/census") }
    // victim: the least-familiar doc — guaranteed to appear in the
    // topN read, so the erase visibly changes the served ranking
    val victim = LmIngest.readScores(spark, s"$t/grams", s"$t/census")
      .filter(col("rank") === 1L).head().getAs[Long]("doc_id")
    LmIngest.eraseDoc(spark, s"$t/grams", s"$t/census", victim)
    // rebuild-without-doc into a fresh root == erased state reads
    val t2 = tmp("graft_lm_rebuild")
    batches.zipWithIndex.foreach { case (b, i) =>
      LmIngest.processBatch(b.filter(col("doc_id") =!= victim),
        i.toLong, s"$t2/grams", s"$t2/census") }
    val want = rows(LmIngest.readScores(spark, s"$t2/grams", s"$t2/census"))
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == want)
    // idempotent re-run (the crash-between-folds recovery contract)
    LmIngest.eraseDoc(spark, s"$t/grams", s"$t/census", victim)
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == want)
    // replay of the last (folded) batch writes invisible partitions
    LmIngest.processBatch(batches(2), 2L, s"$t/grams", s"$t/census")
    assert(rows(LmIngest.readScores(spark, s"$t/grams", s"$t/census")) == want)
    // compaction on the erased root stays sane
    LmIngest.processBatch(batches(0).filter(col("doc_id") =!= victim),
      3L, s"$t2/grams", s"$t2/census")
    LmIngest.compact(spark, s"$t2/grams", s"$t2/census")
  }

  test("media-ingest erase: state == rebuild-without-media; replay can't resurface; canonical re-mins") {
    import graft.queries.MediaQueries
    import graft.multimodal.Media
    val ev = Tables.events(spark, sfDir)
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val batches = Seq(
      ev.filter(col("event_id") <= maxId / 3),
      ev.filter(col("event_id") > maxId / 3 && col("event_id") <= 2 * maxId / 3),
      ev.filter(col("event_id") > 2 * maxId / 3))
    val t = tmp("graft_media_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      MediaQueries.mediaDedupState.append(Media.mediaFromEvents(b), i.toLong, s"$t/m") }
    val media = Media.mediaFromEvents(ev)
    // victim: a canonical owner of duplicated content — its erase must
    // hand the canonical id to the next-smallest copy, not drop it
    val victim = MediaQueries.mediaDedupState.read(spark, s"$t/m")
      .filter(col("n_copies") > 1).agg(min(col("canonical_id")))
      .head().getLong(0)
    MediaQueries.eraseMedia(spark, media, victim, s"$t/m")
    val retained = media.filter(col("media_id") =!= victim)
    val want = rows(retained
      .select(md5(col("bytes")).as("content_hash"), col("media_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("media_id")).as("canonical_id"),
        count(lit(1)).as("n_copies")))
    assert(rows(MediaQueries.mediaDedupState.read(spark, s"$t/m")) == want)
    assert(MediaQueries.mediaDedupState.read(spark, s"$t/m")
      .filter(col("canonical_id") === victim).isEmpty)
    // replay of the last (folded) batch writes invisible partitions
    MediaQueries.mediaDedupState.append(Media.mediaFromEvents(batches(2)), 2L, s"$t/m")
    assert(rows(MediaQueries.mediaDedupState.read(spark, s"$t/m")) == want)
    // post-erase ingest + compaction stay consistent
    MediaQueries.mediaDedupState.append(
      Media.mediaFromEvents(batches(0).filter(col("event_id") =!= victim)),
      3L, s"$t/m")
    MediaQueries.mediaDedupState.compact(spark, s"$t/m")
    assert(MediaQueries.mediaDedupState.read(spark, s"$t/m")
      .filter(col("canonical_id") === victim).isEmpty)
    // stale-frame guard
    intercept[IllegalArgumentException] {
      MediaQueries.eraseMedia(spark,
        media.withColumn("bytes",
          concat(col("bytes"), lit("zz").cast("binary"))),
        victim + 1, s"$t/m")
    }
  }

  test("boilerplate-ingest erase: counts rebuild from segs state; under-threshold copies resurface") {
    import graft.streaming.BoilerplateIngest
    val d = Tables.documents(spark, sfDir)
    val batches = docBatches(d)
    val t = tmp("graft_boil_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      BoilerplateIngest.processBatch(b, i.toLong, s"$t/segs", s"$t/cnt") }
    // victim: a contributor to some corpus-repeated segment, so the
    // erase moves a global count (possibly back under the threshold)
    val victim = NearDup.segmentsOf(d, 10)
      .groupBy(md5(col("seg")).as("h")).agg(min(col("doc_id")).as("first"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).agg(min(col("first"))).head().getLong(0)
    // compaction preserves reads; the erase then reaches a gen+live mix
    val preCompact = rows(BoilerplateIngest.readScrubbed(spark, s"$t/segs", s"$t/cnt"))
    BoilerplateIngest.compact(spark, s"$t/segs", s"$t/cnt")
    assert(rows(BoilerplateIngest.readScrubbed(spark, s"$t/segs", s"$t/cnt")) == preCompact)
    BoilerplateIngest.eraseDoc(spark, s"$t/segs", s"$t/cnt", victim)
    val retained = d.filter(col("doc_id") =!= victim)
    val want = rows(NearDup.boilerplateScrub(retained))
    assert(rows(BoilerplateIngest.readScrubbed(spark, s"$t/segs", s"$t/cnt")) == want)
    // idempotent re-run (crash-between-folds recovery)
    BoilerplateIngest.eraseDoc(spark, s"$t/segs", s"$t/cnt", victim)
    assert(rows(BoilerplateIngest.readScrubbed(spark, s"$t/segs", s"$t/cnt")) == want)
    // replay of the last (folded) batch writes invisible partitions
    BoilerplateIngest.processBatch(batches(2), 2L, s"$t/segs", s"$t/cnt")
    assert(rows(BoilerplateIngest.readScrubbed(spark, s"$t/segs", s"$t/cnt")) == want)
  }

  test("drift-ingest erase: counts rebuild from the retained corpus; audit == rebuild-without-doc") {
    import graft.ops.Drift
    val d = Tables.documents(spark, sfDir)
    val batches = docBatches(d)
    val feats = Seq("lang" -> col("lang"), "source" -> col("source"))
    val isRef = col("doc_id") % 2 === 0
    val t = tmp("graft_drift_erase")
    val state = Drift.countState(isRef, feats)
    def audit() = rows(Drift.auditFromCounts(state.read(spark, s"$t/cnt")))
    batches.zipWithIndex.foreach { case (b, i) =>
      state.append(b, i.toLong, s"$t/cnt") }
    val victim = d.agg(min(col("doc_id"))).head().getLong(0)
    val preCompact = audit()
    state.compact(spark, s"$t/cnt")
    assert(audit() == preCompact)
    Drift.eraseDoc(spark, s"$t/cnt", d, victim, isRef, feats)
    val want = rows(Drift.audit(d.filter(col("doc_id") =!= victim), isRef, feats))
    assert(audit() == want)
    // replay of the last (folded) batch writes invisible partitions
    state.append(batches(2), 2L, s"$t/cnt")
    assert(audit() == want)
    // post-erase ingest of genuinely new mass still lands
    state.append(batches(0).filter(col("doc_id") =!= victim), 3L, s"$t/cnt")
    assert(audit().size == 2)
  }

  test("importance-profile erase: negative delta == rebuild-without-doc; idempotent") {
    import graft.serving.ImportanceProfile
    val d = Tables.documents(spark, sfDir)
    val pred = col("lang") === "en"
    val victim = d.filter(pred).agg(min(col("doc_id"))).head().getLong(0)
    val t = tmp("graft_imp_erase")
    ImportanceProfile.materialize(d, pred, s"$t/profile")
    ImportanceProfile.eraseDoc(spark, s"$t/profile", d, victim, pred)
    val t2 = tmp("graft_imp_rebuild")
    val retained = d.filter(col("doc_id") =!= victim)
    ImportanceProfile.materialize(retained, pred, s"$t2/profile")
    assert(rows(ImportanceProfile.readProfile(spark, s"$t/profile")) ==
      rows(ImportanceProfile.readProfile(spark, s"$t2/profile")))
    // served scores equal the erased-world one-shot scores
    val probe = d.limit(50)
    assert(rows(ImportanceProfile.score(spark, s"$t/profile", probe)) ==
      rows(ImportanceProfile.score(spark, s"$t2/profile", probe)))
    // idempotent: a repeated (crash-retried) erase rewrites the same
    // deterministic partition, never double-subtracts
    ImportanceProfile.eraseDoc(spark, s"$t/profile", d, victim, pred)
    assert(rows(ImportanceProfile.readProfile(spark, s"$t/profile")) ==
      rows(ImportanceProfile.readProfile(spark, s"$t2/profile")))
  }

  test("vocab-ingest erase: census rebuilds from doc profiles; trained tokenizer == rebuild-without-doc") {
    import graft.streaming.VocabIngest
    val d = Tables.documents(spark, sfDir)
    val batches = docBatches(d)
    val t = tmp("graft_vocab_erase")
    batches.zipWithIndex.foreach { case (b, i) =>
      VocabIngest.processBatch(b, i.toLong, s"$t/docwords", s"$t/wordfreq") }
    // the streamed census equals the batch word-frequency table
    val wfBatch = rows(graft.ops.Bpe.wordFreqs(d))
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wfBatch)
    // compaction commutes with the read (additive folds)
    VocabIngest.compact(spark, s"$t/docwords", s"$t/wordfreq")
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wfBatch)
    // erase: census == batch census over the retained corpus, and the
    // TRAINED TOKENIZER equals one trained without the document
    val victim = d.agg(min(col("doc_id"))).head().getLong(0)
    VocabIngest.eraseDoc(spark, s"$t/docwords", s"$t/wordfreq", victim)
    val retained = d.filter(col("doc_id") =!= victim)
    val wantWf = rows(graft.ops.Bpe.wordFreqs(retained))
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wantWf)
    val vErased = graft.ops.Unigram.trainFromWordFreqs(
      VocabIngest.readWordFreqs(spark, s"$t/wordfreq"))
    assert(vErased == graft.ops.Unigram.train(retained))
    // idempotent re-run (crash-between-folds recovery)
    VocabIngest.eraseDoc(spark, s"$t/docwords", s"$t/wordfreq", victim)
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wantWf)
    // replay of the last (folded) batch writes invisible partitions
    VocabIngest.processBatch(batches(2), 2L, s"$t/docwords", s"$t/wordfreq")
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wantWf)
    // post-erase ingest continues: a NEW doc's words re-admit fresh
    VocabIngest.processBatch(d.filter(col("doc_id") === victim), 3L,
      s"$t/docwords", s"$t/wordfreq")
    assert(rows(VocabIngest.readWordFreqs(spark, s"$t/wordfreq")) == wfBatch)
  }

  test("erase guards are BIDIRECTIONAL: a frame missing an unrelated doc is refused, state untouched") {
    val docs = Tables.documents(spark, sfDir)
    // a doc with sole-owned hashes: its absence makes NON-victim
    // hashes leave the index, which the reverse guard must refuse
    def soleOwner(units: DataFrame): Long = units
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") === 1).agg(max(col("owner"))).head().getLong(0)
    def minOther(excl: Long): Long = docs.filter(col("doc_id") =!= excl)
      .agg(min(col("doc_id"))).head().getLong(0)

    // SegmentIngest
    locally {
      val t = tmp("graft_seg_guard2")
      SegmentIngest.processBatch(docs, 0L, s"$t/kept", s"$t/index")
      val missing = soleOwner(NearDup.segmentsOf(docs, 10)
        .select(md5(col("seg")).as("h"), col("doc_id")))
      val before = rows(SegmentIngest.readIndex(spark, s"$t/index"))
      intercept[IllegalArgumentException] {
        SegmentIngest.eraseDoc(spark, docs.filter(col("doc_id") =!= missing),
          minOther(missing), s"$t/kept", s"$t/index")
      }
      assert(rows(SegmentIngest.readIndex(spark, s"$t/index")) == before,
        "a refused erase must leave the index untouched")
    }
    // SpanIngest
    locally {
      val t = tmp("graft_span_guard2")
      SpanIngest.processBatch(docs, 0L, s"$t/kept", s"$t/index")
      val missing = soleOwner(NearDup.spanGramsOf(docs, 5)
        .select(md5(col("gram")).as("h"), col("doc_id")))
      intercept[IllegalArgumentException] {
        SpanIngest.eraseDoc(spark, docs.filter(col("doc_id") =!= missing),
          minOther(missing), s"$t/kept", s"$t/index")
      }
    }
    // CurationIngest: missing = an admitted doc with a unique fingerprint
    locally {
      val t = tmp("graft_cur_guard2")
      NearDup.releaseCheckpoint(
        CurationIngest.processBatch(docs, 0L, s"$t/kept", s"$t/index"))
      val missing = DocPipeline.curate(docs)
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
        .filter(col("nd") === 1).agg(max(col("owner"))).head().getLong(0)
      intercept[IllegalArgumentException] {
        CurationIngest.eraseDoc(spark, docs.filter(col("doc_id") =!= missing),
          minOther(missing), s"$t/kept", s"$t/index")
      }
    }
    // media dedup: every synthetic asset's content is duplicated, so
    // "missing" is a whole CONTENT GROUP — dropping all its copies
    // makes its hash leave the state, which only the victim's own
    // hash is allowed to do
    locally {
      import graft.queries.MediaQueries
      import graft.multimodal.Media
      val media = Media.mediaFromEvents(Tables.events(spark, sfDir))
      val t = tmp("graft_media_guard2")
      MediaQueries.mediaDedupState.append(media, 0L, s"$t/m")
      val withH = media.select(col("media_id"), md5(col("bytes")).as("h"))
      val missH = withH.agg(max(col("h"))).head().getString(0)
      val missingIds = withH.filter(col("h") === missH)
        .select(col("media_id")).collect().map(_.getLong(0)).toSeq
      val victim = media.filter(!col("media_id").isin(missingIds: _*))
        .agg(min(col("media_id"))).head().getLong(0)
      intercept[IllegalArgumentException] {
        MediaQueries.eraseMedia(spark,
          media.filter(!col("media_id").isin(missingIds: _*)),
          victim, s"$t/m")
      }
    }
  }
}
