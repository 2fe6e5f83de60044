package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Media
import graft.streaming.{Merge, MergeableState, StateCompactor}

/** Multimodal plumbing queries: binary payload columns + stubbed
  * decode (see [[graft.multimodal.Media]]). The stub's arithmetic is
  * SQL-expressible, so the whole binary → mapPartitions → features
  * path has an exact DuckDB oracle.
  */
object MediaQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** events → binary media table → batch feature extraction. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Media.extractFeatures(spark,
      Media.mediaFromEvents(Tables.events(spark, dir))).toDF()

  /** Frame sampling fan-out: per-video frame counts + byte totals
    * (aggregated so the output is compact and integer-only).
    */
  def frameStats(spark: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(spark,
        Media.mediaFromEvents(Tables.events(spark, dir)))
      .toDF()
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(length(col("frame_bytes")).cast("long")).as("sampled_bytes"))

  /** Resize stage, validated through the feature extractor: images
    * halve (ceil) in bytes with the header byte preserved; non-images
    * pass through untouched.
    */
  def resizeFeatures(spark: SparkSession, dir: String): DataFrame =
    Media.extractFeatures(spark,
      Media.resizeImages(spark,
        Media.mediaFromEvents(Tables.events(spark, dir))).toDF()).toDF()

  /** Content-hash dedup of binary payloads: identical bytes collapse
    * to one canonical media id — the image/audio dedup step of a
    * multimodal ingest (hash computed executor-side on the binary
    * column; payload bytes never shuffle, only the 128-bit hash does).
    * Over one whole input the partial IS the merged state, so the
    * batch op is one aggregate.
    */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    mediaDedupState.partial(Media.mediaFromEvents(Tables.events(spark, dir)))

  /** Media dedup as MERGEABLE ingest state: each batch of `media`-
    * schema rows collapses to per-content-hash (canonical id = min
    * media_id, copy count) rows, and min of mins / sum of counts
    * merge associatively and commutatively — dedup over content
    * hashes is mergeable state, not first-claim admission state.
    * Payload bytes never persist and never shuffle: only (hash,
    * min-id, count) rows, bounded by distinct content per batch.
    */
  val mediaDedupState: MergeableState = MergeableState(
    _.select(md5(col("bytes")).as("content_hash"), col("media_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("media_id")).as("canonical_id"),
        count(lit(1)).as("n_copies")),
    Seq("content_hash"), Seq(Merge.Min("canonical_id"), Merge.Sum("n_copies")))

  /** Right-to-be-forgotten over [[mediaDedupState]]: additive counts
    * can't subtract and a min-merged canonical id can't un-min (the
    * state never kept the second-smallest owner), so the whole
    * visible state folds into a new generation computed from the
    * retained corpus ([[StateCompactor.rewriteState]]'s
    * manifest-committed rebuild). `media` is the full media corpus the
    * ingest has seen (caller-owned); a BIDIRECTIONAL stale-frame guard
    * refuses a frame carrying content hashes the state never admitted
    * AND a frame from which non-victim hashes would leave the state
    * (missing assets — which would silently erase other assets' dedup
    * state). Quiesced-slot + replay invisibility + crash
    * re-runnability inherited from rewriteState.
    */
  def eraseMedia(spark: SparkSession, media: DataFrame, mediaId: Long,
      path: String): Unit = {
    val newState = mediaDedupState.partial(media.filter(col("media_id") =!= mediaId))
      .localCheckpoint(true) // pinned: guard probe + generation write
    try {
      val state = StateCompactor.readState(spark, path).select(col("content_hash"))
      val unseen = newState.select(col("content_hash"))
        .join(state, Seq("content_hash"), "left_anti")
      if (!unseen.isEmpty)
        throw new IllegalArgumentException(
          s"eraseMedia: media frame contains content the state at $path " +
            "never ingested — wrong corpus for this state root")
      // reverse direction: hashes LEAVING the state must be the
      // victim's own content — a frame missing unrelated assets would
      // silently drop their dedup state
      val victim = media.filter(col("media_id") === mediaId)
        .select(md5(col("bytes")).as("content_hash"))
      val leaving = state
        .join(newState.select(col("content_hash")), Seq("content_hash"), "left_anti")
        .join(victim, Seq("content_hash"), "left_anti")
      if (!leaving.isEmpty)
        throw new IllegalArgumentException(
          s"eraseMedia: media frame is missing assets the state at $path " +
            "ingested — erasing would drop other assets' dedup state")
      StateCompactor.rewriteState(spark, path, newState)
    } finally graft.ops.NearDup.releaseCheckpoint(newState)
  }

  /** Cross-video FRAME overlap — duplicated-clip detection: sampled
    * frames whose exact bytes appear in ≥2 distinct videos, with
    * occurrence counts and the lowest owning id. The multimodal
    * analog of the dup-n-gram census: content reuse is found at the
    * sub-asset grain, where whole-file hashing ([[mediaDedup]]) is
    * blind. Frames hash executor-side (md5 before the aggregation),
    * so only 128-bit keys + ids cross the exchange — payload bytes
    * never shuffle; distinct-video counts dedup map-side.
    */
  def frameOverlap(spark: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(spark,
        Media.mediaFromEvents(Tables.events(spark, dir)))
      .toDF()
      .select(md5(col("frame_bytes")).as("frame_hash"), col("media_id"))
      .groupBy(col("frame_hash"))
      .agg(countDistinct(col("media_id")).as("n_videos"),
        count(lit(1)).as("n_occurrences"),
        min(col("media_id")).as("first_media_id"))
      .filter(col("n_videos") >= 2L)

  /** The media family's SIMILARITY tier, stacked on the exact tier:
    * payloads collapse to one canonical asset per distinct content
    * (min owning id — [[mediaDedup]]'s grouping), each canonical gets
    * a stub embedding ([[graft.multimodal.Media.embedStub]]; a real
    * deployment swaps in CLIP), and near-duplicate PAIRS come from
    * random-hyperplane LSH banding with exact-cosine verification
    * ([[graft.ops.Ann.rhpNearDupPairs]]) — duplicated-but-not-
    * identical assets that whole-file hashing is blind to.
    *
    * Scale shape: signatures (hash + 16-dim vector) are computed
    * payload-local in ONE pass; only they shuffle, the binary column
    * never does, and the LSH exchange is hash-only with vectors
    * fetched by id for candidates (the [[graft.ops.Ann]] invariant).
    * Threshold 0.8 sits mid-gap in the fixture's similarity
    * distribution (nearest pair sims 0.66 / 0.99), so the gate's
    * boundary decisions are rounding-safe in both engines.
    */
  def mediaNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupOf(mediaSignatureState.partial(
      Media.mediaFromEvents(Tables.events(spark, dir))))

  /** The similarity tier's signatures as MERGEABLE ingest state: each
    * batch's payloads collapse to per-content-hash (canonical id, stub
    * embedding) rows — both computed row-local in the scan stage
    * (codegen'd md5 + [[graft.functions.MediaExprs.embed_stub]]).
    * Identical bytes have identical embeddings, so min is a
    * deterministic pick, and (min, min) merges reproduce the batch
    * canonical set for ANY split and arrival order. 40 B of hash +
    * 128 B of vector per DISTINCT content is the state's whole
    * exchange and footprint: one pass over payload bytes, ever.
    */
  val mediaSignatureState: MergeableState = MergeableState(
    _.select(md5(col("bytes")).as("content_hash"), col("media_id"),
        graft.functions.MediaExprs.embed_stub(col("bytes")).as("embedding"))
      .groupBy(col("content_hash"))
      .agg(min(col("media_id")).as("canonical_id"),
        min(col("embedding")).as("embedding")),
    Seq("content_hash"), Seq(Merge.Min("canonical_id"), Merge.Min("embedding")))

  /** Near-duplicate pairs over merged signature state: the canonical
    * asset set, then RHP-LSH banding + exact-cosine verify
    * ([[graft.ops.Ann.rhpNearDupPairs]]).
    *
    * The BAND index is derived at read, not persisted per batch, and
    * deliberately: the hyperplanes are data-derived (the 64
    * lowest-id canonicals, so the oracle can replay them), and that
    * set is only stable once ingestion order no longer matters —
    * banding incrementally against an early snapshot would key later
    * batches to drifted planes. A deployment with FIXED random planes
    * can band each batch at ingest from this same signature state.
    */
  def nearDupOf(signatures: DataFrame, threshold: Double = 0.8): DataFrame =
    graft.ops.Ann.rhpNearDupPairs(
      signatures.select(col("canonical_id").as("media_id"), col("embedding")),
      threshold, idCol = "media_id", vecCol = "embedding")

  /** FRAME-grain media near-dup — the duplicated-CLIP detector both
    * exact tiers are blind to (r15 verdict): [[frameOverlap]] needs
    * exact recurring frame BYTES, [[mediaNearDup]] compares whole
    * assets — a re-encoded clip duplicated inside otherwise-different
    * videos shares neither. Here every sampled frame
    * ([[graft.multimodal.Media.sampleFrames]] over the documents-
    * backed video table — event props are ~9 bytes, one degenerate
    * frame per asset) gets a word-token SIMHASH fingerprint (the
    * pHash analog this environment can compute AND the oracle can
    * replay bit-for-bit), frame pairs within Hamming distance
    * `maxDist` come from [[graft.ops.NearDup.simhashPairs]]'s
    * pigeonhole blocking — frames re-keyed as docs, the full frame
    * cross-product never exists — and pairs aggregate to VIDEO-pair
    * evidence: ≥ `minLinks` distinct near-dup frame pairs. Everything
    * is integer arithmetic (votes, signatures, Hamming counts), so
    * the approximate detector itself hash-checks cross-engine — no
    * FP-threshold rounding seam.
    *
    * Scale shape: frame payload bytes never cross an exchange — the
    * per-token 60-bit hashes project in the scan stage and collapse
    * map-side into 60 vote sums per frame, so the signature shuffle
    * is O(frames), and the blocking equi-join exchanges only (chunk,
    * value, frame_id, sig) rows. frame_id = media_id·2²⁰ + idx keeps
    * the video id recoverable by a shift, no join back to a mapping
    * table.
    */
  def mediaFrameNearDup(spark: SparkSession, dir: String,
      maxDist: Int = 6, minLinks: Long = 2L): DataFrame =
    mediaFrameNearDupOf(spark,
      Media.mediaFromDocs(Tables.documents(spark, dir)), maxDist, minLinks)

  /** [[mediaFrameNearDup]] over an arbitrary media table (spec
    * surface: planted re-encoded clips).
    */
  def mediaFrameNearDupOf(spark: SparkSession, media: DataFrame,
      maxDist: Int = 6, minLinks: Long = 2L): DataFrame = {
    val frames = Media.sampleFrames(spark, media,
        frameSize = 64, stride = 2)
      .toDF()
      .select(
        (shiftleft(col("media_id"), 20) + col("frame_idx")).as("frame_id"),
        decode(col("frame_bytes"), "UTF-8").as("ftext"))
    graft.ops.NearDup.simhashPairs(frames, maxDist = maxDist,
      idCol = "frame_id", textCol = "ftext")
      .select(
        shiftright(col("doc_a"), 20).as("ma"),
        shiftright(col("doc_b"), 20).as("mb"))
      .filter(col("ma") =!= col("mb"))
      .select(least(col("ma"), col("mb")).as("media_a"),
        greatest(col("ma"), col("mb")).as("media_b"))
      .groupBy(col("media_a"), col("media_b"))
      .agg(count(lit(1)).as("n_links"))
      .filter(col("n_links") >= minLinks)
  }

  /** Content-hash media dedup built through the STREAMING ingest leg
    * ([[mediaDedupState]]): id-ordered event thirds land as per-batch
    * (hash, min-id, count) deltas, the read is the (min, sum) re-merge
    * — order-independent, so the gate shares `q_media_dedup`'s oracle
    * verbatim.
    */
  def mediaDedupStream(spark: SparkSession, dir: String): DataFrame =
    mediaDedupState.replay(spark, mediaThirds(spark, dir))

  /** The similarity tier built through the STREAMING ingest leg
    * ([[mediaSignatureState]]): id-ordered event thirds land as
    * per-batch signature deltas, and the read runs the SAME RHP-LSH +
    * exact-cosine verify as the batch gate — the streaming split must
    * be invisible in the pair set (shares `q_media_neardup`'s oracle).
    */
  def mediaNearDupStream(spark: SparkSession, dir: String): DataFrame =
    nearDupOf(mediaSignatureState.replay(spark, mediaThirds(spark, dir)))

  private def mediaThirds(spark: SparkSession, dir: String): Seq[DataFrame] =
    OlapQueries.idOrderedBatches(spark, dir).map(Media.mediaFromEvents)

  // payload = props' UTF-8 bytes, so DuckDB's md5 over the VARCHAR
  // hashes the identical byte string.
  private val mediaDedupOracle =
    """SELECT md5(props) AS content_hash,
      |  CAST(min(event_id) AS BIGINT) AS canonical_id,
      |  count(*) AS n_copies
      |FROM events GROUP BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q_media_frame_neardup" -> ((s, d) => mediaFrameNearDup(s, d)),
    "q_media_neardup" -> (mediaNearDup _),
    "q_media_neardup_stream" -> (mediaNearDupStream _),
    "q_media_dedup_stream" -> (mediaDedupStream _),
    "q_media_frame_overlap" -> (frameOverlap _),
    "q_media_dedup" -> (mediaDedup _),
    "q_media_features" -> (mediaFeatures _),
    "q_media_frame_stats" -> (frameStats _),
    "q_media_resize" -> (resizeFeatures _),
  )

  // full replay of the similarity tier: canonical payload per
  // distinct content (min owning id), the 16-dim byte-fold stub
  // embedding (dim d sums byte-64 over positions ≡ d mod 16; props
  // are ASCII so ascii(char) = byte), hyperplanes from the 64
  // lowest-id canonicals pairwise (bit = dot-vs-dot), 4 bands × 8
  // bits, band-collision candidates, exact cosine verify at 0.8
  private val mediaNearDupOracle =
      """WITH canon AS (
        |  SELECT CAST(min(event_id) AS BIGINT) AS media_id,
        |    list_transform(range(0, 16), d ->
        |      coalesce(list_sum(list_transform(range(1 + d, strlen(props) + 1, 16),
        |        i -> ascii(substring(props, CAST(i AS INTEGER), 1)) - 64.0)), 0.0)) AS v
        |  FROM events GROUP BY props
        |), pl AS (
        |  SELECT row_number() OVER (ORDER BY media_id) - 1 AS r, v
        |  FROM canon ORDER BY media_id LIMIT 64
        |), hp AS (
        |  SELECT CAST(a.r // 2 AS INT) AS i, a.v AS va, b.v AS vb
        |  FROM pl a JOIN pl b ON b.r = a.r + 1 WHERE a.r % 2 = 0
        |), sig AS (
        |  SELECT c.media_id, h.i,
        |    CASE WHEN list_dot_product(c.v, h.va)
        |          >= list_dot_product(c.v, h.vb)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM canon c CROSS JOIN hp h
        |), band AS (
        |  SELECT media_id, i // 8 AS band,
        |         CAST(SUM(bit << (i % 8)) AS BIGINT) AS bv
        |  FROM sig GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        |  FROM band a JOIN band b
        |    ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
        |)
        |SELECT c.id_a, c.id_b
        |FROM cand c
        |JOIN canon ea ON ea.media_id = c.id_a
        |JOIN canon eb ON eb.media_id = c.id_b
        |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.8""".stripMargin

  val oracles: Map[String, String] = Map(
    // full replay of the frame-grain detector: 64-byte frames at
    // 128-byte offsets (frameSize=64, stride=2 keeps chunk 2g),
    // per-frame word-token 60-bit simhash (the q_doc_dedup_simhash
    // vote chain), brute-force Hamming<=6 frame pairs across videos
    // (the Spark side's pigeonhole blocking is lossless by the
    // pigeonhole argument, so blocked == brute force), >=2 distinct
    // frame-pair links per video pair — all integer arithmetic, so
    // the approximation itself is hash-pinned
    "q_media_frame_neardup" ->
      """WITH frames AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id * 1048576 + 2*g AS BIGINT) AS frame_id,
        |    substring(text, CAST(128*g + 1 AS INTEGER), 64) AS fb
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, (strlen(text) + 127) // 128)) AS g
        |        FROM documents WHERE strlen(text) > 0)
        |), tok AS (
        |  SELECT frame_id, media_id, unnest(string_split(fb, ' ')) AS tok
        |  FROM frames
        |), th AS (
        |  SELECT frame_id, media_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok
        |), v AS (
        |  SELECT frame_id, media_id, b,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bits
        |  GROUP BY 1, 2, 3
        |), sig AS (
        |  SELECT frame_id, media_id,
        |    SUM(CASE WHEN vote >= 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sig
        |  FROM v GROUP BY 1, 2
        |), fp AS (
        |  SELECT least(a.media_id, b.media_id) AS media_a,
        |         greatest(a.media_id, b.media_id) AS media_b
        |  FROM sig a JOIN sig b
        |    ON a.frame_id < b.frame_id AND a.media_id <> b.media_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 6
        |)
        |SELECT media_a, media_b, count(*) AS n_links
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_media_neardup" -> mediaNearDupOracle,
    // min-merge signature state is order-independent: the stream-
    // built similarity tier must produce the identical pair set
    "q_media_neardup_stream" -> mediaNearDupOracle,
    // same kept-chunk rule as q_media_frame_stats (offsets 16·g, 8
    // bytes, substring truncates at end-of-payload exactly like the
    // Spark slice); props are ASCII so md5(VARCHAR) = md5(bytes)
    "q_media_frame_overlap" ->
      """WITH fr AS (
        |  SELECT event_id AS media_id,
        |    unnest(list_transform(range(0, (strlen(props) + 15) // 16),
        |      g -> md5(substring(props, CAST(16*g + 1 AS INTEGER), 8)))) AS frame_hash
        |  FROM events WHERE event_type = 'purchase' AND strlen(props) > 0)
        |SELECT frame_hash,
        |  count(DISTINCT media_id) AS n_videos,
        |  count(*) AS n_occurrences,
        |  CAST(min(media_id) AS BIGINT) AS first_media_id
        |FROM fr GROUP BY 1
        |HAVING count(DISTINCT media_id) >= 2""".stripMargin,
    // payload = props' UTF-8 bytes, so DuckDB's md5 over the VARCHAR
    // hashes the identical byte string.
    "q_media_dedup" -> mediaDedupOracle,
    // mergeable (min, sum) state: the stream-built dedup table equals
    // the batch op over everything ingested, any split or order
    "q_media_dedup_stream" -> mediaDedupOracle,
    "q_media_features" ->
      """SELECT event_id AS media_id,
        |  CASE WHEN event_type IN ('click','view') THEN 'image'
        |       WHEN event_type = 'purchase' THEN 'video'
        |       ELSE 'audio' END AS kind,
        |  CAST(strlen(props) AS BIGINT) AS n_bytes,
        |  CAST(ascii(props) AS BIGINT) AS header_byte,
        |  CAST(strlen(props) % 64 AS BIGINT) AS fake_width,
        |  CAST(ascii(props) % 64 AS BIGINT) AS fake_height,
        |  CAST(strlen(props) * 31 + ascii(props) AS BIGINT) AS checksum
        |FROM events""".stripMargin,
    // frameSize=8, stride=2: kept chunks start at byte offset 16*g,
    // so n_frames = ceil(L/16) and each kept chunk has
    // min(8, L - 16*g) bytes. A zero-length payload yields no frames,
    // so it produces no row on the Spark side (flatMap emits nothing
    // to aggregate) — mirror that with strlen > 0 here. Props are
    // ASCII JSON, so strlen (chars) == payload bytes.
    "q_media_frame_stats" ->
      """SELECT event_id AS media_id,
        |  CAST((strlen(props) + 15) // 16 AS BIGINT) AS n_frames,
        |  CAST(list_aggregate(list_transform(
        |      range(0, (strlen(props) + 15) // 16),
        |      g -> least(8, strlen(props) - 16*g)), 'sum') AS BIGINT) AS sampled_bytes
        |FROM events WHERE event_type = 'purchase' AND strlen(props) > 0""".stripMargin,
    // resize factor 2: images keep every 2nd byte -> n = ceil(L/2),
    // header (byte 0) preserved; video/audio pass through unchanged.
    "q_media_resize" ->
      """SELECT event_id AS media_id,
        |  CASE WHEN event_type IN ('click','view') THEN 'image'
        |       WHEN event_type = 'purchase' THEN 'video'
        |       ELSE 'audio' END AS kind,
        |  CAST(CASE WHEN event_type IN ('click','view')
        |       THEN (strlen(props) + 1) // 2 ELSE strlen(props) END AS BIGINT) AS n_bytes,
        |  CAST(ascii(props) AS BIGINT) AS header_byte,
        |  CAST(CASE WHEN event_type IN ('click','view')
        |       THEN ((strlen(props) + 1) // 2) % 64 ELSE strlen(props) % 64 END AS BIGINT) AS fake_width,
        |  CAST(ascii(props) % 64 AS BIGINT) AS fake_height,
        |  CAST(CASE WHEN event_type IN ('click','view')
        |       THEN ((strlen(props) + 1) // 2) * 31 + ascii(props)
        |       ELSE strlen(props) * 31 + ascii(props) END AS BIGINT) AS checksum
        |FROM events""".stripMargin,
  )
}
