package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Media

class MediaSpec extends SparkSuite {
  import spark.implicits._

  test("feature extraction matches the stub decoder row-wise") {
    val media = Media.mediaFromEvents(Tables.events(spark, sfDir))
    val feats = Media.extractFeatures(spark, media)
    val joined = media.select(col("media_id"), length(col("bytes")).cast("long").as("len"))
      .join(feats.toDF(), "media_id")
    assert(joined.filter(col("n_bytes") =!= col("len")).count() === 0)
    assert(joined.filter(col("fake_width") =!= col("n_bytes") % 64).count() === 0)
    assert(joined.filter(col("checksum") =!= col("n_bytes") * 31 + col("header_byte")).count() === 0)
  }

  test("signature extraction: one pass yields the exact-dup hash and the stub embedding") {
    val bytes = "hello-media".getBytes("UTF-8")
    val media = Seq((1L, "image", bytes, "x"), (2L, "image", bytes, "x"),
      (3L, "audio", "other".getBytes("UTF-8"), "y"))
      .toDF("media_id", "kind", "bytes", "source")
    val sig = Media.extractSignatures(spark, media).collect()
    // identical payloads → identical (hash, embedding); distinct differ
    val byId = sig.map(s => s.media_id -> s).toMap
    assert(byId(1L).content_hash === byId(2L).content_hash)
    assert(byId(1L).embedding.toSeq === byId(2L).embedding.toSeq)
    assert(byId(1L).content_hash !== byId(3L).content_hash)
    // the embedding is the byte-fold: dim d sums (byte-64) at pos ≡ d mod 16
    val expect = Array.tabulate(16)(d =>
      bytes.indices.filter(_ % 16 == d).map(i => (bytes(i) & 0xff) - 64).sum.toDouble)
    assert(byId(1L).embedding.toSeq === expect.toSeq)
    // and the hash is the same md5 the exact-dup tier groups on
    val sqlMd5 = media.filter(col("media_id") === 1)
      .select(md5(col("bytes"))).head().getString(0)
    assert(byId(1L).content_hash === sqlMd5)
  }

  test("media near-dup pairs only canonical ids and only genuinely similar contents") {
    val pairs = graft.queries.MediaQueries.mediaNearDup(spark, sfDir)
    val got = pairs.select($"id_a", $"id_b")
      .as[(Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a < b }, "unordered pair leaked")
    // ids are the exact-tier canonicals (min owning id per content)
    val canon = graft.queries.MediaQueries.mediaDedup(spark, sfDir)
      .select($"canonical_id").as[Long].collect().toSet
    assert(got.forall { case (a, b) => canon(a) && canon(b) },
      "pair references a non-canonical asset id")
    // every reported pair really clears the cosine threshold
    val sig = Media.extractSignatures(spark,
      Media.mediaFromEvents(Tables.events(spark, sfDir))).collect()
      .map(s => s.media_id -> s.embedding).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(got.forall { case (a, b) => cos(sig(a), sig(b)) >= 0.8 })
  }

  test("frame near-dup catches a RE-ENCODED duplicated clip sharing no exact frame bytes; unrelated videos stay apart") {
    // three "videos": A and B carry the same clip, but B's encoding
    // reordered words inside each sampled frame window — every
    // sampled frame's BYTES differ (so frameOverlap is blind) while
    // the frame token multisets match (simhash hamming 0). C is
    // unrelated. 51 five-byte words = 255 bytes → sampled frames at
    // offsets 0 and 128 only.
    val words = (0 until 51).map(i => f"w$i%03d")
    def join(ws: Seq[String]) = ws.mkString(" ")
    val a = join(words)
    val bWords = words.updated(2, words(3)).updated(3, words(2))
      .updated(28, words(29)).updated(29, words(28))
    val b = join(bWords)
    val c = join((0 until 51).map(i => f"z$i%03d"))
    val docs = Seq((101L, a), (202L, b), (303L, c)).toDF("doc_id", "text")
      .withColumn("source", lit("spec"))
    val media = Media.mediaFromDocs(docs)
    // the exact tiers are provably blind: no sampled frame's bytes
    // recur across A and B
    val fr = Media.sampleFrames(spark, media, frameSize = 64, stride = 2)
      .collect().groupBy(_.media_id)
      .view.mapValues(_.map(f => new String(f.frame_bytes, "UTF-8")).toSet)
      .toMap
    assert(fr(101L).intersect(fr(202L)).isEmpty,
      "planted clip must share no exact frame bytes")
    val pairs = graft.queries.MediaQueries
      .mediaFrameNearDupOf(spark, media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((101L, 202L)),
      s"expected exactly the planted clip pair, got ${pairs.toSeq}")
    assert(pairs.head._3 >= 2L, "both sampled frames should link")
  }

  test("frame sampling keeps every stride-th chunk with correct sizes") {
    val one = Seq((1L, "video", "0123456789abcdefghij".getBytes, "x"))
      .toDF("media_id", "kind", "bytes", "source")
    val frames = Media.sampleFrames(spark, one, frameSize = 8, stride = 2)
      .collect().sortBy(_.frame_idx)
    // 20 bytes → chunks [8,8,4] at idx 0,1,2 → kept idx 0 and 2
    assert(frames.map(_.frame_idx).toSeq === Seq(0L, 2L))
    assert(frames.map(_.frame_bytes.length).toSeq === Seq(8, 4))
    assert(new String(frames(0).frame_bytes) === "01234567")
  }

  test("non-video rows produce no frames") {
    val one = Seq((1L, "image", "0123456789".getBytes, "x"))
      .toDF("media_id", "kind", "bytes", "source")
    assert(Media.sampleFrames(spark, one).count() === 0)
  }
  test("resize halves image bytes (ceil), preserves header, skips non-images") {
    val rows = Seq(
      (1L, "image", "0123456789".getBytes, "x"),  // 10 -> 5 bytes: 0,2,4,6,8
      (2L, "image", "abcde".getBytes, "x"),       // 5 -> 3 bytes: a,c,e
      (3L, "audio", "abcde".getBytes, "x")        // untouched
    ).toDF("media_id", "kind", "bytes", "source")
    val out = Media.resizeImages(spark, rows).collect().sortBy(_.media_id)
    assert(new String(out(0).bytes) === "02468")
    assert(new String(out(1).bytes) === "ace")
    assert(new String(out(2).bytes) === "abcde")
  }

  test("EmbedStub: codegen ≡ interpreted ≡ the reference stub; null payload → null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val samples = Seq("", "a", "hello-media-payload", "Z" * 100)
      .map(_.getBytes("UTF-8"))
    // interpreted eval (the nullSafeEval path, no codegen involved)
    samples.foreach { bytes =>
      val interp = graft.functions.EmbedStub(Literal(bytes)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray.toSeq
      assert(interp === Media.embedStub(bytes).toSeq)
    }
    // whole-stage-codegen'd path over a frame
    val df = samples.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "bytes")
    val got = df.select($"id",
        graft.functions.MediaExprs.embed_stub($"bytes").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    samples.zipWithIndex.foreach { case (b, i) =>
      assert(got(i.toLong) === Media.embedStub(b).toSeq)
    }
    val nulls = Seq((1L, null: Array[Byte])).toDF("id", "bytes")
      .select(graft.functions.MediaExprs.embed_stub($"bytes")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("streaming similarity tier: out-of-order split + replay reproduce the batch pair set; compaction commutes") {
    import graft.queries.MediaQueries
    val sigs = MediaQueries.mediaSignatureState
    val tmp = java.nio.file.Files
      .createTempDirectory("media_sig_spec").toString
    val state = s"$tmp/state"
    val media = Media.mediaFromEvents(Tables.events(spark, sfDir))
    val batchPairs = graft.queries.MediaQueries.mediaNearDup(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty)
    // odd ids before even (order-independence), plus a replay of
    // batch 0 (idempotence)
    sigs.append(
      media.filter($"media_id" % 2 === 1), 0L, state)
    sigs.append(
      media.filter($"media_id" % 2 === 0), 1L, state)
    sigs.append(
      media.filter($"media_id" % 2 === 1), 0L, state)
    assert(MediaQueries.nearDupOf(sigs.read(spark, state))
      .as[(Long, Long)].collect().toSet === batchPairs,
      "stream-built similarity tier diverged from the batch op")
    sigs.compact(spark, state)
    assert(MediaQueries.nearDupOf(sigs.read(spark, state))
      .as[(Long, Long)].collect().toSet === batchPairs,
      "signature compaction changed the pair set")
  }
}
