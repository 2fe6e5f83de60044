package graft

import org.apache.spark.sql.functions._
import graft.ops.Drift

/** Corpus drift audit ([[graft.ops.Drift]]): exact zero on identical
  * corpora, exact 2000 on disjoint supports, and parity with a
  * sequential integer reference on the real documents table.
  */
class DriftSpec extends SparkSuite {
  import spark.implicits._

  test("identical distributions audit to exactly zero drift") {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"source")
    // same corpus twice, tagged by parity: proportions identical
    val both = base.withColumn("doc_id", $"doc_id" * 2)
      .unionByName(base.withColumn("doc_id", $"doc_id" * 2 + 1))
    val out = Drift.audit(both, $"doc_id" % 2 === 0,
        Seq("lang" -> $"lang", "source" -> $"source"))
      .select($"feature", $"tvd_permille").as[(String, Long)].collect().toMap
    assert(out === Map("lang" -> 0L, "source" -> 0L))
  }

  test("disjoint supports audit to exactly 2000 permille") {
    val rows = (0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val out = Drift.audit(rows.toDF("id", "v"), $"id" % 2 === 0, Seq("v" -> $"v"))
      .as[(String, Long, String, Long)].collect()
    assert(out.toSeq === Seq(("v", 2000L, "a", 1000L)))
  }

  test("zero-mass corpus is the zero measure: one-sided features audit to 1000, never NULL") {
    // an erasure (or an empty fresh crawl) can cancel one side's
    // whole mass for a feature — the audit must define that case
    // (share of the empty corpus = 0 permille) instead of yielding
    // NULL through an integer divide-by-zero
    val rows = (0L until 30L).map(i => (i, "x"))
    // every row lands on the reference side: nb = 0
    val out = Drift.audit(rows.toDF("id", "v"), lit(true), Seq("v" -> $"v"))
      .as[(String, Long, String, Long)].collect()
    assert(out.toSeq === Seq(("v", 1000L, "x", 1000L)))
    // same through the count-table path with an explicit (ca, cb=0) row
    val counts = Seq(("v", "x", 30L, 0L)).toDF("feature", "value", "ca", "cb")
    val fromCounts = Drift.auditFromCounts(counts)
      .as[(String, Long, String, Long)].collect()
    assert(fromCounts.toSeq === Seq(("v", 1000L, "x", 1000L)))
  }

  test("ingest twin: out-of-order splits + replay equal the one-shot audit") {
    val d = Tables.documents(spark, sfDir)
    val features = Seq[(String, org.apache.spark.sql.Column)](
      "lang" -> $"lang", "source" -> $"source")
    val isRef = $"doc_id" % 2 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift_twin").toString
    val counts = s"$tmp/counts"
    val state = Drift.countState(isRef, features)
    // thirds by id-mod (NOT contiguous), processed out of order:
    // additivity makes any split/order converge
    def third(k: Int) = d.filter($"doc_id" % 3 === k)
    Seq(2, 0, 1).foreach(k =>
      state.append(third(k), k.toLong, counts))
    // replay one batch: idempotent partition overwrite, bit-exact no-op
    state.append(third(0), 0L, counts)
    val got = Drift.auditFromCounts(state.read(spark, counts))
      .as[(String, Long, String, Long)].collect().toSet
    val want = graft.ops.Drift.audit(d, isRef, features)
      .as[(String, Long, String, Long)].collect().toSet
    assert(got === want)
  }

  test("weighted audit equals the unweighted audit over replicated rows") {
    // mass-w semantics: a row with weight w must count exactly like w
    // copies of that row — the property that makes token-mass drift
    // ([[DocQueries.docDriftTokens]]) the same integer chain
    val rows = Seq((0L, "a", 3L), (1L, "a", 1L), (2L, "b", 2L),
      (3L, "b", 5L), (4L, "c", 1L), (5L, "a", 4L))
    val df = rows.toDF("id", "v", "w")
    val exploded = rows.flatMap { case (id, v, w) =>
      Seq.fill(w.toInt)((id, v)) }.toDF("id", "v")
    val weighted = Drift.audit(df, $"id" % 2 === 0, Seq("v" -> $"v"),
        weight = $"w")
      .as[(String, Long, String, Long)].collect().toSet
    val replicated = Drift.audit(exploded, $"id" % 2 === 0, Seq("v" -> $"v"))
      .as[(String, Long, String, Long)].collect().toSet
    assert(weighted === replicated)
    // and the default weight is exactly the old row-count audit
    val unit = Drift.audit(df, $"id" % 2 === 0, Seq("v" -> $"v"), lit(1L))
      .as[(String, Long, String, Long)].collect().toSet
    val plain = Drift.audit(df, $"id" % 2 === 0, Seq("v" -> $"v"))
      .as[(String, Long, String, Long)].collect().toSet
    assert(unit === plain)
  }

  test("audit matches a sequential integer reference on real documents") {
    val d = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source").as[(Long, String, String)]
      .collect()
    def ref(feature: String, of: ((Long, String, String)) => String) = {
      val (a, b) = d.partition(_._1 % 2 == 0)
      val ca = a.groupBy(of).view.mapValues(_.length.toLong).toMap
      val cb = b.groupBy(of).view.mapValues(_.length.toLong).toMap
      val (na, nb) = (a.length.toLong, b.length.toLong)
      val deltas = (ca.keySet ++ cb.keySet).toSeq.map { v =>
        v -> math.abs(ca.getOrElse(v, 0L) * 1000 / na - cb.getOrElse(v, 0L) * 1000 / nb)
      }
      val top = deltas.minBy { case (v, dl) => (-dl, v) }
      (feature, deltas.map(_._2).sum, top._1, top._2)
    }
    val want = Seq(ref("lang", _._2), ref("source", _._3)).sortBy(_._1)
    val got = Drift.audit(
        Tables.documents(spark, sfDir), $"doc_id" % 2 === 0,
        Seq("lang" -> $"lang", "source" -> $"source"))
      .as[(String, Long, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === want)
  }
}
