package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ~N× scale-up of a driver fixture directory — the
  * scale-cliff stress harness's data half (see [[ScaleBench]] for the
  * measurement half): the 2–4 s iterative families and every
  * "bounded ×k expand" claim are otherwise measured only at sf0.1
  * (~17 MB), where an accidental O(n²) can hide inside scheduler
  * noise. Derivation is seed-free and pure (copy index arithmetic
  * over the already-seeded source tables), so re-running bit-
  * reproduces the fixture.
  *
  * Per-copy transforms keep each table's DISTRIBUTIONS while making
  * copies non-colliding — a 10× corpus of byte-identical copies
  * would turn every dedup family into one artificial mega-cluster
  * (quadratic by construction, not by bug), which stresses nothing
  * real:
  *
  *  - events: ids and users offset per copy (cardinality grows with
  *    volume, per-user history shape unchanged); timestamps kept, so
  *    rows PER WINDOW grow ×N — the windowed-agg stress axis.
  *  - documents: ids offset; text passed through a per-copy AFFINE
  *    permutation of the lowercase alphabet (rotation for the first
  *    26 copies — the historical derivation — then multiplier
  *    variants, 312 distinct maps) — token lengths, duplicate
  *    structure, and n-gram statistics survive within a copy, while
  *    shingles never collide across copies (cluster COUNT scales,
  *    cluster SIZE doesn't — the linear-growth regime real corpora
  *    follow), which holds past 26 copies only because the maps
  *    don't cycle.
  *  - embeddings: ids offset; vectors circularly shifted by the copy
  *    index — norms and within-copy similarities are preserved
  *    exactly, cross-copy similarities decorrelate.
  *
  *   sbt "runMain graft.tools.ScaleFixture /root/testdata/sf0.1 target/sf1x 10"
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1x")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.SparkEntry.session(32)
    write(spark, src, out, factor)
    println(s"[fixture] wrote ${factor}x of $src to $out")
    spark.stop()
  }

  def write(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val copies = (0 until factor).toSeq

    // events: driver file stores ts as INT64 nanos — go through the
    // normalizing loader, then persist a plain TIMESTAMP column the
    // same loader passes through unchanged
    val ev = graft.Tables.events(spark, src)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    expand(ev, copies) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * 1_000_000_000_000L))
        .withColumn("user_id", col("user_id") + lit(i * 1_000_000_000L))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    val abc = "abcdefghijklmnopqrstuvwxyz"
    // per-copy AFFINE alphabet permutation j -> (m·j + k) mod 26 —
    // rotation alone cycles at 26 copies, so a 100× fixture would
    // plant exact duplicate text across copies 26 apart and inflate
    // cluster SIZES (the regime the derivation exists to avoid). The
    // 12 multipliers coprime to 26 × 26 shifts give 312 distinct
    // permutations; two distinct affine maps agree on at most one
    // letter, so shingles still never collide across copies. For
    // i <= 25 this IS the old rotation (m = 1), so existing 10×
    // fixtures derive bit-identically.
    val unitsOf26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def perm(i: Int): String = {
      val k = i % 26
      val m = unitsOf26((i / 26) % 12)
      (0 until 26).map(j => abc((m * j + k) % 26)).mkString
    }
    require(copies.size <= 312,
      s"factor ${copies.size} exceeds the 312 distinct affine alphabet maps")
    val docs = graft.Tables.documents(spark, src)
    expand(docs, copies) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * 1_000_000_000L))
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), abc, perm(i)))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // circular shift cycles at the dimension count (64 in the driver
    // fixture): past that many copies, shifted vectors repeat — fine
    // for the DOC families a >26-copy fixture targets, but embedding-
    // family slopes should be read from fixtures within one cycle
    val emb = graft.Tables.embeddings(spark, src)
    expand(emb, copies) { (df, i) =>
      val shifted =
        if (i == 0) col("embedding")
        else concat(
          expr(s"slice(embedding, ($i % size(embedding)) + 1," +
            s" size(embedding) - ($i % size(embedding)))"),
          expr(s"slice(embedding, 1, $i % size(embedding))"))
      df.withColumn("vec_id", col("vec_id") + lit(i * 1_000_000_000L))
        .withColumn("embedding", shifted)
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def expand(base: DataFrame, copies: Seq[Int])(
      tf: (DataFrame, Int) => DataFrame): DataFrame =
    copies.map(i => tf(base, i)).reduce(_ unionAll _)
}
