package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.queries.DocQueries

/** `batch_gates`: passes over a pinned list of heavy `SparkEntry`
  * gates on seeded generated tables: at least one, and another only
  * while the window has room for it (judged by the previous pass).
  *
  * Gates that serve from a materialized stage table are timed through
  * their compute twin, so the pass times the computation, not a cache.
  * Gates that answer from a prebuilt index (search, ANN, PQ) build it
  * on their first call, which the set-up pass pays. Samples are pass
  * wall times; each gate's output must equal its set-up pass output,
  * and that one its DuckDB oracle.
  */
object BatchGates {
  val documents = 300
  val embeddings = 200
  val events = 10000

  // pinned here: an edit to ScaleBench.picks does not move the
  // benchmark. One gate per heavy family, plus a linear control.
  val gates: Seq[String] = Seq(
    "q_doc_dedup_canonical",   // star contraction
    "q_doc_dedup_minhash",     // MinHash + LSH banding
    "q_doc_unigram_trained",   // tokenizer training (unigram-LM EM)
    "q_embed_knn_pq",          // PQ / ADC index query
    "q_embed_dedup_canonical", // cosine pairs -> star contraction
    "q_type_pagerank",         // graph iteration
    "q_hour_profile")          // linear control

  private val computeForms: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_dedup_canonical" -> (DocQueries.dedupCanonicalCompute _))

  private def writeTables(ctx: Main.Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val docs = Gen.documents(ctx.seed, documents).map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(docs.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))).coalesce(1).write.parquet(s"$dir/documents.parquet")
    val embs = Gen.embeddings(ctx.seed, embeddings).map(e => Row(e.id, e.v.toSeq, e.label))
    spark.createDataFrame(embs.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val evEnd = Serve.histStartMs + 48L * 3600000L
    Main.eventsFrame(spark, Gen.history(ctx.seed, events, Serve.histStartMs, evEnd))
      .drop("value_cents").coalesce(1).write.parquet(s"$dir/events.parquet")
  }

  def run(ctx: Main.Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val missing = gates.filterNot(all.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")
    val fns = gates.map(g => g -> computeForms.getOrElse(g, all(g)))
    val dir = ctx.dir("data")
    writeTables(ctx, dir)
    res.data = dir

    def pass(): (Double, Seq[(String, Array[Row], StructType)]) = {
      val t0 = System.nanoTime()
      val outs = fns.map { case (g, fn) =>
        ctx.span(s"queries.$g") {
          val df = fn(spark, dir)
          (g, df.collect(), df.schema)
        }
      }
      (Main.elapsedMs(t0), outs)
    }
    // set-up: the first pass builds the indexes and warms the JIT
    val ts = System.nanoTime()
    val (_, first) = pass()
    res.setupS = Main.elapsedMs(ts) / 1000.0
    def sorted(outs: Seq[(String, Array[Row], StructType)]) =
      outs.map { case (g, r, _) => g -> r.map(_.toString).sorted.toSeq }.toMap
    val firstRows = sorted(first)

    val t0 = System.nanoTime()
    do {
      val (ms, outs) = pass()
      res.lat += ms
      val rows = sorted(outs)
      gates.foreach { g =>
        res.attempted += 1
        if (rows(g) != firstRows(g)) res.failed += 1
      }
    } while (Main.elapsedMs(t0) + res.lat.last <= ctx.seconds * 1000.0)
    res.throughput = res.attempted / (Main.elapsedMs(t0) / 1000.0)
    res.note(s"passes=${res.lat.size} gates=${gates.size} documents=$documents " +
      s"embeddings=$embeddings events=$events")

    val out = ctx.dir("out")
    first.foreach { case (g, rows, schema) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(s"$out/$g")
      res.checks += ((g, res.lat.size.toLong))
    }
    // the timed passes' calls: the set-up pass's come first
    if (ctx.tr.enabled) gates.foreach { g =>
      res.layer(s"queries.${g}_s") =
        Stats.median(ctx.tr.durations(s"queries.$g").drop(1)) / 1000.0
    }
    res
  }
}
