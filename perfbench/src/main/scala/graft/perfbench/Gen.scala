package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator owned by the benchmark (not
  * `streaming.Generator`, which has 50 uniform users and no lateness).
  *
  * Every property sits at a fixed emission position, so any seed gives
  * the same sizes: every 20th emission re-sends a recent event
  * (duplicate), every 5th is pulled back in event time by up to 8 s
  * (out of order, inside the 10 s watermark), and every 100th, once
  * `lateFrom` emissions have passed, is 5–6 minutes behind (later than
  * the watermark, so streaming dedup drops it). Users and restaurants
  * are Zipf-skewed. The seed only moves values, never counts.
  *
  * Sourced: five restaurants (the reference generator's and the
  * fixture's), 1500 users (the sf0.1 fixture's distinct users), the
  * 10 s watermark. Assumed, since no figure is published: the 5 %
  * duplicate, 20 % out-of-order and 1 % late shares (large enough that
  * every micro-batch has work for dedup and the late filter) and Zipf
  * exponent 1 (the plain Zipf law) over users and restaurants.
  */
object Gen {

  /** The restaurants (the `event_type` column). The API gates' DuckDB
    * oracles name `click`, so the alphabet is the fixture's.
    */
  val restaurants: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val users = 1500
  val zipfS = 1.0
  val dupEvery = 20
  val oooEvery = 5
  val lateEvery = 100
  val maxJitterMs = 8000L
  val lateBehindMs = 300000L

  final case class Ev(id: Long, tsMs: Long, user: Long, rest: String, cents: Long) {
    def value: Double = cents / 100.0
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val userZipf = new Zipf(users, zipfS)
  private val restZipf = new Zipf(restaurants.size, zipfS)

  /** Order value in cents: a skewed 1..40000 spread. */
  private def cents(r: SplittableRandom): Long =
    math.max(1L, math.min(40000L, math.exp(r.nextDouble() * 10.6).toLong))

  /** An event stream: emission i is nominally at `baseMs + i * stepMs`
    * of event time. Ids start at `firstId`.
    */
  final class Stream(seed: Long, baseMs: Long, stepMs: Double, firstId: Long,
      lateFrom: Long) {
    private val r = new SplittableRandom(seed)
    private val recent = new Array[Ev](dupEvery)
    private var i = 0L
    private var nextId = firstId

    /** The next emission. */
    def next(): Ev = {
      val at = i
      i += 1
      val nominal = baseMs + (at * stepMs).toLong
      val kept = recent.filter(_ != null)
      if (at % dupEvery == dupEvery - 1 && kept.nonEmpty)
        kept(r.nextInt(kept.length))
      else {
        val ts =
          if (at >= lateFrom && at % lateEvery == 37) nominal - lateBehindMs - r.nextLong(60000L)
          else if (at % oooEvery == 2) nominal - r.nextLong(maxJitterMs)
          else nominal
        val e = Ev(nextId, ts, userZipf.sample(r).toLong,
          restaurants(restZipf.sample(r)), cents(r))
        nextId += 1
        if (ts >= nominal - maxJitterMs) recent((at % dupEvery).toInt) = e
        e
      }
    }

    def take(n: Int): Vector[Ev] = Vector.fill(n)(next())
  }

  /** A history of `n` distinct in-order events over `[startMs, endMs)`
    * (what a serving root is materialized from: already deduped).
    */
  def history(seed: Long, n: Int, startMs: Long, endMs: Long): Vector[Ev] = {
    val r = new SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      Ev(i.toLong, startMs + (endMs - startMs) * i / n + r.nextLong((endMs - startMs) / n),
        userZipf.sample(r).toLong, restaurants(restZipf.sample(r)), cents(r))
    }
  }

  /** First-wins dedup plus late drop: the semantics of
    * `dropDuplicatesWithinWatermark` under a 10 s delay when each batch
    * is followed by its watermark-only batch, so batch `b` drops rows
    * older than the max ts of all earlier batches, minus 10 s.
    */
  def survivors(batches: Seq[Seq[Ev]]): Vector[Ev] = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var maxTs = Long.MinValue
    val out = Vector.newBuilder[Ev]
    batches.foreach { b =>
      val wm = if (maxTs == Long.MinValue) Long.MinValue else maxTs - 10000L
      b.foreach { e => if (e.tsMs >= wm && seen.add(e.id)) out += e }
      b.foreach(e => maxTs = math.max(maxTs, e.tsMs))
    }
    out.result()
  }

  /** Measured share of each input property over an emitted sequence. */
  def shares(evs: Seq[Ev]): Seq[(String, Double)] = {
    val n = evs.size.toDouble
    var maxTs = Long.MinValue
    var ooo, late = 0
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var dup = 0
    evs.foreach { e =>
      if (!seen.add(e.id)) dup += 1
      if (e.tsMs < maxTs - 10000L) late += 1
      else if (e.tsMs < maxTs) ooo += 1
      maxTs = math.max(maxTs, e.tsMs)
    }
    def top1(k: Ev => Any) = evs.groupBy(k).values.map(_.size).max / n
    Seq("dup_share" -> dup / n, "out_of_order_share" -> ooo / n,
      "late_share" -> late / n, "top_user_share" -> top1(_.user),
      "top_restaurant_share" -> top1(_.rest))
  }

  private val words = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Vector("en", "zh", "es", "fr", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents; every 10th is a one-word edit of an earlier one
    * and every 50th an exact copy, so the dedup gates find clusters.
    */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = new SplittableRandom(seed)
    val langZipf = new Zipf(langs.size, 1.0)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val text =
        if (i > 0 && i % 50 == 49) docs(r.nextInt(docs.size)).text
        else if (i > 0 && i % 10 == 9) {
          val w = docs(r.nextInt(docs.size)).text.split(' ')
          w(r.nextInt(w.length)) = words(r.nextInt(words.size))
          (w :+ "dup").mkString(" ")
        } else Vector.fill(8 + r.nextInt(90))(words(r.nextInt(words.size))).mkString(" ")
      docs += Doc(i.toLong, text, langs(langZipf.sample(r)), s"src${r.nextInt(20)}")
    }
    docs.toVector
  }

  final case class Emb(id: Long, v: Array[Float], label: Int)

  /** `n` unit vectors in 10 clusters of dimension 64; every 20th is a
    * near-copy of an earlier vector.
    */
  def embeddings(seed: Long, n: Int, dim: Int = 64): Vector[Emb] = {
    val r = new SplittableRandom(seed)
    val centers = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    def unit(a: Array[Double]) = {
      val norm = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / norm).toFloat)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Emb]
    (0 until n).foreach { i =>
      if (i > 0 && i % 20 == 19) {
        val src = out(r.nextInt(out.size))
        out += Emb(i.toLong, unit(src.v.map(x => x + (r.nextDouble() - 0.5) * 0.002)), src.label)
      } else {
        val l = r.nextInt(10)
        out += Emb(i.toLong, unit(centers(l).map(x => x + (r.nextDouble() - 0.5) * 1.2)), l)
      }
    }
    out.toVector
  }
}
