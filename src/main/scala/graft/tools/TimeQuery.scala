package graft.tools

/** Dev profiling harness: time one SparkEntry query N times warm.
  *
  *   sbt "runMain graft.tools.TimeQuery /root/testdata/sf0.1 q_sql_topk_rollup 10"
  *
  * Prints per-call wall ms and the min — the same measure Bench
  * reports — without paying the full 120-query sweep to profile one
  * entry.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = graft.SparkEntry.session(32)
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to n).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[timequery] $name call $i: $ms%.1f ms")
      ms
    }
    println(f"[timequery] $name min of $n: ${times.min}%.1f ms")
    spark.stop()
  }
}
