package graft

/** Time one query by key: `runMain graft.BenchOne <key> [reps]` — the
  * same session shape and materializer as [[Bench]], for focused
  * optimization work without the full inventory run. Prints one line
  * per rep plus the min; honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: BenchOne <queryKey> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val fn = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"no query '$key'"))
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"BENCHONE $key rep$i $dt%.3f s")
      dt
    }
    println(f"BENCHONE $key min ${times.min}%.3f s")
    spark.stop()
  }
}
