package graft

/** Dev utility: `sbt "runMain graft.ExplainExec <key>..."` — runs each
  * declared query to completion and prints the FINAL adaptive physical
  * plan (`queryExecution.executedPlan`), the only rendering that shows
  * AQE's runtime decisions: ReusedExchange / ReusedSubquery markers,
  * AQEShuffleRead coalescing, and runtime join-strategy rewrites.
  * [[ExplainQ]] prints the cheaper pre-execution plan; use this one
  * when the claim under audit is an exchange-reuse or AQE effect.
  * Session shape matches [[Bench]] (local[$SPARK_GRAFT_CPUS], stock
  * shuffle width) so the printed plan is the bench's plan.
  */
object ExplainExec {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    for (k <- args) {
      println(s"===== $k =====")
      val df = SparkEntry.queries(k)(spark, sfDir)
      Bench.materialize(df)
      // materialize hashes a derived frame; re-run the declared frame
      // itself so executedPlan reflects exactly this query
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
