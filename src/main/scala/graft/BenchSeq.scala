package graft

/** Time a sequence of query keys in order with the same session shape
  * as [[Bench]] — for diagnosing order-dependent interference between
  * bench keys: `runMain graft.BenchSeq k1 k2 k3 ...` times each key
  * (2 reps) after running its predecessors, exactly like the bench.
  *
  * When `SPARK_GRAFT_BENCH_OUT` is set, also writes a Bench-shaped
  * JSON artifact (min-of-reps per key) — `tools/sf3_probe.sh` uses
  * this to commit the sf3 regression probe as a file instead of a
  * commit-message table.
  */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val results = args.map { key =>
      val fn = SparkEntry.queries(key)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BENCHSEQ $key%-24s ${times.map(t => f"$t%.2f").mkString(" ")} s")
      key -> times
    }
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      def f3(d: Double) = f"$d%.3f"
      // A repeated key on the command line is legitimate here (probing
      // order-dependent interference, e.g. `k1 k1 k2`) — suffix the
      // repeats (`k1`, `k1#2`) so the JSON object keeps every rep pair
      // instead of JSON parsers silently dropping duplicate keys.
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val uniq = results.map { case (k, ts) =>
        val n = seen.updateWith(k)(c => Some(c.getOrElse(0) + 1)).get
        (if (n == 1) k else s"$k#$n") -> ts
      }
      def jstr(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val qs = uniq.map { case (k, ts) => s"${jstr(k)}:${f3(ts.min)}" }
        .mkString("{", ",", "}")
      val reps = uniq
        .map { case (k, ts) => s"${jstr(k)}:[${ts.map(f3).mkString(",")}]" }
        .mkString("{", ",", "}")
      val total = f3(results.map(_._2.min).sum)
      val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"sf":${jstr(sfDir)}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      println(line)
    }
    spark.stop()
  }
}
