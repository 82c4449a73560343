package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Fixtures.table]]'s relation cache holds no stopped session. The
  * suites share one SparkContext, so the stop runs in a JVM of its own
  * ([[FixturesCacheProbe]]), started with this JVM's classpath and
  * options.
  */
class FixturesCacheSpec extends AnyFunSuite {

  test("a stopped session's relations leave the Fixtures cache at the next load") {
    val dir = Files.createTempDirectory("graft-relcache")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opts ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.FixturesCacheProbe", dir.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").mkString
    assert(proc.waitFor() === 0, out)
    assert(out.linesIterator.contains("held stopped=false live=true"), out)
  }
}

/** Loads one relation in a session, stops it, loads again in a new
  * session, and prints which of the two the cache still holds.
  */
object FixturesCacheProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val a = session()
    a.range(3).write.parquet(s"$dir/t.parquet")
    Fixtures.table(a, dir, "t").count()
    require(Fixtures.cachedSessions.exists(_ eq a), "first load must be cached")
    a.stop()
    val b = session()
    Fixtures.table(b, dir, "t").count()
    val held = Fixtures.cachedSessions
    println(s"held stopped=${held.exists(_ eq a)} live=${held.exists(_ eq b)}")
    b.stop()
  }
}
