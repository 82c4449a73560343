package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into each graft module.
  *
  * A span is (id, parent, op, name, start, end); `op` is the id of the
  * timed operation it belongs to, shared by all its spans. A span's
  * name starts with its layer (`connector.get_plan` is layer
  * `connector`). Each span runs its Spark jobs under its own job group,
  * so the listener's task counters join back to the span. Disabled,
  * `span` is a plain call: untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.Span

  /** Task counters summed per span id. */
  final class TaskSums {
    var jobs, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWriteBytes, fetchWaitMs = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Double]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var curOp = 0L
  /** First span id of the timed region; set-up spans fall below it. */
  private var firstTimed = Int.MaxValue
  private val sums = mutable.HashMap.empty[Int, TaskSums]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("span-")).foreach { gid =>
        val id = gid.stripPrefix("span-").toInt
        sums.getOrElseUpdate(id, new TaskSums).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val s = sums.getOrElseUpdate(id, new TaskSums)
        s.tasks += 1
        s.durationsMs += e.taskInfo.duration.toDouble
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Ends set-up: every figure below reads only the spans opened from
    * now on, so seeding and warm-up stay out of the per-layer metrics.
    */
  def startTimed(): Unit = firstTimed = nextId

  private def timedSpans: Seq[Span] = spans.filter(_.id >= firstTimed).toSeq

  /** Starts a new timed operation; its spans share this id. */
  def newOp(): Unit = curOp += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, t1)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every timed span of this name, oldest first. */
  def named(name: String): Seq[Span] = timedSpans.filter(_.name == name)

  def durationsMs(name: String): Seq[Double] =
    named(name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Task counters of these spans and of all spans below them. */
  def tasksUnder(roots: Seq[Span]): TaskSums = {
    drain()
    val children = spans.groupBy(_.parent)
    val out = new TaskSums
    def add(s: Span): Unit = {
      sums.get(s.id).foreach { t =>
        out.jobs += t.jobs; out.tasks += t.tasks; out.runMs += t.runMs
        out.cpuNs += t.cpuNs; out.gcMs += t.gcMs
        out.shuffleWriteBytes += t.shuffleWriteBytes
        out.fetchWaitMs += t.fetchWaitMs; out.durationsMs ++= t.durationsMs
      }
      children.getOrElse(s.id, Nil).foreach(add)
    }
    roots.foreach(add)
    out
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Self time per layer: each timed span's duration minus the part
    * its children cover, summed by the name's first segment, in ms.
    */
  def layerSelfMs(): Seq[(String, Double)] = {
    val timed = timedSpans
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    timed.foreach(s => childNs(s.parent) += s.endNs - s.startNs)
    val self = mutable.TreeMap.empty[String, Double].withDefaultValue(0.0)
    timed.foreach { s =>
      self(s.name.takeWhile(_ != '.')) +=
        (s.endNs - s.startNs - childNs(s.id)) / 1e6
    }
    self.toSeq.map { case (l, v) => s"self.${l}_ms" -> v }
  }

  /** Spark runtime figures over every timed operation (root `op.*`
    * spans): per-op job, task, CPU, GC, shuffle and fetch-wait totals,
    * and the share of task-slot time busy while the ops ran.
    */
  def sparkTotals(): Seq[(String, Double)] = {
    val ops = timedSpans.filter(s => s.parent == 0 && s.name.startsWith("op."))
    val t = tasksUnder(ops)
    val n = math.max(ops.size, 1).toDouble
    val wallMs = ops.map(s => (s.endNs - s.startNs) / 1e6).sum
    Seq(
      "spark.jobs_per_op" -> t.jobs / n,
      "spark.tasks_per_op" -> t.tasks / n,
      "spark.executor_cpu_ms" -> t.cpuNs / 1e6 / n,
      "spark.gc_ms" -> t.gcMs / n,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "spark.shuffle_fetch_wait_ms" -> t.fetchWaitMs / n,
      "spark.slot_busy_share" -> t.runMs / math.max(wallMs * nproc, 1e-9))
  }

  private def nproc: Int = sc.defaultParallelism

  def writeSpans(path: String): Unit = {
    val lines = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startNs: Long, endNs: Long)
}
