package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval at a layer boundary. `layer` is the part of `name`
  * before the first dot (`streaming.jdbc_commit` belongs to `streaming`). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans held in memory for the whole run and written out at exit. A
  * disabled tracer runs the body and records nothing, so the untraced run
  * pays one branch per boundary. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def span[A](op: Int, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Self time per layer for one op: each span's duration minus the part
    * its direct children cover (children never overlap: one client). */
  def selfNs(op: Int): Map[String, Long] = {
    val mine = spans.filter(_.op == op)
    val childNs = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    mine.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("id,parent,op,name,start_ns,end_ns")
      spans.sortBy(_.id).foreach { s =>
        w.println(s"${s.id},${s.parent},${s.op},${s.name},${s.startNs},${s.endNs}")
      }
    } finally w.close()
  }
}

/** Counters of the `exec` layer, summed over the jobs of one job group. */
final class ExecCounters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, schedMs, shuffleRead, shuffleWrite, spill, gcMs = 0L
  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; cpuNs += o.cpuNs
    schedMs += o.schedMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
  }
}

/** Listener that files every job, stage and task under the job group that
  * was set on the submitting thread, and keeps each SQL execution's
  * physical plan text (to see which native kernels a workload runs,
  * including in jobs that `Q.build` runs eagerly). Read only after
  * [[drain]]. */
final class JobStats extends SparkListener {
  private val groups = mutable.Map.empty[String, ExecCounters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val planText = mutable.Map.empty[Long, String]
  private val execGroup = mutable.Map.empty[Long, String]

  private def at(g: String) = groups.getOrElseUpdate(g, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    at(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execGroup.getOrElseUpdate(x.toLong, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      at(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task duration not spent running,
      // deserializing or serializing the result
      val i = e.taskInfo
      c.schedMs += math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { planText(s.executionId) = s.physicalPlanDescription }
    case _ =>
  }

  /** Counters summed over every group that starts with `prefix`. */
  def sum(prefix: String): ExecCounters = synchronized {
    val c = new ExecCounters
    groups.foreach { case (g, v) => if (g.startsWith(prefix)) c += v }
    c
  }

  /** Physical plans of the SQL executions whose jobs ran under a group
    * starting with `prefix`. */
  def plans(prefix: String): Seq[String] = synchronized {
    execGroup.collect { case (x, g) if g.startsWith(prefix) => planText.get(x) }
      .flatten.toSeq
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
