package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region: a layer call made by the benchmark around one op. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long)

/** Per job-group totals from the listener; a group is "<op>/<span name>". */
final class GroupStats {
  var jobs = 0L; var tasks = 0L
  var execMs = 0L; var gcMs = 0L
  var spillBytes = 0L; var shuffleWriteBytes = 0L
  var recordsRead = 0L
  var worstSkew = 0.0
}

/**
 * Spans kept in memory, written out at the end of the run. Each span sets a
 * Spark job group so the listener can attribute jobs, tasks, GC, spill and
 * shuffle to the layer call that caused them. Disabled, `span` only runs its
 * body.
 */
final class Recorder(spark: SparkSession, enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)] // (span id, job group)

  def span[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val group = s"$op/$name"
      spans += Span(id, name, op, parent, System.nanoTime(), -1L)
      stack = (id, group) :: stack
      spark.sparkContext.setJobGroup(group, group)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((_, g)) => spark.sparkContext.setJobGroup(g, g)
          case None         => spark.sparkContext.clearJobGroup()
        }
      }
    }
}

/** Attributes finished stages and tasks to the job group that ran them. */
final class LayerListener extends SparkListener {
  val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var openJobs = 0

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { openJobs -= 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stats(stageGroup.getOrElse(e.stageId, ""))
    g.tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      g.execMs += m.executorRunTime
      g.gcMs += m.jvmGCTime
      g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    taskMs.remove(id).filter(_.nonEmpty).foreach { ts =>
      val g = stats(stageGroup.getOrElse(id, ""))
      g.worstSkew = g.worstSkew max Stats.skew(ts.toSeq)
    }
  }

  def idle: Boolean = synchronized(openJobs == 0)
}

object Stats {
  /** max ÷ median task time of one stage; 1.0 for a stage of equal tasks */
  def skew(ms: Seq[Long]): Double = {
    val s = ms.sorted
    val med = if (s.size % 2 == 1) s(s.size / 2).toDouble
              else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    if (med <= 0) 1.0 else s.last / med
  }
}
