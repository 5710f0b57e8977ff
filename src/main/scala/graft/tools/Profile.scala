package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.engine.BenchPipeline
import graft.operators.SpatialLayout

/**
 * The profiler of the flagship pipeline and the headline gate queries: one
 * stage/job listener, attached for one measured action at a time, stands in
 * for the Spark UI (disabled in these sessions). Nothing here changes what
 * `graft.Bench` times.
 *
 *  - `pipeline <cores[,cores…]> <nSites> <reps>`: per core count, a session
 *    with the bench's pipeline profile (AQE off, 4 shuffle partitions per
 *    core, uncompressed cache), one warm-up run, then `reps` timed
 *    [[BenchPipeline.pipelineCounts]] actions. Prints `PIPE` (wall, counts,
 *    GC seconds) and `FLOOR` (action start → first job, gaps between jobs,
 *    per-job wall) per rep, then the `PLAN` line (joins, cell equi-joins and
 *    shuffle exchanges of the action's executed plan) and the `PSTAGE` table
 *    of the last rep.
 *  - `headline <sfDir> <cpus> <trials> [planTag] [only]`: each headline
 *    query through the noop sink (every column of every row computed, no
 *    collection), min-of-`trials`, the `STAGE` table of the last trial;
 *    with a planTag, the formatted plan goes to `plans/r06/<q>_<tag>.txt`.
 */
object Profile {

  final case class StageRow(id: Int, name: String, wallMs: Long, runMs: Long,
                            shRead: Long, shWrite: Long, recs: Long)
  final case class JobSpan(id: Int, startMs: Long, endMs: Long, stages: Int)
  final case class Run[A](result: A, sec: Double, gcSec: Double, startMs: Long,
                          endMs: Long, stages: Seq[StageRow], jobs: Seq[JobSpan])

  private val FlushGroup = "graft-profile-flush"

  /** stage rows and job spans of every job outside the flush group, until
    * the flush job starts */
  private[tools] final class Listener extends SparkListener {
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobs = mutable.ArrayBuffer.empty[JobSpan]
    private val open = mutable.Map.empty[Int, (Long, Int)]
    @volatile var flushed = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(FlushGroup))
        flushed = true
      else open(e.jobId) = (e.time, e.stageIds.length)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (t0, n) => jobs += JobSpan(e.jobId, t0, e.time, n) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo; val m = si.taskMetrics
      if (!flushed) stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead)
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `body` with a listener on `spark`'s context and removes it after.
    * Listener events arrive in order, so once a marker job of its own group
    * shows up every event of `body` has been seen. */
  def profiled[A](spark: SparkSession, l: Listener = new Listener)(body: => A): Run[A] = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val g0 = gcMillis; val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val a = body
      val sec = (System.nanoTime() - n0) / 1e9; val t1 = System.currentTimeMillis()
      val gcSec = (gcMillis - g0) / 1e3
      sc.setJobGroup(FlushGroup, "profile listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!l.flushed && System.nanoTime() < deadline) Thread.sleep(20)
      l.synchronized(Run(a, sec, gcSec, t0, t1, l.stages.sortBy(_.id).toVector,
        l.jobs.sortBy(_.startMs).toVector))
    } finally sc.removeSparkListener(l)
  }

  /** joins, cell equi-joins (a join keyed on the spatial `cell` column) and
    * shuffle exchanges of a frame's executed plan; run an action first */
  final case class PlanShape(joins: Int, cellJoins: Int, exchanges: Int)
  def planShape(df: DataFrame): PlanShape = {
    val nodes = SpatialLayout.executedNodes(df)
    val joins = nodes.collect { case j: BaseJoinExec => j }
    PlanShape(joins.size,
      joins.count(_.leftKeys.exists(_.references.exists(_.name == "cell"))),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
  }

  /** one profiled flagship action: (match rows, emitted deviation rows) and
    * the shape of the plan that counted them */
  def pipeline(spark: SparkSession, nSites: Long,
               l: Listener = new Listener): Run[((Long, Long), PlanShape)] =
    profiled(spark, l) {
      val frame = BenchPipeline.pipelineFrame(spark, nSites)
      (BenchPipeline.countsOf(frame), planShape(frame))
    }

  private def printStages(tag: String, rows: Seq[StageRow]): Unit = rows.foreach { r =>
    println(f"$tag id=${r.id}%3d wall=${r.wallMs}%7dms run=${r.runMs}%8dms " +
      f"shR=${r.shRead >> 20}%6dM shW=${r.shWrite >> 20}%6dM recs=${r.recs}%10d ${r.name.take(70)}")
  }

  private def runPipeline(coreList: Seq[Int], n: Long, reps: Int): Unit = coreList.foreach { cores =>
    val spark = Sessions.local(cores, Sessions.Pipeline(aqe = false))
    def settle(): Unit = { spark.sharedState.cacheManager.clearCache(); System.gc() }
    BenchPipeline.pipelineCounts(spark, n min 20000L) // warm-up: codegen/JIT
    settle()
    for (rep <- 1 to reps) {
      val r = pipeline(spark, n)
      val ((m, d), plan) = r.result
      println(f"PIPE cores=$cores n=$n rep=$rep sec=${r.sec}%.2f match=$m dev=$d gc_sec=${r.gcSec}%.2f")
      val gaps = r.jobs.sliding(2).collect { case Seq(a, b) => b.startMs - a.endMs }
      println(s"FLOOR cores=$cores rep=$rep planLead=${r.jobs.headOption.fold(-1L)(_.startMs - r.startMs)}ms " +
        s"jobGaps=${gaps.mkString("+")}ms postLast=${r.jobs.lastOption.fold(-1L)(r.endMs - _.endMs)}ms " +
        "jobs=" + r.jobs.map(j => s"j${j.id}:${j.endMs - j.startMs}ms/${j.stages}st").mkString(","))
      if (rep == reps) {
        println(s"PLAN cores=$cores joins=${plan.joins} cell_joins=${plan.cellJoins} " +
          s"exchanges=${plan.exchanges}")
        printStages("PSTAGE", r.stages)
      }
      settle()
    }
    spark.stop()
  }

  private val headline = Seq(
    "q1_agg", "q2_join", "q3_topk_per_group", "q6_filter", "q9_events_hourly",
    "q_sp_dwithin", "q_sp_bestmatch", "q_sp_knn", "q_sp_tile",
    "q_txt_quality", "q_dedup_exact", "q_emb_topk")

  private def runHeadline(sfDir: String, cpus: Int, trials: Int, planTag: String,
                          only: Set[String]): Unit = {
    val spark = Sessions.local(cpus, Sessions.Pipeline(aqe = true))
    graft.SparkEntry.queries("q1_agg")(spark, sfDir).count() // warm-up: codegen/JIT
    headline.filter(q => only.isEmpty || only(q)).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (planTag.nonEmpty) {
        val dir = Files.createDirectories(Paths.get("plans/r06"))
        Files.writeString(dir.resolve(s"${name}_$planTag.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
      val runs = (1 to trials).map(_ => profiled(spark)(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
      printStages(f"STAGE $name%-18s", runs.last.stages)
      println(f"QUERY $name%-18s min=${runs.map(_.sec).min}%7.3f s  all=" +
        runs.map(r => f"${r.sec}%.3f").mkString(","))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("pipeline", cores, n, reps) =>
      runPipeline(cores.split(",").toSeq.map(_.toInt), n.toLong, reps.toInt)
    case Seq("headline", sf, cpus, trials, rest @ _*) =>
      runHeadline(sf, cpus.toInt, trials.toInt, rest.headOption.getOrElse(""),
        rest.drop(1).headOption.fold(Set.empty[String])(_.split(",").toSet))
    case _ => sys.error("usage: Profile pipeline <cores[,cores…]> <nSites> <reps> | " +
      "Profile headline <sfDir> <cpus> <trials> [planTag] [only]")
  }
}
