package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: set up one workload once, run its warm-up ops, then run
 * its op in a closed loop (one client, one op in flight) for a fixed time,
 * and write the raw measurements as JSON for `perfbench/run.py` to reduce.
 *
 * With tracing on, ops alternate between untraced and traced, so the run
 * measures the tracing overhead against untraced ops made in the same
 * process; only traced ops contribute spans and layer counters.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --out <raw.json> --work <dir> --cores <n> --start <epoch s>
 * where `--start` is the wall-clock time the launcher started this JVM.
 */
object Main {
  def epochS(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt

    val spark = session(cores, work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(spark, trace)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val wl = Workloads(workload, spark, rec, seed, work)

    // set-up: inputs; in a traced run, the layers set-up ran, once more and
    // traced (op 0); then the workload's untimed warm-up ops while the JIT
    // compiles the hot paths. The first op's output, warm-up or timed, is
    // the reference the timed ops are checked against.
    wl.setUp()
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(i: Int, traced: Boolean, wall: Double, out: OpOut, err: Option[String],
               setUp: Boolean = false): Unit =
      ops += Json.obj(
        "op" -> Json.num(i), "traced" -> traced.toString, "setup" -> setUp.toString,
        "wall_s" -> Json.num(wall), "items" -> Json.num(out.items), "output" -> Json.str(out.output),
        "error" -> err.map(Json.str).getOrElse("null"),
        "counters" -> Json.obj(out.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    if (trace) {
      val t0 = System.nanoTime()
      try wl.setUpTrace().foreach { o =>
        val wall = (System.nanoTime() - t0) / 1e9
        val o2 = o.copy(counters = o.counters ++ o.untimed())
        record(0, traced = true, wall, o2, wl.check(o2, o2), setUp = true)
      } catch {
        case e: Exception => record(0, traced = true, (System.nanoTime() - t0) / 1e9, OpOut(0L, ""), failure(e), setUp = true)
      }
      wl.release()
    }
    var first: OpOut = null
    val warmUpS = (1 to wl.warmUpOps).map { _ =>
      val t0 = System.nanoTime()
      wl.prepare(0)
      val o = wl.op(0, traced = false)
      if (first == null) first = o
      wl.release()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = epochS() - a("start").toDouble
    System.err.println(f"perfbench: set-up took $setupS%.2f s (warm-up ops ${warmUpS.map(s => f"$s%.2f").mkString(" ")})")

    var heapPeak = 0L
    val loop0 = System.nanoTime()
    var i = 1
    var nTraced, nUntraced = 0
    // a traced run holds at least one op of each kind, whatever the op takes
    while ((System.nanoTime() - loop0) / 1e9 < seconds || (trace && (nTraced == 0 || nUntraced == 0))) {
      val traced = trace && i % 2 == 1
      wl.prepare(i)
      val t0 = System.nanoTime()
      val (out, wall, err) =
        try {
          val o = wl.op(i, traced)
          val s = (System.nanoTime() - t0) / 1e9
          // untimed: the output check, and counters that need a pass of
          // their own over what the op left cached
          val (o2, e2) = try (o.copy(counters = o.counters ++ o.untimed()), None)
                         catch { case e: Exception => (o, failure(e)) }
          if (first == null) first = o2
          (o2, s, wl.check(o2, first).orElse(e2))
        } catch { case e: Exception => (OpOut(0L, ""), (System.nanoTime() - t0) / 1e9, failure(e)) }
      if (traced) nTraced += 1 else nUntraced += 1
      // untimed: the heap an op leaves live, collected while its caches are
      // still held; the collection also keeps one op's garbage out of the next
      System.gc()
      heapPeak = heapPeak max heap.getHeapMemoryUsage.getUsed
      wl.release()
      System.err.println(f"perfbench: op $i traced=$traced took $wall%.2f s${err.fold("")(" FAILED: " + _)}")
      record(i, traced, wall, out, err)
      i += 1
    }
    val finalErr = try wl.finalCheck() catch { case e: Exception => failure(e) }

    val deadline = System.nanoTime() + 10000000000L
    while (!listener.idle && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(300) // task-end and stage-completed events trail job-end

    val spans = rec.spans.map(s => Json.obj(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name), "op" -> Json.num(s.op),
      "parent" -> Json.num(s.parent), "start_s" -> Json.num((s.startNs - loop0) / 1e9),
      "end_s" -> Json.num((s.endNs - loop0) / 1e9)))
    val groups = listener.synchronized(listener.groups.toSeq.sortBy(_._1).map { case (g, s) =>
      g -> Json.obj("jobs" -> Json.num(s.jobs), "tasks" -> Json.num(s.tasks),
        "executor_s" -> Json.num(s.execMs / 1e3), "gc_s" -> Json.num(s.gcMs / 1e3),
        "spill_bytes" -> Json.num(s.spillBytes), "shuffle_bytes" -> Json.num(s.shuffleWriteBytes),
        "records_read" -> Json.num(s.recordsRead), "task_skew" -> Json.num(s.worstSkew))
    })
    val raw = Json.obj(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "trace" -> trace.toString,
      "cores" -> Json.num(cores),
      "sizes" -> Json.obj(wl.sizes.map { case (k, v) => k -> Json.num(v) }: _*),
      "setup_s" -> Json.num(setupS),
      "warm_up_s" -> Json.arr(warmUpS.map(Json.num)),
      "heap_peak_bytes" -> Json.num(heapPeak),
      "ops" -> Json.arr(ops.toSeq),
      "final_error" -> finalErr.map(Json.str).getOrElse("null"),
      "run_counters" -> Json.obj(wl.runCounters().toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(spans.toSeq),
      "groups" -> Json.obj(groups: _*))
    Files.write(Paths.get(a("out")), raw.getBytes("UTF-8"))
    spark.stop()
  }

  def failure(e: Exception): Option[String] = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the bench profile of the pipeline tools: 4 shuffle partitions per
      // core, AQE off, uncompressed in-memory cache
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The few JSON shapes the raw output needs. */
object Json {
  def str(s: String): String = graft.core.Json.quote(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
