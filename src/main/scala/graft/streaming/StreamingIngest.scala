package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.util.{Failure, Try}

/**
 * Structured-Streaming front end (SURVEY.md §2.10): the reference emulates
 * streaming with 10-minute Airflow micro-batches + triggers; here the same
 * semantics run as readStream -> foreachBatch over the pages table, each
 * micro-batch being one replication batch:
 *
 *   pages stream -> extract features -> per-dataset match + deviation view
 *   -> DeviationStore.sync (idempotent upsert keyed on the uniq tuple, so
 *   replays are safe — the sequence-number checkpoint of osm_replication.py
 *   maps onto Spark's checkpointLocation offsets).
 *
 * Plus a classic watermarked tumbling-window aggregate over the events
 * stream (the T8 capability the reference lacks but a Spark engine should
 * expose).
 */
object StreamingIngest {

  /** watermarked tumbling hourly aggregate over an events directory. */
  def eventsHourly(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    spark.readStream.schema(schema).parquet(eventsDir)
      // the driver parquet stores ts as TIMESTAMP_NTZ; event-time semantics
      // need the instant type
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** `outputMode` defaults to `update` — the mode under which the watermark
    * actually evicts closed windows from the state store. `complete` keeps
    * ALL windows in state forever (eviction is disabled by definition) and is
    * only sound for finite AvailableNow replays into a memory sink, where the
    * parity tests pass it explicitly. */
  def startEventsHourly(spark: SparkSession, eventsDir: String, queryName: String,
                        outputMode: String = "update"): StreamingQuery =
    eventsHourly(spark, eventsDir).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /**
   * Watermarked streaming rasterization — the streaming form of
   * `operators.Raster.rasterize`: per (event-time window, z-tile pixel)
   * density over a geocoded point stream. The pixel assignment is pure
   * column arithmetic (Raster.withPixel), so it runs inside the streaming
   * aggregation's codegen; state is bounded by open-windows × occupied
   * pixels and the watermark evicts closed windows — at the 10^12-row
   * design point the state store never holds more than one watermark-delay's
   * worth of pixel rows per window. The eviction bound holds only under
   * `update`/`append` output modes — `complete` mode keeps every window in
   * state forever, so the start helpers default to `update`.
   */
  def streamingDensity(pts: DataFrame, tsCol: String,
                       lonCol: org.apache.spark.sql.Column,
                       latCol: org.apache.spark.sql.Column,
                       z: Int = 14, res: Int = 256,
                       windowDur: String = "1 hour",
                       watermarkDelay: String = "1 hour"): DataFrame =
    graft.operators.Raster.withPixel(
        pts.withColumn("__ts", col(tsCol).cast("timestamp"))
          .withWatermark("__ts", watermarkDelay),
        lonCol, latCol, z, res)
      .groupBy(window(col("__ts"), windowDur).as("w"),
        col("tile_x"), col("tile_y"), col("px"), col("py"))
      .agg(count(lit(1)).as("density"))
      .select(col("w.start").as("hour"), col("tile_x"), col("tile_y"),
        col("px"), col("py"), col("density"))

  /**
   * Session-window aggregation over an event stream via Spark's native
   * `session_window` (gap-merged event-time sessions; the state store
   * merges overlapping [ts, ts+gap) windows, so per-key state is one open
   * session, evicted once the watermark passes its close — O(active keys),
   * not O(events)). Works identically on a BATCH frame (the driver-gate /
   * oracle form) and on a stream (StreamingSpec asserts parity).
   *
   * Boundary semantics differ deliberately from `operators.Temporal
   * .sessionize`: `session_window` starts a NEW session when the gap is
   * ≥ `gap` (window end is exclusive), while sessionize's lag form keeps
   * an exactly-at-gap event in the old session (strict >). Both are
   * oracled, each under its own rule.
   */
  def sessionsAgg(events: DataFrame, keyCol: String, tsCol: String,
                  gap: String, watermarkDelay: Option[String] = None): DataFrame = {
    val ts = events.withColumn("__ts", col(tsCol).cast("timestamp"))
    val marked = watermarkDelay.fold(ts)(d => ts.withWatermark("__ts", d))
    marked
      .groupBy(col(keyCol), session_window(col("__ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("sum_value"))
      .select(col(keyCol),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** see `startEventsHourly` for the `outputMode` contract. */
  def startSessions(spark: SparkSession, eventsDir: String, queryName: String,
                    gap: String = "30 minutes",
                    outputMode: String = "update"): StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    sessionsAgg(stream, "user_id", "ts", gap, watermarkDelay = Some("1 hour"))
      .writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** see `startEventsHourly` for the `outputMode` contract. */
  def startStreamingDensity(spark: SparkSession, eventsDir: String, queryName: String,
                            lonCol: org.apache.spark.sql.Column,
                            latCol: org.apache.spark.sql.Column,
                            z: Int = 14, res: Int = 256,
                            outputMode: String = "update"): StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    streamingDensity(stream, "ts", lonCol, latCol, z, res).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /**
   * Incremental deviation maintenance as a pages stream. Every micro-batch:
   *
   *  1. extracts features from the BATCH only and MERGEs them into an
   *     ElementStore keyed by (type,id) / (dataset_id,original_id) — the
   *     raw-entity replication MERGE (osm_replication.py:261-298), with the
   *     stream's checkpointLocation playing the sequence-number role;
   *  2. takes the merge's dirty cell-blocks as the recompute frontier;
   *  3. re-runs match + deviation ONLY over the frontier's padded
   *     neighborhood (partition-pruned reads from the store);
   *  4. merges via DeviationStore.syncScoped, so rows outside the frontier
   *     are untouched.
   *
   * Per-batch work is not O(history) — the r1 version recomputed over all
   * pages each micro-batch (VERDICT r1 #7) — but it is not O(edit) either:
   * the frontier match reads `ring(ring(dirty))`, the 5×5 blocks around
   * each dirty block, for a match that reaches 250 m, so an edit into a
   * dense store reads most of the store; and `DeviationStore.syncScoped`
   * commits the whole view as a new snapshot, which is O(view). Reading
   * the frontier by match reach and rewriting only the touched rows is
   * ROADMAP item 7.
   * The three sub-store merges (elements, items, changesets) are independent
   * and run concurrently; each reads only the partitions its rows touch, so
   * an edit batch costs a fixed number of Spark jobs per sub-store (see
   * ElementStore), not one per stored partition. Job budget of an edit batch
   * (the stream's session runs AQE off): the merges' fixed sets, the
   * frontier match and deviations, and 3 jobs for the scoped deviation-store
   * sync — 19 jobs for an 8-site edit on a 500-site base, whatever the
   * store's size. Each phase's jobs carry the tag `sync/<batchId>/stage`,
   * `.../commit` or `.../frontier` (job tags, not a job group: the stream
   * cancels its own run-id group on `stop()`). A failed merge fails the
   * micro-batch after all three have finished, so the checkpoint does not
   * advance. Restartable from `checkpointDir`; replays are idempotent
   * because both merges are keyed upserts, and they converge because the
   * frontier is durable: a commit rewrites the key index, so a replay no
   * longer sees which keys the batch moved, and the frontier (with the
   * moved keys' old blocks) is written to `<state>/_frontier/<batchId>`
   * before the first commit, united with on replay, and deleted once the
   * deviation store has committed.
   *
   * Codegen gate: compiling costs a fixed price per query, interpreting a
   * price per row, so each of a batch's three phases runs with whole-stage
   * codegen off and interpreted expressions when the bytes it reads are
   * under `InterpretedBelowBytes`, and with codegen otherwise. The bytes are
   * taken before the phase's first job, from plan statistics (a file scan's
   * are the sizes its listing found) and directory sizes:
   *  1. finding the dirty blocks reads the batch's files and, bounded by
   *     their whole size, the key indexes;
   *  2. rewriting the dirty blocks reads the batch and those blocks' data
   *     and index buckets (`ElementStore.Staged.bytes`);
   *  3. match, deviations and the deviation-store merge read the frontier's
   *     elements and items and the view's snapshot.
   * Below the gate a phase also runs one shuffle partition and one file
   * split per scan, so a stage runs one task (one per input of a union):
   * a sub-MiB phase's rows are fewer than its tasks' fixed costs of
   * scheduling, task deserialization and one shuffle file per map task and
   * reduce partition. An 8-site edit op of the `sync_edits` benchmark (a
   * 500-site base, seed 7, counted from an event log) runs all three phases
   * this way: 19 jobs, 32 stages and 40 tasks per stream run, against 19,
   * 33 and 152 with the session's 4 partitions; 29 Janino compiles either
   * way, 236 with codegen throughout. An 8-site edit into a 20k-site base
   * at the same density runs 1 and 2 interpreted and 3, 1.9–3.9 MB, with
   * codegen, and takes as long as with codegen throughout; keyed on the batch's files alone, all three
   * ran interpreted and the median op took 18% longer (CHANGES.md). The
   * crossover, measured as a first sync of n sites into a fresh store on
   * 4 vCPUs (3 interleaved pairs, interpreted / codegen): 0.18 MB of pages
   * 3.4–5.3 / 4.8–6.7 s, 0.62 MB 5.4–6.7 / 6.2–7.0 s, 1.2 MB 7.5–8.3 /
   * 7.6–8.9 s, 2.4 MB 10.4–12.9 / 9.8–11.8 s, 9.5 MB 37.6 / 25.5 s. One
   * task per stage against the session's 4 partitions, both interpreted,
   * at the gate's top (3 interleaved pairs, one partition / session's): 0.62
   * MB 6.0–6.3 / 8.3–9.7 s, 0.92 MB (all three phases still under the gate)
   * 6.3–6.7 / 10.3–10.8 s; from 1.06 MB every phase runs above the gate and
   * both run the same plans. No benchmark workload runs a phase above the
   * gate; that side rests on these sweeps and the 20k-site edits.
   * The mode is set on the stream's own session (a clone of `spark`) for
   * the phase and restored after it; every Dataset of the batch is built
   * from that session, and `spark`'s conf is never touched.
   */
  def startDeviationSync(spark: SparkSession, pagesDir: String, checkpointDir: String,
                         store: graft.engine.DeviationStore,
                         statePath: String = null,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val state = if (statePath != null) statePath else checkpointDir + "_state"
    val schema = spark.read.parquet(pagesDir).schema
    val reader0 = spark.readStream.schema(schema)
    // AvailableNow + maxFilesPerTrigger splits a finite replay into REAL
    // micro-batches (the gate entry uses it to prove multi-batch incremental
    // maintenance converges to the batch result, not just 1-batch ingest)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n))
    reader.parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        syncBatch(session, batch, batchId, state, store.withSession(session))
      }
      .start()
  }

  /** Bytes a phase of a sync batch reads below which `startDeviationSync`
    * runs the phase as `SmallPhase`: just under the measured crossover of
    * ~1.2 MB, see its scaladoc. */
  private[streaming] val InterpretedBelowBytes: Long = 1L << 20

  /** session confs for a phase under `InterpretedBelowBytes`: no generated
    * code (no whole-stage codegen; interpreted projections, predicates and
    * orderings), and one shuffle partition and one file split per scan, so
    * a stage runs one task per input */
  private val SmallPhase = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.files.maxPartitionNum" -> "1")

  /** runs `body` on `session` with its jobs tagged `tag`, as `SmallPhase`
    * when it reads fewer than `InterpretedBelowBytes`; then restores what
    * `session` held */
  private def phase[T](session: SparkSession, tag: String, bytes: BigInt)(body: => T): T = {
    val kvs = if (bytes < InterpretedBelowBytes) SmallPhase else Nil
    val set = session.conf.getAll
    val before = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => session.conf.set(k, v) }
    session.sparkContext.addJobTag(tag)
    try body finally {
      session.sparkContext.removeJobTag(tag)
      before.foreach {
        case (k, Some(v)) => session.conf.set(k, v)
        case (k, None) => session.conf.unset(k)
      }
    }
  }

  /** `blocks` united with what an earlier attempt of the batch recorded in
    * `file`, recorded there before any commit: the commit rewrites the key
    * index, so a replay finds a moved key at its new block only, and the
    * recorded set is what still names the old one */
  private def recordFrontier(file: Path, blocks: Seq[Long]): Seq[Long] = {
    val recorded = if (!Files.exists(file)) Nil
      else new String(Files.readAllBytes(file), UTF_8).split('\n').filter(_.nonEmpty).map(_.toLong).toSeq
    val all = (recorded ++ blocks).distinct
    if (all.nonEmpty) graft.engine.PartitionedStore.writeAtomically(file, all.mkString("\n"))
    all
  }

  /** one micro-batch of `startDeviationSync`, every Dataset built from
    * `session`, each phase run in the mode its own reads call for and its
    * jobs tagged `sync/<batchId>/<phase>` */
  private def syncBatch(session: SparkSession, batch: DataFrame, batchId: Long,
                        state: String, store: graft.engine.DeviationStore): Unit = {
    import graft.engine.{BenchPipeline, ElementStore, MatchEngine}
    import graft.engine.ElementStore.bytesOf
    import graft.functions.GeoFunctions.stCentroid
    import graft.sources.Pages
    val es = new ElementStore(session, state)
    val input = bytesOf(batch)
    val tag = s"sync/$batchId"
    // 1. each sub-store's dirty blocks: reads the batch and key-index buckets
    val staged = phase(session, s"$tag/stage",
        input + Seq("elements", "items", "changesets").map(es.indexBytes).sum) {
      val b = batch.cache()
      try concurrently(session, Seq(
        () => es.stage("elements", Seq("type", "id"), Pages.extractOsmElements(b)),
        () => es.stage("items", Seq("dataset_id", "original_id"),
          Pages.extractUpstreamItems(b)),
        // changesets: keyed MERGE only, no downstream recompute — ingested
        // but unused, like the reference (04-osm-base.sql:43-49). Empty in
        // batches without changeset pages (an empty stage writes nothing).
        () => es.stage("changesets", Seq("id"), Pages.extractChangesets(b),
          recencyCol = Some("created_at"))
      ), (s: ElementStore.Staged) => s.abort())
      finally b.unpersist()
    }
    // the frontier is the elements' and items' dirty blocks, durable from
    // before the first commit until the deviation store has committed
    val frontier = Paths.get(state, "_frontier", batchId.toString)
    val dirty = try recordFrontier(frontier, staged.take(2).flatMap(_.dirtyBlocks))
      catch { case e: Throwable => staged.foreach(_.abort()); throw e }
    // 2. the rewrite of those blocks: reads the batch and the dirty blocks
    phase(session, s"$tag/commit", input + staged.map(_.bytes).sum) {
      concurrently(session, staged.map(s => () => s.commit()))
    }
    if (dirty.isEmpty) return
    // 3. match and deviations over the frontier, merged into the deviation
    // store: reads the frontier's elements and items and the view's snapshot.
    // A bulk load's frontier is most of the map — a scoped plan with
    // thousands of isin literals costs more than one full recompute. Else
    // scope = 1-ring around dirty blocks (covers every feature a dirty
    // feature can match); inputs read one ring wider so every scoped row
    // sees ALL its potential partners.
    val scopeBlocks = if (dirty.size > 256) None else Some(es.ring(dirty))
    val readBlocks = scopeBlocks.map(es.ring)
    val elements = es.read("elements", readBlocks)
    val items = es.read("items", readBlocks)
    phase(session, s"$tag/frontier", bytesOf(elements) + bytesOf(items) +
        bytesOf(store.latestFor("bench_pois"))) {
      val view = BenchPipeline.deviations(MatchEngine.matchView(
        BenchPipeline.filterOsm(elements), BenchPipeline.projectUps(items),
        BenchPipeline.config()))
      scopeBlocks match {
        case None => store.sync("bench_pois", view)
        case Some(bs) =>
          val inScope = es.blockCol(
            stCentroid(col("center")).getField("_1"),
            stCentroid(col("center")).getField("_2")).isin(bs: _*)
          store.syncScoped("bench_pois", view.filter(inScope), scope = Some(inScope))
      }
    }
    Files.delete(frontier)
  }

  /** Runs `tasks` on threads of their own that carry the caller's Spark
    * local properties (job group, scheduler pool, execution id) and active
    * session, as Spark's own broadcasts do, so a stream's cancellation
    * reaches their jobs. Waits for every task; when one failed, hands the
    * others' results to `release` and rethrows the first failure in `tasks`
    * order. */
  private def concurrently[T](spark: SparkSession, tasks: Seq[() => T],
                              release: T => Unit = (_: T) => ()): Seq[T] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val results = try tasks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t()))
      .map(f => Try(f.get()))
      finally pool.shutdown()
    results.collectFirst { case Failure(e) =>
      results.foreach(_.foreach(release))
      throw (e match {
        case x: java.util.concurrent.ExecutionException => x.getCause
        case other => other
      })
    }
    results.map(_.get)
  }
}
