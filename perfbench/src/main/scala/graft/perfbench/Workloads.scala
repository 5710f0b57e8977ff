package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.{BenchPipeline, DeviationStore, DeviationView, ElementStore, MatchEngine, Tiles}
import graft.engine.DeviationView.{CustomFilter, DeviationConfig, MissingOrDiffNonEmpty}
import graft.functions.GeoFunctions.stCentroid
import graft.sources.Pages
import graft.streaming.StreamingIngest

/** What one op produced: its work items, an output to check, the layer
  * counters a traced op measured at the boundaries it forced, and counters
  * that take a pass of their own, which the caller runs after timing the op. */
final case class OpOut(items: Long, output: String, counters: Map[String, Double] = Map.empty,
                       untimed: () => Map[String, Double] = () => Map.empty)

trait Workload {
  def sizes: Seq[(String, Long)]
  /** builds the inputs from scratch */
  def setUp(): Unit
  /** a traced run's extra set-up op: the layers set-up runs, called once
    * more after `setUp` and traced at their boundaries */
  def setUpTrace(): Option[OpOut] = None
  /** untimed ops run after set-up, while the JIT compiles the hot paths */
  def warmUpOps: Int
  /** builds op `i`'s input; runs untimed, before the op */
  def prepare(i: Int): Unit = ()
  def op(i: Int, traced: Boolean): OpOut
  /** an error message when this op's output is wrong (`first` = the run's first op's) */
  def check(out: OpOut, first: OpOut): Option[String]
  /** frees what an op left cached; runs after the op's heap is sampled */
  def release(): Unit = spark.catalog.clearCache()
  protected def spark: SparkSession
  /** an error message when the state left after the last op is wrong */
  def finalCheck(): Option[String] = None
  /** run-level counters that are not per op */
  def runCounters(): Map[String, Double] = Map.empty
}

object Workloads {
  /** pairs per row of the 2.5M-site bench fixture, at any corpus size */
  val DensityRef: Option[Long] = Some(2500000L)

  def apply(name: String, spark: SparkSession, rec: Recorder, seed: Long,
            work: String): Workload = name match {
    case "tile_publish" => new TilePublish(spark, rec, seed, s"$work/tiles", nSites = 10000L)
    case "sync_edits"   => new SyncEdits(spark, rec, seed, s"$work/sync",
                             nBase = 500L, nNew = 4L, nMove = 4L)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** (match rows, deviation rows) in one action — the body of
    * BenchPipeline.pipelineCounts over an already-built match frame */
  def matchAndDeviationCounts(m: DataFrame): (Long, Long) = {
    val all = DeviationView.deviations(m, DeviationConfig(
        datasetId = Pages.BenchDatasetId, layerId = 1L, viewName = "bench_pois",
        titles = BenchPipeline.titles, postFilter = CustomFilter(lit(true))))
      .withColumn("emitted", MissingOrDiffNonEmpty.pred.cast("long"))
    val r = all.agg(count(lit(1)), sum(col("emitted"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** the plan a cached frame was filled by (its SQL metrics are populated) */
  def cachedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan.collectFirst {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
    }.getOrElse(df.queryExecution.executedPlan)

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** the cell equi-joins of an executed match plan: the match leg and the
    * anti leg each run one */
  private def cellJoins(plan: SparkPlan): Seq[BaseJoinExec] =
    plan.collect { case j: BaseJoinExec => j }
      .filter(_.leftKeys.exists(_.references.exists(_.name == "cell")))

  /** match-layer counters read from the executed plan and its SQL metrics:
    * joins, exchanges, the cell-cover rows exploded into the cell joins, and
    * the pairs those joins emit after their condition. The optimizer pushes
    * the distance and match predicates into the join condition, so these
    * are the refined pairs. */
  def planCounters(plan: SparkPlan): Map[String, Double] = {
    val joins = cellJoins(plan)
    val covers = joins.flatMap(_.collect { case g: GenerateExec => g }).distinct
    Map(
      "match.plan_joins" -> plan.collect { case j: BaseJoinExec => j }.size.toDouble,
      "match.plan_exchanges" -> plan.collect { case e: ShuffleExchangeLike => e }.size.toDouble,
      "match.cover_rows" -> covers.map(metric(_, "numOutputRows")).sum.toDouble,
      "match.refined_pairs" -> joins.map(metric(_, "numOutputRows")).sum.toDouble)
  }

  /** rows per join-key value on one input of a join */
  private def keyCounts(side: SparkPlan, keys: Seq[Expression]): Map[UnsafeRow, Long] = {
    // a broadcast cannot be executed as rows, but the plan under it holds the
    // same rows in the same column order
    def rows(p: SparkPlan): SparkPlan = p match {
      case a: InputAdapter => rows(a.child)
      case r: ReusedExchangeExec => rows(r.child)
      case b: BroadcastExchangeLike => b.child
      case other => other
    }
    val out = side.output
    rows(side).execute().mapPartitions { it =>
      val key = UnsafeProjection.create(keys, out)
      it.map(r => key(r).copy())
    }.countByValue().toMap
  }

  /** the pairs the cell joins test against their condition, before it:
    * Σ over cells of build rows × probe rows, summed over the plan's cell
    * joins. It re-reads each join's inputs from the executed plan, so it
    * runs after the op is timed. */
  def candidatePairs(plan: SparkPlan): Map[String, Double] = Map(
    "match.candidate_pairs" -> cellJoins(plan).map { j =>
      val build = keyCounts(j.left, j.leftKeys)
      val probe = keyCounts(j.right, j.rightKeys)
      build.iterator.map { case (k, n) => n.toDouble * probe.getOrElse(k, 0L) }.sum
    }.sum)
}

import Workloads._

/**
 * Incremental sync: a base corpus bulk-loaded through the deviation sync
 * stream, then one small edit file per op, synced to commit. A traced op
 * replays its edit file through the calls the stream's foreachBatch makes,
 * in the same order, so every layer boundary can be timed.
 */
final class SyncEdits(protected val spark: SparkSession, rec: Recorder, seed: Long, root: String,
                      nBase: Long, nNew: Long, nMove: Long) extends Workload {
  def sizes = Seq("base_sites" -> nBase, "new_sites_per_op" -> nNew,
    "moved_sites_per_op" -> nMove)

  /** the density reference that places `n` sites on the base corpus's map */
  private def sameArea(n: Long): Option[Long] = {
    require(DensityRef.get * n % nBase == 0, s"$n sites cannot share the base map exactly")
    Some(DensityRef.get * n / nBase)
  }

  private def pagesDir = s"$root/pages"
  private def statePath = s"$root/state"
  private def store = new DeviationStore(spark, s"$root/store")
  private val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var edit: DataFrame = null
  /** an op's work items: the sites its edit file adds, moves or renames */
  private val nEdit = nNew + nMove

  /** none: the base load runs the sync's code paths already, and one more
    * sync op costs more than the benchmark's time budget allows */
  def warmUpOps = 0

  def setUp(): Unit = {
    // a batch is a few rows: one shuffle partition per core, not four
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    deleteTree(Paths.get(root))
    Pages.synthesize(spark, nBase, seed = seed, densityRefSites = DensityRef)
      .write.parquet(pagesDir)
    stream()
    progress.clear()
  }

  /** one AvailableNow run of the production sync over the files not yet seen */
  private def stream(): Unit = {
    val q = StreamingIngest.startDeviationSync(spark, pagesDir, s"$root/ckpt", store,
      statePath = statePath)
    q.awaitTermination()
    progress ++= q.recentProgress.filter(_.numInputRows > 0)
  }

  /** edit file `k`: new sites (upstream item and OSM twin) and existing OSM
    * sites moved or renamed, all drawn from the fixture's own distribution,
    * held on the driver until the op writes them */
  override def prepare(k: Int): Unit = {
    val feature = col("text").startsWith("OSM ") || col("text").startsWith("UPSTREAM ")
    val fresh = Pages.synthesize(spark, nNew, seed = seed,
      siteOffset = 2 * nBase + 4 * k * nNew, densityRefSites = sameArea(nNew)).filter(feature)
    val moveFrom = java.lang.Math.floorMod(seed * 1000003L + k * 7919L, nBase - 2 * nMove)
    val moved = Pages.synthesize(spark, nMove, seed = seed + 1 + k, siteOffset = moveFrom,
        densityRefSites = sameArea(nMove))
      .filter(col("text").startsWith("OSM "))
    val rows = fresh.unionByName(moved).collect()
    edit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), fresh.schema).coalesce(1)
  }

  def op(i: Int, traced: Boolean): OpOut =
    if (!traced) {
      edit.write.mode("append").parquet(pagesDir)
      stream()
      OpOut(nEdit, "")
    } else {
      // replayed files stay outside the stream's source directory, so the
      // stream never ingests them a second time
      val file = s"$root/replayed/$i"
      edit.write.parquet(file)
      replay(i, spark.read.parquet(file), nEdit)
    }

  private def replay(i: Int, batch: DataFrame, nEdits: Long): OpOut = {
    val es = new ElementStore(spark, statePath)
    val b = batch.cache()
    val dirty = rec.span(i, "elementstore.merge") {
      val dirtyE = es.merge("elements", Seq("type", "id"), Pages.extractOsmElements(b))
      val dirtyI = es.merge("items", Seq("dataset_id", "original_id"), Pages.extractUpstreamItems(b))
      es.merge("changesets", Seq("id"), Pages.extractChangesets(b), recencyCol = Some("created_at"))
      (dirtyE ++ dirtyI).distinct
    }
    b.unpersist()
    require(dirty.nonEmpty && dirty.size <= 256,
      s"edit batch dirtied ${dirty.size} blocks; the scoped frontier needs 1..256")
    val cfg = BenchPipeline.config().copy(cacheCandidates = false)
    val scopeBlocks = es.ring(dirty)
    val readBlocks = es.ring(scopeBlocks)
    val centre = stCentroid(col("center"))
    val inScope = es.blockCol(centre.getField("_1"), centre.getField("_2")).isin(scopeBlocks: _*)
    val (elements, items, files) = rec.span(i, "elementstore.read") {
      val el = es.read("elements", Some(readBlocks))
      val it = es.read("items", Some(readBlocks))
      (el, it, el.inputFiles.length + it.inputFiles.length)
    }
    val (mv, matchRows) = rec.span(i, "match") {
      val m = MatchEngine.matchView(BenchPipeline.filterOsm(elements),
        BenchPipeline.projectUps(items), cfg).cache()
      (m, m.count())
    }
    val (dv, devRows) = rec.span(i, "deviation") {
      val d = BenchPipeline.deviations(mv).filter(inScope).cache()
      (d, d.count())
    }
    val (upserted, deleted) = rec.span(i, "devstore.sync") {
      store.syncScoped("bench_pois", dv, scope = Some(inScope))
    }
    val plan = cachedPlan(mv)
    OpOut(nEdits, "", planCounters(plan) ++ Map(
      "elementstore.dirty_blocks" -> dirty.size.toDouble,
      "elementstore.files_discovered" -> files.toDouble,
      "edits" -> nEdits.toDouble,
      "match.rows_out" -> matchRows.toDouble,
      "deviation.rows_in" -> matchRows.toDouble,
      "deviation.rows_emitted" -> devRows.toDouble,
      "devstore.rows_changed" -> (upserted + deleted).toDouble),
      untimed = () => {
        val v = store.currentVersion("bench_pois")
        candidatePairs(plan) ++ Map(
          "devstore.rows_written" -> store.latestFor("bench_pois").count().toDouble,
          "devstore.bytes_written" ->
            treeBytes(Paths.get(s"$root/store/view=bench_pois/v=$v")).toDouble)
      })
  }

  def check(out: OpOut, first: OpOut): Option[String] = None

  /** the convergence property: the store after any sequence of syncs equals
    * a batch recompute over the final element state */
  override def finalCheck(): Option[String] = {
    val es = new ElementStore(spark, statePath)
    val cfg = BenchPipeline.config().copy(cacheCandidates = false)
    val batch = BenchPipeline.deviations(MatchEngine.matchView(
      BenchPipeline.filterOsm(es.read("elements")), BenchPipeline.projectUps(es.read("items")), cfg))
    val keep = (DeviationStore.keyCols ++ Seq("description")).map(col) :+
      to_json(col("suggested_tags")).as("suggested_tags")
    val want = batch.select(keep: _*)
    val got = store.latestFor("bench_pois").select(keep: _*)
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (missing == 0 && extra == 0) None
    else Some(s"store differs from a batch recompute: $missing rows missing, $extra extra")
  }

  override def runCounters(): Map[String, Double] = {
    val ms = progress.toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000).getOrElse(0.0)
    val storeAll = treeBytes(Paths.get(s"$root/store")) + treeBytes(Paths.get(statePath))
    val live = treeBytes(Paths.get(
        s"$root/store/view=bench_pois/v=${store.currentVersion("bench_pois")}")) +
      treeBytes(Paths.get(statePath))
    Map(
      "stream.batches" -> ms.size.toDouble,
      "stream.batch_s" -> med(ms.map(dur(_, "triggerExecution"))),
      "stream.trigger_overhead_s" ->
        med(ms.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "devstore.store_bytes" -> storeAll.toDouble,
      "devstore.live_bytes" -> live.toDouble)
  }
}

/**
 * Tile publish. Set-up runs the full per-dataset recompute (synthesis, fused
 * feature fill, match) and writes its match frame; each op reads the frame
 * and encodes every z14 tile to MVT bytes. A traced run recomputes once more
 * at set-up, split at the feature, match and deviation boundaries, so those
 * layers are measured on the recompute that feeds the tiles.
 */
final class TilePublish(protected val spark: SparkSession, rec: Recorder, seed: Long, root: String,
                        nSites: Long) extends Workload {
  def sizes = Seq("sites" -> nSites, "density_ref_sites" -> DensityRef.get)

  /** match rows of the recompute at seed 42 and the sizes above */
  private val DefaultSeedMatchRows = 11213L

  private def pages = Pages.synthesize(spark, nSites, seed = seed, densityRefSites = DensityRef)
  private var matchPath = ""
  private var matchRows = 0L
  private var featureRows = 0L

  /** op times fall for 50 ops and more after the cold one: each op compiles
    * fresh whole-stage classes, which start interpreted. Three pairs of
    * 16 s runs gave medians of 0.56–0.84 s after 1 warm-up op and
    * 0.50–0.59 s after 12. */
  def warmUpOps = 12

  def setUp(): Unit = {
    deleteTree(Paths.get(root))
    matchPath = s"$root/match"
    BenchPipeline.matchRows(pages).write.parquet(matchPath)
    spark.catalog.clearCache()
    matchRows = spark.read.parquet(matchPath).count()
    featureRows = Tiles.tileAssignment(spark.read.parquet(matchPath)).count()
  }

  override def setUpTrace(): Option[OpOut] = {
    val (feat, featRows) = rec.span(0, "features") {
      val f = BenchPipeline.benchFeatures(pages).cache()
      (f, f.count())
    }
    val (mv, mRows) = rec.span(0, "match") {
      val (osm, ups) = BenchPipeline.sidesFromFeatures(feat)
      val m = BenchPipeline.matchRowsFrom(osm, ups).cache()
      (m, m.count())
    }
    val (m, d) = rec.span(0, "deviation")(matchAndDeviationCounts(mv))
    val plan = cachedPlan(mv)
    Some(OpOut(m + d, s"match=$m", planCounters(plan) ++ Map(
      "features.rows_out" -> featRows.toDouble,
      "match.rows_out" -> mRows.toDouble,
      "deviation.rows_in" -> m.toDouble,
      "deviation.rows_emitted" -> d.toDouble),
      untimed = () => candidatePairs(plan)))
  }

  private def encode(tileRows: DataFrame): OpOut = {
    val r = Tiles.mvtTiles(tileRows, tagsJsonCol = Some("tags_json"))
      .agg(count(lit(1)), sum(col("n_features")), sum(length(col("mvt"))),
        bit_xor(xxhash64(col("z"), col("tile_x"), col("tile_y"), col("mvt"))))
      .collect()(0)
    val (tiles, feats, bytes, digest) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    OpOut(tiles, s"tiles=$tiles/features=$feats/bytes=$bytes/digest=$digest", Map(
      "tiles.tiles_out" -> tiles.toDouble, "tiles.mvt_bytes" -> bytes.toDouble))
  }

  def op(i: Int, traced: Boolean): OpOut =
    if (!traced) encode(Tiles.tileAssignment(spark.read.parquet(matchPath)))
    else {
      val (ta, rows) = rec.span(i, "tiles.assign") {
        val t = Tiles.tileAssignment(spark.read.parquet(matchPath)).cache()
        (t, t.count())
      }
      val out = rec.span(i, "tiles.encode")(encode(ta))
      ta.unpersist()
      out.copy(counters = out.counters + ("tiles.feature_rows" -> rows.toDouble))
    }

  def check(out: OpOut, first: OpOut): Option[String] =
    if (out.output.startsWith("match="))
      // the traced recompute must equal the untraced one that wrote the frame
      if (out.output == s"match=$matchRows") None
      else Some(s"traced recompute gave ${out.output}; the stored frame holds $matchRows rows")
    else {
      val feats = out.output.split("/").find(_.startsWith("features=")).map(_.drop(9).toLong)
      if (!feats.contains(featureRows))
        Some(s"sum of n_features ${feats.getOrElse(-1)} != tileAssignment rows $featureRows")
      else if (out.output != first.output) Some(s"tiles ${out.output} differ from first op's ${first.output}")
      else None
    }

  override def finalCheck(): Option[String] =
    if (seed == 42L && matchRows != DefaultSeedMatchRows)
      Some(s"the recompute gave $matchRows match rows; seed 42 recorded $DefaultSeedMatchRows")
    else None
}
