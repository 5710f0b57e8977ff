package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{DeviationStore, SparkTestBase}
import graft.sources.Pages

class StreamingSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  test("watermarked tumbling-window aggregate matches the batch equivalent") {
    // readStream needs a directory; the driver table is a single file
    val evDir = java.nio.file.Files.createTempDirectory("events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(evDir, "events.parquet"))
    val q = StreamingIngest.startEventsHourly(spark, evDir, "ev_stream")
    q.awaitTermination()
    val streamed = spark.sql("SELECT * FROM ev_stream")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    assert(streamed.count() == batch.count())
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.hour") === col("b.hour") && col("s.event_type") === col("b.event_type"))
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
  }

  test("session_window streaming aggregate matches the batch form per session") {
    val evDir = java.nio.file.Files.createTempDirectory("events_sess").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(evDir, "events.parquet"))
    // complete mode: finite AvailableNow replay into a memory sink — the
    // final table is the full session set, directly comparable to batch
    val q = StreamingIngest.startSessions(spark, evDir, "sess_stream",
      outputMode = "complete")
    q.awaitTermination()
    val streamed = spark.sql("SELECT * FROM sess_stream")
    val batch = StreamingIngest.sessionsAgg(
      spark.read.parquet(s"$evDir/events.parquet"), "user_id", "ts", "30 minutes")
    assert(streamed.count() == batch.count(), "session counts differ")
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.user_id") === col("b.user_id") &&
        col("s.session_start") === col("b.session_start"))
    assert(joined.count() == batch.count(), "session starts differ")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
      col("s.session_end") =!= col("b.session_end")).count() == 0)
  }

  test("streaming density raster matches the batch rasterization per (window, pixel)") {
    val evDir = java.nio.file.Files.createTempDirectory("events_d").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(evDir, "events.parquet"))
    def lon = lit(11.0) + pmod(col("event_id"), lit(50L)) * 0.1 +
      pmod(col("event_id") * 7919L, lit(8L)) * 0.0005
    def lat = lit(55.0) + pmod(col("event_id"), lit(50L)) * 0.2 +
      pmod(col("event_id") * 104729L, lit(8L)) * 0.0005
    val q = StreamingIngest.startStreamingDensity(spark, evDir, "dens_stream",
      lon, lat, z = 14, res = 16)
    q.awaitTermination()
    val streamed = spark.sql("SELECT * FROM dens_stream")
    val batch = graft.SparkEntry.queries("q_stream_density")(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("hour", "tile_x", "tile_y", "px", "py"), "full_outer")
    assert(joined.filter(col("s.density") =!= col("b.density") ||
      col("s.density").isNull || col("b.density").isNull).count() == 0,
      "every (window, pixel) cell must agree between stream and batch")
  }

  test("update-mode density across two micro-batches: last update per key == batch") {
    // complete mode would disable watermark eviction (state grows with every
    // window ever seen); this drives the PRODUCTION default — update mode,
    // two time-ordered micro-batches — and checks the re-emitted aggregates
    // converge on the batch answer (density is a count, so the final value
    // per key is the max over its update emissions)
    val evDir = java.nio.file.Files.createTempDirectory("events_u").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartitionByRange(2, col("ts")) // part-0 = early rows, part-1 = late
      .write.mode("overwrite").parquet(evDir)
    def lon = lit(11.0) + pmod(col("event_id"), lit(50L)) * 0.1
    def lat = lit(55.0) + pmod(col("event_id"), lit(50L)) * 0.2
    val schema = spark.read.parquet(evDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(evDir)
    val q = StreamingIngest.streamingDensity(stream, "ts", lon, lat, z = 14, res = 16)
      .writeStream.outputMode("update")
      .format("memory").queryName("dens_upd")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "the file split must actually produce two micro-batches")
    val streamed = spark.sql("SELECT * FROM dens_upd")
      .groupBy("hour", "tile_x", "tile_y", "px", "py")
      .agg(max(col("density")).as("density"))
    val batch = graft.operators.Raster.withPixel(
        spark.read.parquet(evDir), lon, lat, 14, 16)
      .groupBy(window(col("ts"), "1 hour").as("w"),
        col("tile_x"), col("tile_y"), col("px"), col("py"))
      .agg(count(lit(1)).as("density"))
      .select(col("w.start").as("hour"), col("tile_x"), col("tile_y"),
        col("px"), col("py"), col("density"))
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("hour", "tile_x", "tile_y", "px", "py"), "full_outer")
    assert(joined.filter(col("s.density") =!= col("b.density") ||
      col("s.density").isNull || col("b.density").isNull).count() == 0,
      "update-mode final state must equal the batch rasterization")
  }

  test("streaming WARC ingest: parseWarc over micro-batched archives == batch parse") {
    // the ingestion edge as Structured Streaming: archive blobs arrive as
    // files, each micro-batch walks its records — parseWarc is a
    // deterministic per-row projection, so stream==batch must be exact
    val warcDir = java.nio.file.Files.createTempDirectory("warc_s").toString
    val blobs = spark.range(200).select(
      concat(lit("http://a"), pmod(col("id"), lit(10L)), lit(".x/arch/"),
        col("id"), lit(".warc")).as("url"),
      concat(
        lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n\r\nsw: g\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a.x/p/"),
        pmod(col("id"), lit(7L)).cast("string"),
        lit("\r\nContent-Length: "),
        length(concat(lit("<html>b"), pmod(col("id"), lit(3L)).cast("string"))).cast("string"),
        lit("\r\n\r\n<html>b"), pmod(col("id"), lit(3L)).cast("string"),
        lit("\r\n\r\n")).cast("binary").as("blob"))
    blobs.repartition(3).write.mode("overwrite").parquet(warcDir)
    val schema = spark.read.parquet(warcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(warcDir)
    val q = graft.sources.Warc.parseWarc(stream, "url", "blob")
      .select(col("warc_file"), col("rec_ord"), col("record_type"),
        col("target_uri"), col("payload_len"))
      .writeStream.outputMode("append")
      .format("memory").queryName("warc_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 3,
      "file split must produce multiple micro-batches")
    val streamed = spark.sql("SELECT * FROM warc_stream")
    val batch = graft.sources.Warc.parseWarc(
        spark.read.parquet(warcDir), "url", "blob")
      .select(col("warc_file"), col("rec_ord"), col("record_type"),
        col("target_uri"), col("payload_len"))
    assert(streamed.count() == 400)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming parse must equal the batch walk row-for-row")
  }

  test("foreachBatch deviation sync is incremental (frontier-scoped) and replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("stream_pages").toString
    val storeDir = java.nio.file.Files.createTempDirectory("stream_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    val state = java.nio.file.Files.createTempDirectory("stream_state").toString
    val store = new DeviationStore(spark, storeDir)

    // batch 1: 300 sites (bulk path — dirty frontier spans the map)
    Pages.synthesize(spark, 300L).write.mode("append").parquet(dir)
    val q1 = StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state)
    q1.awaitTermination()
    val n1 = store.latest().count()
    assert(n1 > 0)

    // canonical far-row snapshot (everything further than 30 km from the
    // batch-2 point must be untouched by the frontier-scoped batch)
    val px = 300000.0; val py = 7400000.0
    def farRows() = store.latest()
      .withColumn("c", graft.functions.GeoFunctions.stCentroid(col("center")))
      .filter(abs(col("c._1") - px) > 30000.0 || abs(col("c._2") - py) > 30000.0)
      .select(col("dataset_id"), col("layer_id"),
        concat_ws(",", transform(col("upstream_item_ids"), _.cast("string"))).as("ids"),
        col("osm_element_id"), col("osm_element_type"), col("title"),
        col("description"), col("action"))
      .collect().map(_.toString).sorted.toSeq

    val farBefore = farRows()

    // batch 2: ONE new upstream item at a quiet point, no OSM nearby ->
    // exactly one new "missing" deviation; everything far away untouched
    val page = Seq((
      "https://data.example.sv/bench/item/990001",
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00"),
      "<html/>".getBytes("UTF-8"),
      s"""UPSTREAM 1 s990001 $px $py {"name":"POI 990001","kind":"bench"}""",
      "sv")).toDF("url", "warc_ts", "html", "text", "lang")
    page.write.mode("append").parquet(dir)
    val q2 = StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state)
    q2.awaitTermination()

    val n2 = store.latest().count()
    assert(n2 == n1 + 1, s"one localized item must add exactly one deviation ($n1 -> $n2)")
    assert(farRows() == farBefore, "frontier-scoped batch touched far-away rows")
    val nw = store.latest().filter(array_contains(col("upstream_item_ids"), 1000000990001L))
      .collect()
    assert(nw.length == 1 && nw(0).getAs[String]("title") == "POI saknas")

    // replay with a FRESH checkpoint + state (reprocess everything): idempotent
    val ckpt2 = java.nio.file.Files.createTempDirectory("stream_ckpt2").toString
    val state2 = java.nio.file.Files.createTempDirectory("stream_state2").toString
    val q3 = StreamingIngest.startDeviationSync(spark, dir, ckpt2, store, state2)
    q3.awaitTermination()
    assert(store.latest().count() == n2, "replay must not duplicate rows")
  }

  test("a failed concurrent sub-store merge fails the micro-batch; a restart replays it") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("stream_fail_pages").toString
    val storeDir = Files.createTempDirectory("stream_fail_store").toString
    val ckpt = Files.createTempDirectory("stream_fail_ckpt").toString
    val state = Files.createTempDirectory("stream_fail_state").toString
    val store = new DeviationStore(spark, storeDir)
    Pages.synthesize(spark, 100L).write.mode("append").parquet(dir)
    val callerConf = spark.conf.getAll
    // a plain file where the items sub-store's directory belongs: the items
    // merge fails on its write while the elements and changesets merges run
    val blocker = Paths.get(state, "items")
    Files.write(blocker, Array.emptyByteArray)
    val q1 = StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains(blocker.toString)),
      s"the items merge's failure must surface: ${chain.map(_.getMessage)}")
    assert(!Files.exists(Paths.get(ckpt, "commits", "0")), "a failed batch must not commit")
    assert(store.views.isEmpty, "a failed batch must not sync deviations")
    assert(spark.conf.getAll == callerConf, "the failed batch changed the caller's conf")

    // restart on the same checkpoint and state: batch 0 replays over the
    // elements the failed attempt already merged
    Files.delete(blocker)
    StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state).awaitTermination()
    assert(Files.exists(Paths.get(ckpt, "commits", "0")))
    val es = new graft.engine.ElementStore(spark, state)
    val pages = spark.read.parquet(dir)
    assert(es.read("elements").count() ==
      Pages.extractOsmElements(pages).select("type", "id").distinct().count(),
      "the replay must leave one element row per key")
    assertConverged(store, state)
    assert(spark.conf.getAll == callerConf, "the replay changed the caller's conf")
  }

  /** A stream over a synced 300-site base. `edit` appends one file that
    * moves `n 1000000001`, the OSM node matched to upstream item s1, 150 km
    * east, plus the base's pages at `urls`: s1's block then loses its match,
    * and only the move's old block says so. */
  private final class MovedMatch(name: String) {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(s"${name}_pages").toString
    val ckpt = Files.createTempDirectory(s"${name}_ckpt").toString
    val state = Files.createTempDirectory(s"${name}_state").toString
    val storeDir = Files.createTempDirectory(s"${name}_store").toString
    val store = new DeviationStore(spark, storeDir)
    def sync(): Unit =
      StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state).awaitTermination()
    Pages.synthesize(spark, 300L).write.mode("append").parquet(dir)
    sync()
    val base = spark.read.parquet(dir).cache()
    /** s1's "missing" deviations in the store */
    def s1Missing(): Long = store.latestFor("bench_pois")
      .filter(array_contains(col("upstream_item_ids"), 1000000000001L) &&
        col("title") === "POI saknas").count()
    assert(s1Missing() == 0, "s1 must start matched")
    def edit(urls: Seq[String] = Nil): Unit = {
      val node = base.filter(col("url") === "https://osm.example.sv/el/1000000001")
        .withColumn("parts", split(col("text"), " ", 6))
        .withColumn("text", concat_ws(" ", col("parts")(0), col("parts")(1), col("parts")(2),
          format_string("%.3f", col("parts")(3).cast("double") + 150000.0),
          col("parts")(4), col("parts")(5)))
        .drop("parts")
      val rows = node.unionByName(base.filter(col("url").isin(urls: _*))).collect()
      assert(rows.length == 1 + urls.size)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), base.schema)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    /** runs the stream to its failure; the edit's batch must not commit */
    def failingSync(): Unit = {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](sync())
      assert(!Files.exists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    }
    /** the store converged, with s1 missing, and the frontier record gone */
    def assertRecovered(): Unit = {
      assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", "1")))
      assert(s1Missing() == 1, "s1 lost its match and must be reported missing")
      assertConverged(store, state)
      assert(!Files.exists(java.nio.file.Paths.get(state, "_frontier", "1")),
        "a committed batch must drop its frontier record")
      base.unpersist()
    }
  }

  test("a batch failing after its element-store commit converges on replay") {
    import java.nio.file.{Files, Paths}
    val m = new MovedMatch("stream_replay")
    m.edit()
    // junk in the view's pointer: phase 3's first read of the store throws,
    // after phase 2 has committed the move to the element store
    val pointer = Paths.get(m.storeDir, "view=bench_pois", "_latest")
    val good = Files.readAllBytes(pointer)
    Files.write(pointer, "junk".getBytes("UTF-8"))
    m.failingSync()
    Files.write(pointer, good)
    m.sync()
    m.assertRecovered()
  }

  test("a batch whose items commit fails after the elements commit moved a key converges") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val m = new MovedMatch("stream_subfail")
    // an upstream item far from s1 rides along: its update makes the items
    // commit read its stored block, while the elements commit moves the node
    val es = new graft.engine.ElementStore(spark, m.state)
    val far = es.read("items").filter(col("original_id") =!= "s1" &&
        (abs(col("cx") - es.read("items").filter(col("original_id") === "s1")
          .select("cx").head().getDouble(0)) > 60000.0))
      .orderBy("original_id").select("original_id").head().getString(0)
    m.edit(Seq(s"https://data.example.sv/bench/item/${far.stripPrefix("s")}"))
    // junk in every items data file: the items stage reads only its key index
    // and passes; its commit reads the far item's block and fails, while the
    // concurrent elements commit succeeds
    val data = Paths.get(m.state, "items", "data")
    val files = {
      val st = Files.walk(data)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
      finally st.close()
    }
    val saved: Map[Path, Array[Byte]] = files.map(f => f -> Files.readAllBytes(f)).toMap
    files.foreach(f => Files.write(f, "junk".getBytes("UTF-8")))
    m.failingSync()
    saved.foreach { case (f, b) => Files.write(f, b) }
    m.sync()
    m.assertRecovered()
  }

  /** the sync store equals a batch recompute over the element state */
  private def assertConverged(store: DeviationStore, state: String): Unit = {
    val es = new graft.engine.ElementStore(spark, state)
    val cfg = graft.engine.BenchPipeline.config()
    val want = graft.engine.BenchPipeline.deviations(graft.engine.MatchEngine.matchView(
      graft.engine.BenchPipeline.filterOsm(es.read("elements")),
      graft.engine.BenchPipeline.projectUps(es.read("items")), cfg))
    val keep = (DeviationStore.keyCols :+ "description").map(col) :+
      to_json(col("suggested_tags")).as("suggested_tags")
    val got = store.latestFor("bench_pois").select(keep: _*)
    assert(got.count() > 0)
    assert(want.select(keep: _*).exceptAll(got).isEmpty &&
      got.exceptAll(want.select(keep: _*)).isEmpty,
      "the synced store must equal a batch recompute over the element state")
  }

  /** `body`'s value and the tasks of every stage of the jobs that
    * `startDeviationSync` tagged while it ran, by phase */
  private def syncStageTasks[T](body: => T): (T, Map[String, Seq[Int]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val flush = s"sync-flush-${System.nanoTime}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(","))
        if (tags.contains(flush)) flushed = true
        for (t <- tags if t.startsWith("sync/"); s <- e.stageInfos)
          seen.add(t.split("/").last -> s.numTasks)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener events arrive in order: once the flush job shows up, every
      // job of `body` has been seen
      sc.addJobTag(flush)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(flush)
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!flushed && System.nanoTime < deadline) Thread.sleep(20)
      assert(flushed, "listener did not see the flush job")
      (out, seen.asScala.toSeq.groupMap(_._1)(_._2))
    } finally sc.removeSparkListener(listener)
  }

  test("edit-sized sync batches run interpreted; batches above the gate keep codegen") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = Files.createTempDirectory("stream_gate_pages").toString
    val ckpt = Files.createTempDirectory("stream_gate_ckpt").toString
    val state = Files.createTempDirectory("stream_gate_state").toString
    val store = new DeviationStore(spark, Files.createTempDirectory("stream_gate_store").toString)
    def sync(): Unit =
      StreamingIngest.startDeviationSync(spark, dir, ckpt, store, state).awaitTermination()
    Pages.synthesize(spark, 300L).write.mode("append").parquet(dir)
    sync()
    val callerConf = spark.conf.getAll
    def pageBytes(): Long = {
      val files = Files.walk(Paths.get(dir))
      try files.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
      finally files.close()
    }
    // edit `k`: 8 feature pages of new sites on the base's map, one file;
    // returns the file's bytes
    def edit(k: Int): Long = {
      val fresh = Pages.synthesize(spark, 8L, siteOffset = 100000L + 1000L * k)
        .filter(col("text").startsWith("OSM ") || col("text").startsWith("UPSTREAM "))
      val rows = fresh.take(8)
      assert(rows.length == 8)
      val before = pageBytes()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), fresh.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      pageBytes() - before
    }
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // the file-compression factor scales the size a file scan's statistics
    // report: the source's listing of the batch's files, and the store reads
    def syncScaled(factor: Long): Long = {
      spark.conf.set("spark.sql.sources.fileCompressionFactor", factor.toString)
      try compiles(sync()) finally spark.conf.unset("spark.sql.sources.fileCompressionFactor")
    }

    edit(0)
    val (small, smallTasks) = syncStageTasks(compiles(sync()))
    // what still compiles are executor-side classes Spark generates with no
    // interpreted form (cached-relation column accessors, the partial
    // aggregate's row joiner, the sink's own scan of the batch), each once
    // per query: a stream start clones the session, and executors give each
    // session a class loader, and so a codegen cache, of its own
    assert(small <= 20, s"an 8-row edit batch compiled $small classes")
    // one shuffle partition and one file split per scan: a stage runs one
    // task, except over a union of one-partition inputs, one task each (the
    // rank's pairs and two sentinel sides are the widest, 3)
    assert(smallTasks.keySet == Set("stage", "commit", "frontier"), smallTasks.keySet)
    assert(smallTasks("stage").forall(_ == 1), s"stage tasks ${smallTasks("stage")}")
    assert(smallTasks.values.flatten.forall(_ <= 3), s"an 8-row edit batch ran $smallTasks")
    assert(spark.conf.getAll == callerConf, "the sync changed the caller's conf")

    // an edit batch whose files stay under the gate, into a store whose
    // frontier reads are over it: the deviation-store snapshot alone, which
    // the frontier phase reads, is scaled past the gate
    val factor = StreamingIngest.InterpretedBelowBytes / 2 / edit(1)
    val snapshot = graft.engine.ElementStore.bytesOf(store.latestFor("bench_pois"))
    assert(snapshot * factor > StreamingIngest.InterpretedBelowBytes)
    val frontier = syncScaled(factor)
    assert(frontier > 5 * small,
      s"an edit into a store above the gate compiled $frontier classes, one below it $small")
    assert(spark.conf.getAll == callerConf, "the sync changed the caller's conf")

    // a batch whose own files are above the gate
    edit(2)
    val (large, largeTasks) = syncStageTasks(syncScaled(1000000L))
    assert(large > 5 * small,
      s"a batch above the gate compiled $large classes, the edit batch $small")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(largeTasks.keySet == Set("stage", "commit", "frontier") &&
      largeTasks.values.forall(_.max >= partitions),
      s"every phase of a batch above the gate keeps $partitions-task stages: $largeTasks")
    assert(spark.conf.getAll == callerConf, "the sync changed the caller's conf")
    Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
        "spark.sql.files.maxPartitionNum").foreach(k =>
      assert(!spark.conf.getAll.contains(k), s"the caller's conf holds $k"))
    assertConverged(store, state)
  }

  test("flatMapGroupsWithState dedup: later copies suppressed across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("fsd").toString
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "tss")
        .select(col("doc_id"), col("text"), col("tss").cast("timestamp").as("ts"))
        .repartition(1).write.mode("append").parquet(dir)
    // batch 1 carries an IN-BATCH duplicate (ids 1 and 2, same text): the
    // deterministic winner is min (ts, doc_id) = 1, not iterator order
    write(Seq(
      (1L, "alpha body", "2026-01-01 00:00:00"),
      (2L, "alpha body", "2026-01-01 00:00:01"),
      (3L, "beta body", "2026-01-01 00:00:00")))
    // batch 2: a cross-batch duplicate of alpha -> state suppresses it
    write(Seq((9L, "alpha body", "2026-01-01 00:10:00")))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingDedup.firstSeenDedup(stream, "doc_id", "text", "ts")
      .writeStream.outputMode("append").format("memory").queryName("fsd_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2)
    val out = spark.sql("SELECT doc_id FROM fsd_out").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L), s"got ${out.toSeq}")
  }

  test("flatMapGroupsWithState dedup: event-time TTL evicts state, key re-emits after") {
    val dir = java.nio.file.Files.createTempDirectory("fsd_ttl").toString
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "tss")
        .select(col("doc_id"), col("text"), col("tss").cast("timestamp").as("ts"))
        .repartition(1).write.mode("append").parquet(dir)
    // b1: first alpha (timeout set to ts+1h). b2: filler 4h later (after this
    // batch the watermark = 03:00 > timeout). b3: filler only -> alpha's key
    // has NO data this trigger, so its timeout invocation fires and removes
    // the state. b4: alpha copy -> first-seen again (the documented TTL
    // trade for bounded state).
    write(Seq((1L, "alpha body", "2026-01-01 00:00:00")))
    write(Seq((50L, "filler b", "2026-01-01 04:00:00")))
    write(Seq((51L, "filler c", "2026-01-01 04:00:01")))
    write(Seq((100L, "alpha body", "2026-01-01 05:00:00")))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingDedup.firstSeenDedup(stream, "doc_id", "text", "ts",
        watermarkDelay = "1 hour", stateTtlMs = 3600000L)
      .writeStream.outputMode("append").format("memory").queryName("fsd_ttl_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4)
    val alphas = spark.sql("SELECT doc_id FROM fsd_ttl_out")
      .collect().map(_.getLong(0)).filter(id => id == 1L || id == 100L).sorted
    assert(alphas.toSeq == Seq(1L, 100L),
      s"state must evict after the TTL and re-admit the key: got ${alphas.toSeq}")
  }

  test("streaming host-graph sync: micro-batched merge == batch graph; replay reads below") {
    val dir = java.nio.file.Files.createTempDirectory("stream_hg_pages").toString
    val store = java.nio.file.Files.createTempDirectory("stream_hg_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_hg_ckpt").toString
    val pages = spark.range(600).select(
      concat(lit("http://s"), pmod(col("id"), lit(20L)), lit(".x/p/"),
        col("id")).as("url"),
      concat(lit("<a href=\"https://h"), pmod(col("id"), lit(7L)),
        lit(".x/t\">l</a>")).cast("binary").as("html"))
    pages.repartition(3).write.mode("overwrite").parquet(dir)
    val q = StreamingCrawl.startHostGraphSync(spark, dir, ckpt, store,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(q.recentProgress.map(_.batchId).distinct.length >= 3,
      "file split must produce multiple micro-batches")
    val streamed = StreamingCrawl.latestGraph(spark, store).get
    val batch = graft.operators.WebGraph.hostGraph(
      graft.operators.WebGraph.extractLinks(
        spark.read.parquet(dir), "url", "html"), "src_url", "dst_url")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "merged stream state must equal the batch host graph edge-for-edge")
    // replay safety: the state visible to a re-run of batch id B excludes
    // B's own (possibly partial) output
    val n = StreamingCrawl.latestGraph(spark, store).get.count()
    val ids = new java.io.File(store).listFiles().map(_.getName)
      .filter(_.startsWith("batch_")).map(_.stripPrefix("batch_").toLong).sorted
    val belowTop = StreamingCrawl.latestGraph(spark, store, below = Some(ids.max))
    assert(belowTop.isDefined && belowTop.get.count() <= n)
    assert(StreamingCrawl.latestGraph(spark, store, below = Some(ids.min)).isEmpty)
  }

  test("firstSeenDedup fails loudly on a non-integral id column") {
    import spark.implicits._
    // cast("long") on a UUID/string id nulls EVERY row and the null-drop
    // would silently emit an empty result — the schema check must throw
    val docs = Seq(("uuid-1", "body", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("doc_id", "text", "ts")
    val ex = intercept[IllegalArgumentException] {
      StreamingDedup.firstSeenDedup(docs, "doc_id", "text", "ts", expireState = false)
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
  }
}
