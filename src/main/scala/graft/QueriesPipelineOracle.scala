package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/**
 * The flagship pipeline composition behind the DuckDB oracle (VERDICT r3 #2):
 * the REAL `BenchPipeline` path — `Pages.extractOsmElements` /
 * `extractUpstreamItems` -> `BenchPipeline.filterOsm`/`projectUps` ->
 * `MatchEngine.matchView` (name-tier match, rank-1, anti leg) ->
 * `DeviationView.deviations` (suggested_tags/title/center) and
 * `Tiles.tileAssignment` (z14) — driven end to end on MODULAR-ARITHMETIC page
 * synthesis instead of the xxhash-seeded `Pages.synthesize`, so DuckDB can
 * recompute every stage from first principles (the `q_ds_*_oracle` trick
 * applied to the input contract itself). The page TEXT rows use the exact
 * `Pages` grammar (`OSM <t> <id> <E> <N> <json>` / `UPSTREAM ...`), so the
 * extraction under test is the production parser, not a stand-in.
 *
 * Fixture (per orders key k; positions integral meters, so SQRT distances,
 * scores and rank orders are bit-identical in Spark and DuckDB):
 *   every k: 1 UPSTREAM page, name "POI k", at (ux, uy) inside Sweden.
 *   k%10 picks the OSM twin: 0 none (missing); 1 exact name ≤36 m (diff
 *   empty -> dropped by the post-filter, visible in tiles); 2 lowercase name
 *   40 m (ci name tier + case-sensitive score quirk, diff carries name);
 *   3 exact name 150 m (name tier, diff empty); 4 no name 150 m (no match ->
 *   missing + anti); 5 exact name 300 m (outside the 250 m name tier ->
 *   missing + anti); 6 no name 30 m (dOther tier, diff carries name);
 *   7 TWO pages — 20 m no-name (score 70) vs 100 m exact-name (score 350):
 *   rank-1 picks the no-name one, the loser is matched hence NOT anti;
 *   8 wrong name 14 m; 9 exact name 100 m diagonal. Cross-site candidates
 *   (sites within 50 m of a foreign site) arise naturally at scale and are
 *   recomputed by the oracle's spatial self-join, not suppressed.
 *   Geometry is all-point BY DESIGN: polygon centroids accumulate shoelace
 *   terms ~1e19 whose last-ulp rounding is not portable across engines
 *   (area rows stay covered by the rows-only q_pipe_* entries and the
 *   dataset-view oracles).
 *
 * The tiles oracle re-derives `Proj.swerefToWgs84` (Krüger inverse series)
 * + slippy tile arithmetic as plain SQL with the SAME operation order as
 * the Scala code; constants are 17-digit literals of the Scala values.
 * Tile-boundary FP flips need a point within ~1e-9 m of a tile edge
 * (tiles are 2446 m at z14) — probability ~1e-12 per row.
 */
object QueriesPipelineOracle {

  private def kMod(n: Long): Column = pmod(col("k"), lit(n))

  private def fmt(c: Column): Column = format_string("%.3f", c)

  /** modular-arithmetic pages in the exact `Pages` grammar.
    * @param keyMod keep only orders keys ≡ 0 (mod keyMod) — the streaming
    *   entry runs on a 1/5 slice (its 3 micro-batches pay the incremental
    *   store's per-batch overhead, which dominates at gate scale) */
  private def oraclePages(s: SparkSession, dir: String, keyMod: Long = 1L): DataFrame = {
    val base0 = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"))
    val base = (if (keyMod == 1L) base0 else base0.filter(pmod(col("k"), lit(keyMod)) === 0))
      .withColumn("ux", (pmod(col("k") * 48271L, lit(600000L)) + 280000L).cast("double"))
      .withColumn("uy", (pmod(col("k") * 69621L, lit(1400000L)) + 6140000L).cast("double"))
      .withColumn("m", kMod(10))

    val ups = base
      .withColumn("text", concat_ws(" ",
        lit("UPSTREAM"), lit(1L), concat(lit("s"), col("k")),
        fmt(col("ux")), fmt(col("uy")),
        format_string("""{"name":"POI %d","kind":"bench"}""", col("k"))))
      .withColumn("url", format_string("https://data.example.sv/bench/item/%d", col("k")))

    val m = col("m")
    def osmText(oid: Column, ox: Column, oy: Column, oname: Column): Column =
      concat_ws(" ", lit("OSM"), lit("n"), oid, fmt(ox), fmt(oy),
        when(oname.isNotNull,
          format_string("""{"amenity":"bench_poi","name":"%s"}""", oname))
          .otherwise(lit("""{"amenity":"bench_poi"}""")))

    val osmA = base.filter(m =!= 0)
      .withColumn("ox", col("ux") +
        when(m === 1, kMod(30)).when(m === 2, 40L).when(m === 3, 150L)
          .when(m === 4, 150L).when(m === 5, 300L).when(m === 6, 30L)
          .when(m === 7, 20L).when(m === 8, 10L).when(m === 9, 60L)
          .cast("double"))
      .withColumn("oy", col("uy") +
        when(m === 1, kMod(20)).when(m === 8, 10L).when(m === 9, 80L)
          .otherwise(0L).cast("double"))
      .withColumn("oname",
        when(m.isin(1L, 3L, 5L, 9L), format_string("POI %d", col("k")))
          .when(m === 2, format_string("poi %d", col("k")))
          .when(m === 8, format_string("POI %d X", col("k"))))
      .withColumn("oid", col("k") + 1000000000L)
      .withColumn("text", osmText(col("oid"), col("ox"), col("oy"), col("oname")))
      .withColumn("url", format_string("https://osm.example.sv/el/%d", col("oid")))

    // k%10==7 second page: the exact-name candidate that LOSES rank-1
    val osmB = base.filter(m === 7)
      .withColumn("oid", col("k") + 3000000000L)
      .withColumn("text", osmText(col("oid"), col("ux") + 100.0, col("uy"),
        format_string("POI %d", col("k"))))
      .withColumn("url", format_string("https://osm.example.sv/el/%d", col("oid")))

    // non-feature pages: extraction must FILTER, not just project
    val noise = base.filter(kMod(3) === 0)
      .withColumn("text", format_string("Plain page %d without geodata.", col("k")))
      .withColumn("url", format_string("https://www.example.com/page/%d", col("k")))

    def shaped(df: DataFrame, lang: String): DataFrame = df.select(
      col("url"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("warc_ts"),
      encode(col("text"), "utf-8").as("html"),
      col("text"),
      lit(lang).as("lang"))

    shaped(ups, "sv").unionByName(shaped(osmA, "sv"))
      .unionByName(shaped(osmB, "sv")).unionByName(shaped(noise, "en"))
  }

  /** the real composition: extraction -> match (incl. anti) */
  private def matchRows(s: SparkSession, dir: String): DataFrame = {
    val (osm, ups) = graft.engine.BenchPipeline.extract(oraclePages(s, dir))
    graft.engine.BenchPipeline.matchRowsFrom(osm, ups)
  }

  /** suggested_tags rendered over the two keys this dataset can emit */
  private def diffStr(mcol: Column): Column =
    concat_ws(";", Seq("amenity", "name").map(key =>
      when(map_contains_key(mcol, lit(key)),
        concat(lit(key + "="), coalesce(mcol(key), lit("__remove__"))))): _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipe_core_oracle" -> ((s, dir) => {
      val dev = graft.engine.BenchPipeline.deviations(matchRows(s, dir))
      dev.select(
        get(col("upstream_item_ids"), lit(0)).as("item_id"),
        col("osm_element_id").as("osm_id"),
        col("osm_element_type").as("osm_type"),
        col("title"), col("description"),
        diffStr(col("suggested_tags")).as("diff"),
        stCentroid(col("center"))("_1").as("cx"),
        stCentroid(col("center"))("_2").as("cy"))
    }),
    "q_pipe_tiles_oracle" -> ((s, dir) => {
      graft.engine.Tiles.tileAssignment(matchRows(s, dir), z = 14)
        .select(col("tile_x"), col("tile_y"), col("state"),
          get(col("upstream_item_ids"), lit(0)).as("item_id"),
          col("osm_element_id").as("osm_id"))
    }),

    // VERDICT r3 #5: a REAL Structured Streaming micro-batch run through the
    // driver oracle. The modular page fixture is written as 3 parquet files
    // and replayed with AvailableNow + maxFilesPerTrigger=1, so
    // startDeviationSync executes 3 genuine micro-batches (element-store
    // MERGE -> dirty-block frontier -> scoped match/deviation recompute ->
    // DeviationStore.syncScoped). The store's FINAL state must hash-equal
    // the batch composition's expected frame — devOracleSql on the same
    // slice — i.e. incremental maintenance converges to the batch answer
    // regardless of how the input was split into batches. Runs on a 1/5
    // slice of the fixture (keyMod=5): per-micro-batch store overhead
    // (small-file commits, full-outer sync) dominates at gate scale and the
    // full-fixture form cost ~8.5 min at sf0.01.
    "q_stream_devsync_oracle" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_gate").toString
      val pagesPath = s"$tmp/pages"
      oraclePages(s, dir, keyMod = 5L).repartition(3).write.parquet(pagesPath)
      val store = new graft.engine.DeviationStore(s, s"$tmp/store")
      val q = graft.streaming.StreamingIngest.startDeviationSync(
        s, pagesPath, s"$tmp/ckpt", store, statePath = s"$tmp/state",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      val out = store.latestFor("bench_pois").select(
        get(col("upstream_item_ids"), lit(0)).as("item_id"),
        col("osm_element_id").as("osm_id"),
        col("osm_element_type").as("osm_type"),
        col("title"), col("description"),
        diffStr(col("suggested_tags")).as("diff"),
        stCentroid(col("center"))("_1").as("cx"),
        stCentroid(col("center"))("_2").as("cy"))
      // materialize, then delete the temp tree (same hygiene as q_store_resume)
      val rows = out.collect()
      graft.engine.PartitionedStore.deleteRecursively(java.nio.file.Paths.get(tmp))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // VERDICT r3 #8: recurring sync against the PERSISTED BUCKETED element
    // store, end to end and plan-asserted IN the entry. The extracted OSM
    // side is written ONCE as a cell-bucketed table (the shuffle happens at
    // write time); two successive sync batches (disjoint item slices) then
    // join against it via bucketedDWithinBatch — the entry executes each
    // candidate join and REQUIRES its executed plan to contain exactly one
    // Exchange (the O(batch) probe-side shuffle; the store side reads
    // straight from its buckets). Broadcast is disabled while the joins run
    // so local-scale table sizes can't substitute a broadcast for the
    // bucket-colocation being asserted (same discipline as BucketedJoinSpec
    // and the break-even-3 analysis in BASELINE.md). Match condition,
    // score and rank-1 are the REAL MatchEngine column expressions.
    "q_pipe_sync_bucketed_oracle" -> ((s, dir) => {
      import graft.operators.{SpatialJoin, SpatialLayout}
      val spec = graft.engine.BenchPipeline.spec
      val tmp = java.nio.file.Files.createTempDirectory("graft_sync_bucket").toString
      val (osm, ups) = graft.engine.BenchPipeline.extract(oraclePages(s, dir))
      SpatialLayout.writeBucketedPoints(
        SpatialJoin.prefixAll(osm, "b_"), "b_cx", "b_cy",
        cellSize = 1000.0, radius = 0.0,
        "q_sync_store_b", s"$tmp/store", numBuckets = 16)
      val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = try {
        val syncs = Seq(0, 1).map { syncNo =>
          val batch = SpatialJoin.prefixAll(
            ups.filter(pmod(col("id"), lit(7L)) === syncNo), "p_")
          val cand = SpatialLayout.bucketedDWithinBatch(batch, "q_sync_store_b",
            "p_cx", "p_cy", "b_cx", "b_cy", cellSize = 1000.0, distance = 250.0)
          val cond = cand
            .filter(matchConditionCol(spec, col("b_tags"), col("p_tags"), col("dist")))
            .withColumn("score", matchScoreCol(spec, col("b_tags"), col("p_tags"), col("dist")))
          cond.count() // finalize AQE so the plan audit sees the real stages
          val ex = SpatialLayout.exchangeNodes(cond)
          require(ex.size == 1,
            s"sync $syncNo: bucketed store join must shuffle ONLY the batch " +
              s"side (one Exchange), planned: ${ex.mkString(", ")}")
          val best = cond.groupBy(col("p_id"))
            .agg(min_by(struct(col("b_id"), col("dist")),
              struct(col("score"), col("b_type"), col("b_id"))).as("m"))
          batch.select(col("p_id")).join(best, Seq("p_id"), "left")
            .select(col("p_id").as("item_id"),
              col("m.b_id").as("osm_id"), col("m.dist").as("dist"),
              lit(syncNo).as("sync_no"))
        }
        graft.operators.Materialize(syncs.reduce(_ unionByName _))
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      s.sql("DROP TABLE IF EXISTS q_sync_store_b")
      graft.engine.PartitionedStore.deleteRecursively(java.nio.file.Paths.get(tmp))
      out
    }))

  /** fixture CTEs (upstream sites + OSM twins) shared by every oracle here.
    * @param where optional restriction on the orders keys (e.g. the
    *   streaming entry's 1/5 slice) — must match the Spark-side keyMod */
  private def baseSql(where: String = ""): String =
    s"""b AS (
      |  SELECT o_orderkey AS k,
      |    CAST((o_orderkey*48271)%600000 + 280000 AS DOUBLE) AS ux,
      |    CAST((o_orderkey*69621)%1400000 + 6140000 AS DOUBLE) AS uy,
      |    'POI ' || CAST(o_orderkey AS VARCHAR) AS uname,
      |    o_orderkey%10 AS m
      |  FROM orders$where),
      |osm AS (
      |  SELECT k, k+1000000000 AS oid,
      |    ux + CASE WHEN m=1 THEN k%30 WHEN m=2 THEN 40 WHEN m=3 THEN 150
      |              WHEN m=4 THEN 150 WHEN m=5 THEN 300 WHEN m=6 THEN 30
      |              WHEN m=7 THEN 20 WHEN m=8 THEN 10 WHEN m=9 THEN 60 END AS ox,
      |    uy + CASE WHEN m=1 THEN k%20 WHEN m=8 THEN 10 WHEN m=9 THEN 80
      |              ELSE 0 END AS oy,
      |    CASE WHEN m IN (1,3,5,9) THEN uname
      |         WHEN m=2 THEN LOWER(uname)
      |         WHEN m=8 THEN uname || ' X' END AS oname
      |  FROM b WHERE m <> 0
      |  UNION ALL
      |  SELECT k, k+3000000000 AS oid, ux+100 AS ox, uy AS oy, uname AS oname
      |  FROM b WHERE m = 7)""".stripMargin

  /** candidate/match/anti CTEs shared by the full-composition oracles */
  private def matchSql(where: String = ""): String =
    baseSql(where) + """,
      |cand AS (
      |  SELECT u.k AS uk, u.uname, u.ux, u.uy, o.oid, o.ox, o.oy, o.oname,
      |    SQRT((u.ux-o.ox)*(u.ux-o.ox)+(u.uy-o.oy)*(u.uy-o.oy)) AS dist
      |  FROM b u JOIN osm o
      |    ON o.ox BETWEEN u.ux-250 AND u.ux+250
      |   AND o.oy BETWEEN u.uy-250 AND u.uy+250
      |   AND SQRT((u.ux-o.ox)*(u.ux-o.ox)+(u.uy-o.oy)*(u.uy-o.oy)) <= 250),
      |cond AS (
      |  SELECT *,
      |    CASE WHEN oname = uname THEN 250.0 + dist ELSE 50.0 + dist END AS score
      |  FROM cand
      |  WHERE (LOWER(oname) = LOWER(uname) AND dist <= 250) OR dist <= 50),
      |best AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY uk ORDER BY score, oid) AS rn
      |    FROM cond)
      |  WHERE rn = 1),
      |matched_osm AS (SELECT DISTINCT oid FROM cond),
      |antiosm AS (SELECT * FROM osm WHERE oid NOT IN (SELECT oid FROM matched_osm))""".stripMargin

  /** Krüger inverse (Proj.swerefToWgs84) + slippy tile, same op order as the
    * Scala; constants are 17-digit prints of the Scala doubles. Input CTE
    * `pts(gid, px, py)` -> `tiles(gid, tx, ty)`. */
  private val tileSql: String =
    """prj AS (
      |  SELECT gid, px, py,
      |    py / 6364902.16611274 AS xi,
      |    (px - 500000.0) / 6364902.16611274 AS eta
      |  FROM pts),
      |prj2 AS (
      |  SELECT gid, px, py, xi, eta,
      |    xi - 0.000837732168164144*SIN(2*xi)*((EXP(2*eta)+EXP(-(2*eta)))/2)
      |       - 5.905869626082731e-08*SIN(4*xi)*((EXP(4*eta)+EXP(-(4*eta)))/2)
      |       - 1.6734889049883464e-10*SIN(6*xi)*((EXP(6*eta)+EXP(-(6*eta)))/2)
      |       - 2.1677378055967575e-13*SIN(8*xi)*((EXP(8*eta)+EXP(-(8*eta)))/2) AS xip,
      |    eta - 0.000837732168164144*COS(2*xi)*((EXP(2*eta)-EXP(-(2*eta)))/2)
      |        - 5.905869626082731e-08*COS(4*xi)*((EXP(4*eta)-EXP(-(4*eta)))/2)
      |        - 1.6734889049883464e-10*COS(6*xi)*((EXP(6*eta)-EXP(-(6*eta)))/2)
      |        - 2.1677378055967575e-13*COS(8*xi)*((EXP(8*eta)-EXP(-(8*eta)))/2) AS etap
      |  FROM prj),
      |prj3 AS (
      |  SELECT gid, ASIN(SIN(xip)/((EXP(etap)+EXP(-(etap)))/2)) AS chi,
      |    DEGREES(ATAN2(((EXP(etap)-EXP(-(etap)))/2), COS(xip)) + RADIANS(15.0)) AS londeg
      |  FROM prj2),
      |prj4 AS (
      |  SELECT gid, londeg,
      |    DEGREES(chi + 0.0033565514855966932*SIN(2*chi)
      |      + 6.571873148458867e-06*SIN(4*chi)
      |      + 1.7646564264542834e-08*SIN(6*chi)
      |      + 5.400482187759887e-11*SIN(8*chi)) AS latdeg
      |  FROM prj3),
      |tiles AS (
      |  SELECT gid,
      |    CAST(LEAST(GREATEST(FLOOR((londeg + 180.0)/360.0*16384), 0), 16383) AS INT) AS tx,
      |    CAST(LEAST(GREATEST(FLOOR(
      |      (1.0 - LN(TAN(RADIANS(latdeg)) + 1.0/COS(RADIANS(latdeg)))/PI())/2.0*16384
      |    ), 0), 16383) AS INT) AS ty
      |  FROM prj4)""".stripMargin

  /** deviation-output SQL — shared by the batch composition oracle and the
    * streaming-sync oracle (the store's post-stream state must equal the
    * batch result, so the SAME expected frame oracles both). */
  private def devOracleSql(where: String = ""): String =
    s"""WITH ${matchSql(where)},
      |dev AS (
      |  SELECT 1000000000000 + u.k AS item_id, w.oid AS osm_id,
      |    CASE WHEN w.oid IS NOT NULL THEN 'n' END AS osm_type,
      |    CASE WHEN w.oid IS NULL THEN 'POI saknas'
      |         ELSE 'POI saknar taggar' END AS title,
      |    CASE WHEN w.oid IS NULL THEN 'Enligt källan ska det finnas en POI här'
      |         ELSE 'Följande taggar saknas på POI:n här' END AS description,
      |    CONCAT_WS(';',
      |      CASE WHEN w.oid IS NULL THEN 'amenity=bench_poi' END,
      |      CASE WHEN w.oid IS NULL OR w.oname IS DISTINCT FROM u.uname
      |           THEN 'name=' || u.uname END) AS diff,
      |    CASE WHEN w.oid IS NULL THEN u.ux ELSE w.ox END AS cx,
      |    CASE WHEN w.oid IS NULL THEN u.uy ELSE w.oy END AS cy
      |  FROM b u LEFT JOIN best w ON u.k = w.uk)
      |SELECT item_id, osm_id, osm_type, title, description, diff, cx, cy
      |FROM dev WHERE osm_id IS NULL OR diff <> ''""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_pipe_core_oracle" -> devOracleSql(),
    "q_stream_devsync_oracle" -> devOracleSql(" WHERE o_orderkey % 5 = 0"),
    // leg-1 rank-1 of two disjoint sync batches against the full OSM set —
    // the store side is identical however it is laid out, so the bucketed
    // path's result is oracled by the plain spatial-join recomputation
    // (item id 10^12+k ≡ (1+k) mod 7 selects the batches)
    "q_pipe_sync_bucketed_oracle" ->
      s"""WITH ${baseSql()},
        |bm AS (SELECT *, (1000000000000+k)%7 AS sync_no FROM b
        |       WHERE (1000000000000+k)%7 IN (0,1)),
        |candm AS (
        |  SELECT u.k AS uk, u.sync_no, u.uname, o.oid, o.oname,
        |    SQRT((u.ux-o.ox)*(u.ux-o.ox)+(u.uy-o.oy)*(u.uy-o.oy)) AS dist
        |  FROM bm u JOIN osm o
        |    ON o.ox BETWEEN u.ux-250 AND u.ux+250
        |   AND o.oy BETWEEN u.uy-250 AND u.uy+250
        |   AND SQRT((u.ux-o.ox)*(u.ux-o.ox)+(u.uy-o.oy)*(u.uy-o.oy)) <= 250),
        |condm AS (
        |  SELECT *,
        |    CASE WHEN oname = uname THEN 250.0 + dist ELSE 50.0 + dist END AS score
        |  FROM candm
        |  WHERE (LOWER(oname) = LOWER(uname) AND dist <= 250) OR dist <= 50),
        |bestm AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY uk ORDER BY score, oid) AS rn
        |    FROM condm)
        |  WHERE rn = 1)
        |SELECT 1000000000000 + u.k AS item_id, w.oid AS osm_id, w.dist,
        |  CAST(u.sync_no AS INT) AS sync_no
        |FROM bm u LEFT JOIN bestm w ON u.k = w.uk""".stripMargin,
    "q_pipe_tiles_oracle" ->
      s"""WITH ${matchSql()},
        |rows0 AS (
        |  SELECT u.k AS rk, 1000000000000 + u.k AS item_id, w.oid AS osm_id,
        |    CASE WHEN w.oid IS NULL THEN 'not-in-osm' ELSE 'in-both' END AS state,
        |    u.ux, u.uy, w.ox, w.oy
        |  FROM b u LEFT JOIN best w ON u.k = w.uk
        |  UNION ALL
        |  SELECT -oid AS rk, NULL AS item_id, oid AS osm_id,
        |    'not-in-upstream' AS state, NULL, NULL, ox, oy
        |  FROM antiosm),
        |pts AS (
        |  SELECT rk AS gid, ux AS px, uy AS py FROM rows0 WHERE ux IS NOT NULL
        |  UNION ALL
        |  SELECT rk AS gid, ox AS px, oy AS py FROM rows0 WHERE ox IS NOT NULL),
        |$tileSql
        |SELECT DISTINCT t.tx AS tile_x, t.ty AS tile_y, r.state, r.item_id, r.osm_id
        |FROM rows0 r JOIN tiles t ON t.gid = r.rk""".stripMargin)
}
