package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SpatialLayout, WebGraph}

/**
 * THE INCREMENTAL CRAWL ROUND-TRIP behind one oracle (VERDICT r4 #3) — the
 * crawl-axis analog of `q_pipe_sync_bucketed_oracle`: three crawl batches
 * (doc_id % 3) run through the maintenance loop a rolling crawl actually
 * executes, with the inter-batch state PERSISTED to parquet and re-read
 * (a real round-trip, not shared lineage):
 *
 *  1. link-graph maintenance — [[WebGraph.hostGraph]] of the batch merged
 *     into the stored graph via [[WebGraph.mergeHostGraphs]];
 *  2. incremental dedup — [[Dedup.incrementalMinhash]] decisions for the
 *     batch against the stored signature table, then the batch's
 *     [[Dedup.minhashSignatures]] appended to the store;
 *  3. crawl bookkeeping — last-crawl-per-url merged full-outer/max (the
 *     [[WebGraph.sitemapRecrawl]] `seen` table's maintenance).
 *
 * The FINAL state must hash-equal the full-corpus closed forms — the
 * convergence property (any batch split reaches the same state) is what
 * the oracle checks — and the per-batch dedup LEDGER is part of the hashed
 * output, predicted by the oracle from first principles (portable-hash
 * signatures with a batch(cid) < batch(nid) candidate predicate).
 *
 * In-entry plan asserts (the 100-TB increment-cost claim, machine-checked
 * per batch): the decision join's executed plan file-scans ONLY the
 * persisted signature store — never the corpus text — and contains no
 * all-pairs node (BroadcastNestedLoopJoin / CartesianProduct). Increment
 * cost is O(batch + collisions), never O(corpus).
 *
 * Signatures run CAPLESS (maxDocFreq = MaxValue): a document-frequency cap
 * is corpus-relative, so capped signatures are NOT batch-split invariant —
 * capless ones are per-doc pure, which is exactly what makes the final
 * store equal the full-corpus table. (Production keeps the cap and accepts
 * signature drift across increments; the gate entry verifies the invariant
 * form.)
 */
object QueriesIncrPipe {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Crawl-increment texts with engineered CROSS-BATCH duplicate classes
    * (batch = doc_id % 3):
    *  - %3==2 && %5==0 docs reuse the text of doc_id-2 (batch 0) — an
    *    exact cross-batch duplicate, 16/16 signature agreement;
    *  - %3==1 && %5==0 docs append a tail to doc_id-1's text (batch 0) —
    *    a near duplicate with partial agreement;
    *  - everything else keeps its own text.
    * Missing referenced ids (corpus boundary) keep their own text (LEFT
    * JOIN + fallback). Reproduced verbatim in the oracle's `corpus` CTE. */
  private def incrDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val ref = when(pmod(col("doc_id"), lit(3L)) === 2 &&
        pmod(col("doc_id"), lit(5L)) === 0, col("doc_id") - 2)
      .when(pmod(col("doc_id"), lit(3L)) === 1 &&
        pmod(col("doc_id"), lit(5L)) === 0, col("doc_id") - 1)
    val p = d.select(col("doc_id").as("__pid"), col("text").as("__ptext"))
    d.withColumn("__ref", ref)
      .join(p, col("__ref") === col("__pid"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 2 && col("__ptext").isNotNull,
          col("__ptext"))
          .when(pmod(col("doc_id"), lit(3L)) === 1 && col("__ptext").isNotNull,
            concat(col("__ptext"), lit(" crawl increment tail words")))
          .otherwise(col("text")).as("text"))
  }

  /** full-outer/max merge of (url, last_ts) crawl records. */
  private def mergeCrawl(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.select(col("url"), col("last_ts").as("__a"))
      .join(delta.select(col("url"), col("last_ts").as("__b")),
        Seq("url"), "full_outer")
      .select(col("url"),
        greatest(coalesce(col("__a"), lit(Long.MinValue)),
          coalesce(col("__b"), lit(Long.MinValue))).as("last_ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STREAMING crawl ingest through the driver oracle (the web-axis
    // analog of q_stream_devsync_oracle): webCorpus written as 3 parquet
    // files and replayed AvailableNow + maxFilesPerTrigger=1, so
    // StreamingCrawl.startHostGraphSync executes 3 REAL micro-batches of
    // extract → collapse → merge against the parquet-persisted graph; the
    // FINAL stored graph must hash-equal the full-corpus host graph
    // (q_web_hostgraph's oracle SQL verbatim) — incremental maintenance
    // converges to the batch answer regardless of the batch split.
    "q_stream_hostgraph_oracle" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_hg").toString
      QueriesWebGraph.webCorpus(s, dir).repartition(3)
        .write.parquet(s"$tmp/pages")
      val q = graft.streaming.StreamingCrawl.startHostGraphSync(
        s, s"$tmp/pages", s"$tmp/ckpt", s"$tmp/store",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      val out = graft.streaming.StreamingCrawl.latestGraph(s, s"$tmp/store")
        .getOrElse(sys.error("streaming host-graph sync produced no state"))
        .select(col("src_host"), col("dst_host"), col("n_links"))
      val rows = out.collect()
      graft.engine.PartitionedStore.deleteRecursively(java.nio.file.Paths.get(tmp))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    "q_web_incrpipe" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_incrpipe").toString
      val pagesAll = QueriesWebGraph.webCorpus(s, dir)
      val docsAll = incrDocs(s, dir)
      var graphPath: String = null
      var sigPath: String = null
      var crawlPath: String = null
      var ledger: DataFrame = null
      for (b <- 0L to 2L) {
        // the increment arrives as its own materialized batch (a crawl
        // segment on disk) — localCheckpoint so the decision plan's only
        // FILE scans are the persisted state, which the audit then pins
        val pb = pagesAll.filter(pmod(col("doc_id"), lit(3L)) === b)
          .localCheckpoint()
        val tb = docsAll.filter(pmod(col("doc_id"), lit(3L)) === b)
          .localCheckpoint()
        val graphDelta = WebGraph.hostGraph(
          WebGraph.extractLinks(pb, "url", "html"), "src_url", "dst_url")
        val crawlDelta = pb.groupBy(col("url"))
          .agg(max(col("doc_id")).as("last_ts"))
        val sigsB = Dedup.minhashSignatures(tb, "doc_id", "text",
          n = 3, numHashes = 16, hashFn = Dedup.PortableHash.shingleHash)
        if (graphPath == null) {
          graphDelta.write.parquet(s"$tmp/graph_$b")
          sigsB.write.parquet(s"$tmp/sigs_$b")
          crawlDelta.write.parquet(s"$tmp/crawl_$b")
        } else {
          val storedSigs = s.read.parquet(sigPath)
          val dec = Dedup.incrementalMinhash(tb, storedSigs, "doc_id", "text",
            n = 3, numHashes = 16, bands = 4, minMatches = 8,
            hashFn = Dedup.PortableHash.shingleHash,
            bandHashFn = Dedup.PortableHash.bandHash)
          dec.count() // finalize AQE so the audit sees the real stages
          val scans = SpatialLayout.scanRootPaths(dec)
          require(scans.nonEmpty && scans.forall(_.contains("/sigs_")),
            s"batch $b: the increment must file-scan ONLY the persisted " +
              s"signature store (never corpus text); scanned: $scans")
          val nodes = SpatialLayout.planNodeNames(dec)
          require(!nodes.exists(n =>
              n.contains("NestedLoop") || n.contains("Cartesian")),
            s"batch $b: all-pairs node in the increment plan: $nodes")
          val dl = dec.select(lit("dup").as("kind"),
            col("id").cast("string").as("k1"),
            coalesce(col("matched_id").cast("string"), lit("")).as("k2"),
            coalesce(col("agree"), lit(0L)).as("v"))
          ledger = (if (ledger == null) dl else ledger.unionByName(dl))
            .localCheckpoint()
          WebGraph.mergeHostGraphs(s.read.parquet(graphPath), graphDelta)
            .write.parquet(s"$tmp/graph_$b")
          storedSigs.unionByName(sigsB).write.parquet(s"$tmp/sigs_$b")
          mergeCrawl(s.read.parquet(crawlPath), crawlDelta)
            .write.parquet(s"$tmp/crawl_$b")
        }
        graphPath = s"$tmp/graph_$b"
        sigPath = s"$tmp/sigs_$b"
        crawlPath = s"$tmp/crawl_$b"
      }
      val edges = s.read.parquet(graphPath).select(lit("edge").as("kind"),
        col("src_host").as("k1"), col("dst_host").as("k2"),
        col("n_links").as("v"))
      val sigs = s.read.parquet(sigPath).select(col("id"),
          explode(array((0 until 16).map(i =>
            struct(lit(s"h$i").as("k2"), col(s"h$i").as("v"))): _*)).as("e"))
        .select(lit("sig").as("kind"), col("id").cast("string").as("k1"),
          col("e.k2").as("k2"), col("e.v").as("v"))
      val crawls = s.read.parquet(crawlPath).select(lit("crawl").as("kind"),
        col("url").as("k1"), lit("").as("k2"), col("last_ts").as("v"))
      val out = graft.operators.Materialize(
        edges.unionByName(sigs).unionByName(crawls).unionByName(ledger))
      graft.engine.PartitionedStore.deleteRecursively(java.nio.file.Paths.get(tmp))
      out
    }))

  /** capless portable minhash signatures over the `corpus(doc_id, text)`
    * CTE — [[Dedup.PortableHash]] recomputed in SQL (the
    * QueriesDedupOracle machinery, minus the document-frequency cap; see
    * the capless note in the object doc). Margin-bearing. */
  private def oracleSigs: String = {
    val sigCols = (0 until 16).map(i =>
      s"MIN(((${37 + 2 * i}*dv + ${1000003L * i + 17}) % 1000000007)) AS h$i")
      .mkString(",\n      |    ")
    s"""dd AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM corpus
      |      WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM dd, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ws)-2)) AS i) t),
      |dg AS (SELECT id, s, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, LENGTH(s)), ii ->
      |        CAST(ascii(substr(s, CAST(ii AS INT), 1)) AS BIGINT))),
      |      (acc, c) -> (acc*131 + c) % 1000000007) AS dv FROM sh),
      |sig AS (SELECT id,
      |    $sigCols
      |  FROM dg GROUP BY id)"""
  }

  /** 4 band-bucket keys over sig. Margin-bearing. */
  private def oracleBands: String = {
    val bandRows = (0 until 4).map { b =>
      val expr = (0 until 4).foldLeft(s"CAST(${1000003L + b} AS BIGINT)") {
        (acc, r) => s"(($acc)*1048573 + h${b * 4 + r}) % 1000000007"
      }
      s"SELECT id, $b AS band, $expr AS bh FROM sig"
    }.mkString("\n      |  UNION ALL ")
    s"""bk AS ($bandRows)"""
  }

  val oracle: Map[String, String] = Map(
    // micro-batched merge must converge to the full-corpus graph — the
    // SAME SQL as q_web_hostgraph (already margin-stripped at its source)
    "q_stream_hostgraph_oracle" -> QueriesWebGraph.oracleHostGraph,

    // full-corpus closed forms for every piece of the final state: the
    // host graph (the shared oracleHostGraphBody over ALL pages — merge
    // convergence), the capless signature store (per-doc pure => batch
    // invariant), the crawl record (MAX doc_id per url), and the dedup
    // ledger re-derived from first principles with the batch predicate
    // (cid's batch strictly earlier than nid's)
    "q_web_incrpipe" -> {
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val sigRows = (0 until 16).map(i =>
        s"SELECT 'sig' AS kind, CAST(id AS VARCHAR) AS k1, 'h$i' AS k2, h$i AS v FROM sig")
        .mkString("\n      |UNION ALL ")
      (s"""WITH pages AS (${QueriesWebGraph.oraclePages}),
      |links AS (${QueriesWebGraph.oracleLinks}),
      |hg AS (
      |""" + QueriesWebGraph.oracleHostGraphBody + s"""),
      |corpus AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 3 = 2 AND p.text IS NOT NULL THEN p.text
      |         WHEN d.doc_id % 3 = 1 AND p.text IS NOT NULL
      |           THEN p.text || ' crawl increment tail words'
      |         ELSE d.text END AS text
      |  FROM documents d LEFT JOIN documents p ON p.doc_id =
      |    CASE WHEN d.doc_id % 3 = 2 AND d.doc_id % 5 = 0 THEN d.doc_id - 2
      |         WHEN d.doc_id % 3 = 1 AND d.doc_id % 5 = 0 THEN d.doc_id - 1 END),
      |$oracleSigs,
      |$oracleBands,
      |cand AS (SELECT DISTINCT y.id AS nid, x.id AS cid
      |         FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh
      |         WHERE (x.id % 3) < (y.id % 3)),
      |score AS (SELECT cand.nid, cand.cid, CAST($agree AS BIGINT) AS agree
      |          FROM cand JOIN sig b ON b.id = cand.nid
      |                    JOIN sig a ON a.id = cand.cid),
      |best AS (SELECT nid, cid, agree,
      |    ROW_NUMBER() OVER (PARTITION BY nid ORDER BY agree DESC, cid ASC) AS rn
      |  FROM score WHERE agree >= 8),
      |newdocs AS (SELECT DISTINCT doc_id AS id FROM corpus WHERE doc_id % 3 <> 0)
      |SELECT 'edge' AS kind, src_host AS k1, dst_host AS k2, n_links AS v FROM hg
      |UNION ALL $sigRows
      |UNION ALL
      |SELECT 'crawl' AS kind, url AS k1, '' AS k2, CAST(MAX(doc_id) AS BIGINT) AS v
      |FROM pages GROUP BY url
      |UNION ALL
      |SELECT 'dup' AS kind, CAST(newdocs.id AS VARCHAR) AS k1,
      |  COALESCE(CAST(best.cid AS VARCHAR), '') AS k2,
      |  COALESCE(best.agree, 0) AS v
      |FROM newdocs LEFT JOIN best ON best.nid = newdocs.id AND best.rn = 1""")
        .stripMargin
    })
}
