package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Web-graph operators over a Common-Crawl-style pages table
 * (url:string, html:binary): link extraction, host-graph collapse, and a
 * deterministic fixed-point PageRank. The crawl-frontier / domain-authority
 * side of a training-data pipeline (CCNet keeps per-host stats; quality
 * filters and per-domain caps consume host-level scores).
 *
 * Everything is integer or string arithmetic on purpose — PageRank with
 * doubles is not bit-portable across engines (sum order changes the last
 * ulp), so ranks are BIGINT fixed-point with floor division, which DuckDB's
 * `//` reproduces exactly.
 */
object WebGraph {

  /** RE2-compatible href matcher (no lookarounds, no backrefs) shared
    * VERBATIM with the q_web_* oracles — group 1 is the raw href value. */
  val HrefPattern: String = "(?i)href=\"([^\"]*)\""

  /**
   * Outgoing links per page: decode the html bytes as UTF-8, pull every
   * `href="..."` value ([[HrefPattern]]), and resolve:
   *
   *  - absolute `http(s)://...` hrefs are kept verbatim;
   *  - root-relative `/path` hrefs resolve against the page URL's
   *    lowercased scheme://host (non-default port kept);
   *  - everything else (relative paths, `mailto:`, `javascript:`, empty,
   *    bare-fragment `#...`) is dropped — a crawl frontier can't use them
   *    without a full RFC 3986 resolver, and they are rare link mass.
   *
   * Output: (src_url, dst_url), one row per extracted link occurrence
   * (NOT distinct — link multiplicity is real signal; collapse downstream).
   * Compose [[WebText.canonicalUrl]] over `dst_url` when feeding a crawl
   * frontier; [[hostGraph]] needs no prior canonicalization.
   *
   * Scale: one projection + one explode, all codegen'd regex work, zero
   * shuffles — the 10^12-row scan cost is the regex over the html payload,
   * and the html column is only read here (prune it everywhere else).
   */
  def extractLinks(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val src = col(urlCol)
    val scheme = lower(regexp_extract(src, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(src, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val href = col("__href")
    pages
      .select(src.as("src_url"), scheme.as("__scheme"), hostport.as("__hostport"),
        explode(regexp_extract_all(col(htmlCol).cast("string"),
          lit(HrefPattern), lit(1))).as("__href"))
      .withColumn("dst_url",
        when(href.rlike("^[Hh][Tt][Tt][Pp][Ss]?://"), href)
          .when(href.startsWith("/") && col("__scheme") =!= "",
            concat(col("__scheme"), lit("://"), col("__hostport"), href)))
      .filter(col("dst_url").isNotNull)
      .select("src_url", "dst_url")
  }

  /** RE2-compatible full `<a href="…">text</a>` matcher shared VERBATIM with
    * the q_web_anchors oracle — group 1 is the href, group 2 the anchor text
    * (up to the first `<`, so nested markup truncates rather than matches). */
  val AnchorPattern: String = "(?i)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  /**
   * (src_url, dst_url, anchor) triples — [[extractLinks]] plus the anchor
   * text, the classic relevance signal (anchor text describes the TARGET
   * page; search and training-data pipelines aggregate it per destination).
   * Same href-resolution rules as [[extractLinks]]; the anchor is trimmed
   * but otherwise verbatim, '' when the element body is empty or opens with
   * a nested tag. One row per occurrence, multiplicity preserved.
   *
   * Scale: extracts whole `<a>` elements once (group 0), then re-derives
   * both groups per element — three regex passes over short element strings
   * instead of two full-document passes kept in lockstep. Zero shuffles;
   * the html column is read exactly once.
   */
  def extractAnchors(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val src = col(urlCol)
    val scheme = lower(regexp_extract(src, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(src, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val href = regexp_extract(col("__a"), AnchorPattern, 1)
    pages
      .select(src.as("src_url"), scheme.as("__scheme"), hostport.as("__hostport"),
        explode(regexp_extract_all(col(htmlCol).cast("string"),
          lit(AnchorPattern), lit(0))).as("__a"))
      .withColumn("dst_url",
        when(href.rlike("^[Hh][Tt][Tt][Pp][Ss]?://"), href)
          .when(href.startsWith("/") && col("__scheme") =!= "",
            concat(col("__scheme"), lit("://"), col("__hostport"), href)))
      .filter(col("dst_url").isNotNull)
      .select(col("src_url"), col("dst_url"),
        trim(regexp_extract(col("__a"), AnchorPattern, 2)).as("anchor"))
  }

  /**
   * Per-destination-host anchor profile over an [[extractAnchors]] table:
   * (dst_host, n_links, n_anchors, top_anchor, top_anchor_n) where
   * `n_anchors` counts DISTINCT non-empty anchors and `top_anchor` is the
   * most frequent one (ties broken lexicographically ascending — pinned).
   * Empty anchors count as link mass but never as anchor vocabulary.
   *
   * Scale: one map-side-combined aggregation to (host, anchor) counts — the
   * shuffle carries pre-combined counts, bounded by per-host anchor
   * vocabulary, not link volume — then one window rank-1 per host plus the
   * host totals, both over the already-collapsed table. A host with 10^9
   * in-links but 10^4 distinct anchors costs 10^4 post-combine rows. The
   * collapsed table is eagerly localCheckpoint'ed: its two consumers
   * optimize into non-identical subtrees (the anchor≠'' filter pushes into
   * one branch only), so without it each branch re-scans and re-regexes
   * the anchors input — the full corpus when composed over
   * [[extractAnchors]] (seen in the executed plan).
   */
  def anchorStats(anchors: DataFrame, dstCol: String, anchorCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byAnchor = anchors
      .select(hostOf(col(dstCol)).as("dst_host"), col(anchorCol).as("anchor"))
      .filter(col("dst_host") =!= "")
      .groupBy("dst_host", "anchor")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = byAnchor.groupBy("dst_host").agg(
      sum("n").as("n_links"),
      sum(when(col("anchor") =!= "", 1L).otherwise(0L)).as("n_anchors"))
    val top = byAnchor.filter(col("anchor") =!= "")
      .withColumn("__rn", row_number().over(Window.partitionBy("dst_host")
        .orderBy(col("n").desc, col("anchor").asc)))
      .filter(col("__rn") === 1)
      .select(col("dst_host"), col("anchor").as("top_anchor"),
        col("n").as("top_anchor_n"))
    totals.join(top, Seq("dst_host"), "left")
  }

  /** lowercased host (no port) of a URL column — '' when unparseable. */
  private def hostOf(url: org.apache.spark.sql.Column) =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)", 1))

  /**
   * Politeness-aware frontier schedule: rank each URL within its host by
   * (priority DESC, url ASC — pinned tie) and assign it to fetch wave
   * `(host_rank - 1) div slotsPerWave`, so no wave fetches more than
   * `slotsPerWave` URLs from one host — the per-host concurrency cap a
   * crawler's politeness policy imposes, expressed as a dataset op (wave =
   * the batch a distributed fetch would run together). URLs with an
   * unparseable host go to host '' (rate-limiting garbage together is
   * safe). Feed [[pageRankFixedPoint]] host scores joined onto the
   * frontier as the priority.
   *
   * Scale: ONE window shuffle keyed on host. Ordering within a host is
   * inherently sequential (that is the politeness constraint itself), so a
   * mega-host's frontier sorts in one partition — cap per-host frontiers
   * first ([[WebText.domainCap]] on the host column) exactly as production
   * crawlers bound per-domain queues; the cap is policy, not a workaround.
   */
  def frontierSchedule(frontier: DataFrame, urlCol: String,
                       priorityCol: String, slotsPerWave: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(slotsPerWave >= 1)
    frontier
      .withColumn("host", hostOf(col(urlCol)))
      .withColumn("host_rank",
        row_number().over(Window.partitionBy(col("host"))
          .orderBy(col(priorityCol).desc, col(urlCol).asc)).cast("long"))
      .withColumn("wave", expr(s"(host_rank - 1L) div ${slotsPerWave}L"))
  }

  /**
   * Collapse a link table to the host graph: (src_host, dst_host, n_links)
   * with self-loops and unparseable endpoints dropped. One hash aggregation
   * with map-side partial combine — the (host, host) key space is tiny
   * relative to the link table, so the shuffle carries pre-combined counts.
   */
  def hostGraph(links: DataFrame, srcCol: String, dstCol: String): DataFrame =
    links
      .select(hostOf(col(srcCol)).as("src_host"), hostOf(col(dstCol)).as("dst_host"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "" &&
        col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /**
   * Deterministic fixed-point PageRank over a directed edge list, `iters`
   * synchronous iterations:
   *
   *   rank[0]   = scale                                   (per node)
   *   contrib   = rank div outdeg                         (per src)
   *   rank[k+1] = ((100-dampingPct)*scale) div 100
   *             + (dampingPct * sum(contrib over in-edges)) div 100
   *
   * All BIGINT floor divisions on non-negative values — bit-identical in
   * any engine with integer division (DuckDB `//`), unlike float PageRank
   * where reduction order moves the last ulp. Dangling nodes (no
   * out-edges) simply leak their mass, and the (1-d) term is per-node
   * rather than /N — the classic simplifications; ranks are an ORDERING
   * signal, not a probability. Parallel edges collapse first (contribution
   * is per distinct edge).
   *
   * Scale: per iteration, one equi-join of the edge list with the rank
   * table on src (both hash-partitioned on the join key — repartition the
   * edge list by src once caller-side and the shuffle is rank-table-sized)
   * and one map-side-combinable sum by dst. The rank table is |hosts| rows
   * (~10^8 at 10^12 pages — above broadcast size, fine as a shuffle side).
   * Plans grow linearly with `iters`, so the rank table is eagerly
   * localCheckpoint'ed every [[FixedPointCheckpointEvery]] rounds (the
   * [[Dedup]] connected-components discipline) — long runs keep an O(1)
   * per-round plan with no caller-side hygiene required; the inputs
   * (edges, nodes, outdeg) checkpoint once up front for the same reason.
   */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int = 3, scale: Long = 1000000L,
                         dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100 && scale > 0)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().localCheckpoint()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val base = ((100L - dampingPct) * scale) / 100L
    var ranks = nodes.withColumn("rank", lit(scale))
    for (i <- 1 to iters) {
      val incoming = e
        .join(ranks.join(outdeg, col("host") === col("src"))
          .select(col("host").as("__h"), expr("rank div outdeg").as("contrib")),
          col("src") === col("__h"))
        .groupBy(col("dst").as("host"))
        .agg(sum("contrib").as("inc"))
      ranks = nodes
        .join(incoming, Seq("host"), "left")
        .select(col("host"),
          (lit(base) + expr(s"($dampingPct * coalesce(inc, 0L)) div 100"))
            .as("rank"))
      if (i % FixedPointCheckpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Fixed-point loops ([[pageRankFixedPoint]], [[trustRank]]) eagerly
    * localCheckpoint their working table every this-many rounds: frequent
    * enough that a round's plan never stacks more than this many join+agg
    * layers (analyzer/optimizer cost stays O(1) per round), rare enough
    * that short runs (the default iters=3) pay zero extra materialization. */
  val FixedPointCheckpointEvery: Int = 4

  /**
   * Merge a crawl increment's host graph into the stored one — the
   * incremental-maintenance path for [[hostGraph]] (the
   * [[graft.operators.Dedup]] incrementalMinhash idea on the graph axis):
   * link counts are additive over disjoint page sets, so the merge is a
   * full-outer equi-join on the edge key summing `n_links`, and
   * maintaining the graph per crawl batch costs O(|stored edges| + |delta
   * edges|) — the crawled pages are never re-read. Associativity and
   * convergence (any batch split merges to the full-corpus graph) are
   * exactly what the gate oracle checks.
   */
  def mergeHostGraphs(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.select(col("src_host"), col("dst_host"), col("n_links").as("__a"))
      .join(delta.select(col("src_host"), col("dst_host"), col("n_links").as("__b")),
        Seq("src_host", "dst_host"), "full_outer")
      .select(col("src_host"), col("dst_host"),
        (coalesce(col("__a"), lit(0L)) + coalesce(col("__b"), lit(0L)))
          .as("n_links"))

  /**
   * Deterministic fixed-point TrustRank (Gyöngyi/Garcia-Molina/Pedersen,
   * VLDB'04): [[pageRankFixedPoint]] with the teleport mass restricted to a
   * curated seed set of trusted hosts, so trust propagates outward from the
   * seeds and link-spam neighborhoods (reachable only from themselves)
   * stay near 0 — the domain-demotion signal a crawl/curation pipeline
   * pairs with [[hostBlocklist]] (blocklist = known-bad, trustrank =
   * not-vouched-for):
   *
   *   trust[0]   = scale for seed hosts, 0 otherwise
   *   trust[k+1] = (seed ? ((100-dampingPct)*scale) div 100 : 0)
   *              + (dampingPct * sum(trust div outdeg over in-edges)) div 100
   *
   * Same BIGINT floor-division portability argument as
   * [[pageRankFixedPoint]]; same per-iteration plan shape (one edge join +
   * one combinable sum) and the same automatic
   * [[FixedPointCheckpointEvery]]-round localCheckpoint discipline. The
   * seed table is small by definition (hand-vetted hosts) and broadcast.
   * Seeds not present in the edge list are ignored; output is
   * (host, is_seed, trust).
   */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                iters: Int = 3, scale: Long = 1000000L,
                dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100 && scale > 0)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().localCheckpoint()
    val sd = broadcast(seeds.select(col(seedCol).as("host")).distinct()
      .withColumn("__seed", lit(true)))
    // NOT checkpointed: nodes already is, so each reference is a 2-node
    // subtree (checkpoint scan + broadcast hash join) — and keeping the
    // broadcast in the visible lineage lets PlanQualitySpec assert it
    val seeded = nodes.join(sd, Seq("host"), "left")
      .select(col("host"), coalesce(col("__seed"), lit(false)).as("is_seed"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val base = ((100L - dampingPct) * scale) / 100L
    var ranks = seeded.withColumn("trust",
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)))
    for (i <- 1 to iters) {
      val incoming = e
        .join(ranks.join(outdeg, col("host") === col("src"))
          .select(col("host").as("__h"), expr("trust div outdeg").as("contrib")),
          col("src") === col("__h"))
        .groupBy(col("dst").as("host"))
        .agg(sum("contrib").as("inc"))
      ranks = seeded
        .join(incoming, Seq("host"), "left")
        .select(col("host"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($dampingPct * coalesce(inc, 0L)) div 100")).as("trust"))
      if (i % FixedPointCheckpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /**
   * Deterministic fixed-point HITS (Kleinberg hubs/authorities), `iters`
   * synchronous iterations over a directed edge list:
   *
   *   hub[0]      = scale                          (per node)
   *   auth'[k+1]  = sum(hub[k]  over in-edges)     (per dst)
   *   auth[k+1]   = (auth' * scale) div max(auth') (max-normalized)
   *   hub'[k+1]   = sum(auth[k+1] over out-edges)  (per src)
   *   hub[k+1]    = (hub' * scale) div max(hub')
   *
   * Max-normalization instead of the textbook L2 norm: a BIGINT max is
   * bit-portable (DuckDB `//` reproduces every step exactly), an L2 norm is
   * a float sqrt whose reduction order moves the last ulp. Like
   * [[pageRankFixedPoint]], scores are an ORDERING signal. Parallel edges
   * collapse first; nodes with no in-edges get auth 0 (resp. hub 0).
   *
   * Overflow bound: auth' ≤ max_indegree * scale, and the normalization
   * multiplies by scale again, so pick scale with
   * max_degree * scale^2 < 2^63 — the default 10^6 is safe to ~9·10^6
   * in-links per host; drop to 10^4 for heavier-tailed graphs (costs rank
   * resolution, not correctness).
   *
   * Scale: per iteration, two edge-list equi-joins + two map-side-combinable
   * sums + two scalar maxes (broadcast back, no shuffle). The score tables
   * are |hosts| rows. Each normalize reads its raw-sum table TWICE (the max
   * and the join), so without materialization the plan quadruples per
   * half-step — every half-step score is eagerly localCheckpoint'ed (the
   * [[Dedup]] connected-components discipline), which is also the Pregel
   * superstep shape: O(1) plan per iteration, the |hosts|-row working set
   * materialized once per half-step.
   */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().localCheckpoint()
    // raw per-node sums -> max-normalized scores on every node (0 for nodes
    // the edge side never touches). max(raw) >= scale*1 whenever e is
    // nonempty, so the div is never by zero.
    def normalize(rawDf: DataFrame, outCol: String): DataFrame = {
      val raw = rawDf.localCheckpoint()
      val m = raw.agg(max("__raw").as("__max"))
      nodes.join(raw, Seq("host"), "left").crossJoin(broadcast(m))
        .select(col("host"),
          expr(s"(coalesce(__raw, 0L) * $scale) div __max").as(outCol))
        .localCheckpoint()
    }
    var hub = nodes.withColumn("hub", lit(scale))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = normalize(
        e.join(hub.withColumnRenamed("host", "__h"), col("src") === col("__h"))
          .groupBy(col("dst").as("host")).agg(sum("hub").as("__raw")),
        "auth")
      hub = normalize(
        e.join(auth.withColumnRenamed("host", "__h"), col("dst") === col("__h"))
          .groupBy(col("src").as("host")).agg(sum("auth").as("__raw")),
        "hub")
    }
    hub.join(auth, Seq("host"))
  }

  /** robots.txt lines belonging to `User-agent: *` groups, as
    * (host, line) — the UA-run window parse shared by [[parseRobots]] and
    * [[crawlDelays]]. */
  private def robotsStarLines(robots: DataFrame, hostCol: String,
                              bodyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host")).orderBy(col("pos"))
    val lines = robots
      .select(lower(col(hostCol)).as("host"),
        posexplode(split(col(bodyCol), "\n")).as(Seq("pos", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*", "")))
    val tagged = lines
      .withColumn("is_ua", lower(col("line")).startsWith("user-agent:"))
      .withColumn("ua_start",
        col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp",
        sum(when(col("ua_start"), 1L).otherwise(0L)).over(w))
    val starGroups = tagged
      .filter(col("is_ua") &&
        trim(regexp_extract(col("line"), "(?i)^user-agent:(.*)$", 1)) === "*")
      .select(col("host"), col("grp")).distinct()
    tagged.join(starGroups, Seq("host", "grp")).select(col("host"), col("line"))
  }

  /**
   * Parse robots.txt bodies into prefix rules — the politeness input of
   * [[frontierSchedule]]. One row per (host, rule):
   * (host, allow:boolean, prefix, plen). Semantics (deterministic subset,
   * shared with the q_web_robots oracle):
   *
   *  - `#` comments strip to end of line; lines trim;
   *  - directives live in User-agent GROUPS — a group is a RUN of
   *    consecutive `User-agent:` lines followed by its directives; only
   *    groups naming `*` emit rules (specific-agent groups are out of
   *    scope, documented);
   *  - `Allow:` / `Disallow:` (case-insensitive) with a non-empty value
   *    become rules; an empty value means "no rule" (the RFC 9309 empty
   *    Disallow = allow-all), any other directive is ignored;
   *  - matching is LITERAL prefix on the url's path+query (`*`/`$`
   *    wildcards out of scope — never guess at what you can't read).
   *
   * Scale: one window pair (lag + running sum) keyed on host assigns
   * group ids — a single shuffle of the line table; bodies are small
   * (RFC caps parse at 500 KiB) so per-host groups are bounded.
   */
  def parseRobots(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame =
    robotsStarLines(robots, hostCol, bodyCol)
      .withColumn("dir",
        lower(regexp_extract(col("line"), "(?i)^(allow|disallow):.*$", 1)))
      .withColumn("prefix",
        trim(regexp_extract(col("line"), "(?i)^(allow|disallow):(.*)$", 2)))
      .filter(col("dir") =!= "" && col("prefix") =!= "")
      .select(col("host"), (col("dir") === "allow").as("allow"),
        col("prefix"), length(col("prefix")).cast("long").as("plen"))

  /**
   * Per-host `Crawl-delay` from `User-agent: *` robots groups — the
   * politeness RATE input [[frontierSchedule]]'s wave math composes with
   * (`eta_sec = wave · crawl_delay_sec`). Integer seconds only
   * (non-numeric values are dropped — the de facto Bing/Yandex
   * semantics); several declarations keep the MAX (most conservative).
   * Directives in non-`*` groups are scoped to other crawlers and
   * excluded, like [[parseRobots]]' rules. Same single-shuffle line
   * parse; output is host-cardinality-bounded.
   */
  def crawlDelays(robots: DataFrame, hostCol: String, bodyCol: String): DataFrame =
    robotsStarLines(robots, hostCol, bodyCol)
      .withColumn("d", trim(regexp_extract(col("line"), "(?i)^crawl-delay:(.*)$", 1)))
      .filter(col("d").rlike("^[0-9]+$"))
      .groupBy("host")
      .agg(max(col("d").cast("long")).as("crawl_delay_sec"))

  /** path+query of a url ('' and no-path urls normalize to "/"). */
  private def pathOf(url: Column): Column =
    when(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1) === "",
      lit("/"))
      .otherwise(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1))

  /**
   * Robots-compliance decision per DISTINCT frontier url against
   * [[parseRobots]] rules: (url, robots_allowed, matched_prefix) with
   * longest-prefix-wins, Allow winning length ties (the RFC 9309 /
   * Google rule), and no-rule / unknown-host urls allowed. Join back to
   * the frontier on url (decisions are per-url, so the frontier's own
   * multiplicity never inflates the rule join).
   *
   * Scale: ONE equi-join on host — the prefix comparison rides the join
   * as a residual predicate, so each url meets only its own host's rules
   * (10s-100s; RFC-bounded), never a global theta join. The winner pick
   * is an argmax struct aggregation (plen, allow, prefix), no window.
   */
  def robotsFilter(frontier: DataFrame, urlCol: String, rules: DataFrame): DataFrame = {
    val urls = frontier.select(col(urlCol).as("url")).distinct()
      .withColumn("__host", hostOf(col("url")))
      .withColumn("__path", pathOf(col("url")))
    urls
      .join(rules, urls("__host") === rules("host") &&
        urls("__path").startsWith(rules("prefix")), "left")
      .groupBy(col("url"))
      .agg(max(struct(col("plen"), col("allow"), col("prefix"))).as("m"))
      .select(col("url"),
        coalesce(col("m.allow"), lit(true)).as("robots_allowed"),
        col("m.prefix").as("matched_prefix"))
  }

  /**
   * UT1/blocklist-style domain filter: a frontier URL is BLOCKED when its
   * host equals a blocklisted domain or sits under one (`www.spam0.com`
   * matches `spam0.com`; `spam0.com.evil.net` does NOT — matching is on
   * whole label-boundary suffixes, never substrings). Emits every input
   * row with (host, blocked, matched_domain) where matched_domain is the
   * LONGEST — most specific — blocklisted suffix, NULL when the URL
   * passes; unparseable URLs (host '') pass. Domains in the blocklist are
   * expected lowercase, no port (UT1 file convention).
   *
   * Scale: hosts are DISTINCT'd first (a map-side-combined shuffle of
   * host strings — distinct hosts, not URLs, drive the match cost), THEN
   * each host's suffix chain (one entry per DNS label, ~3–6) is exploded
   * — partitioning is preserved, so the explode, the blocklist join and
   * the longest-match fold-back all run without another Exchange — and
   * equi-joined against the blocklist, a broadcast hash join by
   * construction (UT1-class lists are millions of rows — tiny next to a
   * crawl frontier; `broadcast()` pins the build side).
   */
  def hostBlocklist(frontier: DataFrame, urlCol: String,
                    blocklist: DataFrame, domainCol: String): DataFrame = {
    val dom = blocklist.select(lower(col(domainCol)).as("__dom")).distinct()
    val withHost = frontier.withColumn("host", hostOf(col(urlCol)))
    val labels = split(col("host"), "\\.")
    val suffixes = transform(
      sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels) - i + 1), "."))
    val matched = withHost
      .where(col("host") =!= "")
      .select("host").distinct()
      .select(col("host"), explode(suffixes).as("__sfx"))
      .join(broadcast(dom), col("__sfx") === col("__dom"))
      .groupBy(col("host"))
      // suffixes of one host with equal length are identical -> max by
      // (length, value) is deterministic without a tiebreak column
      .agg(max(struct(length(col("__sfx")).as("l"), col("__sfx").as("s")))
        .as("m"))
      .select(col("host").as("__bhost"), col("m.s").as("matched_domain"))
    withHost.join(matched, col("host") === col("__bhost"), "left")
      .drop("__bhost")
      .withColumn("blocked", col("matched_domain").isNotNull)
  }

  /**
   * Weakly-connected components over a directed edge list — the host-graph
   * clustering surface (mirror/link-farm constellations, isolated
   * sub-webs): (node, comp) with comp = MIN node of the component (string
   * min — lexicographic — when nodes are hosts). Direction is discarded;
   * delegates to [[Dedup.connectedComponents]]'s iterated min-label
   * propagation (one equi-join + one combinable agg per round, eager
   * localCheckpoint between rounds so the plan stays O(1) per round — the
   * [[hitsFixedPoint]] lesson). Converges in O(component diameter) rounds;
   * web-host components are short-diameter in practice, `maxIter` bounds
   * adversarial chains (labels beyond it are a valid refinement:
   * over-segmented, never wrongly merged).
   */
  def weakComponents(edges: DataFrame, srcCol: String, dstCol: String,
                     maxIter: Int = 30): DataFrame =
    Dedup.connectedComponents(
      edges.select(col(srcCol).as("a_id"), col(dstCol).as("b_id")), maxIter)

  /** one `<url>`/`<sitemap>` entry's `<loc>` body (group 1). */
  val SitemapLocPattern: String = "(?is)<loc>\\s*([^<]*?)\\s*</loc>"
  /** one entry's `<lastmod>` body (group 1). */
  val SitemapLastmodPattern: String = "(?is)<lastmod>\\s*([^<]*?)\\s*</lastmod>"

  /**
   * Recrawl triage from sitemap declarations: join the [[parseSitemaps]]
   * document entries (index entries excluded) against the crawl store's
   * last-fetch record per url and classify each declared url —
   *
   *  - `new`: never crawled;
   *  - `stale`: the sitemap declares a `lastmod` lexicographically after
   *    the last crawl (W3C datetimes order lexicographically — the
   *    [[parseSitemaps]] string-date contract);
   *  - `fresh`: crawled and not declared newer (including urls whose
   *    sitemap carries no lastmod — no signal, no refetch).
   *
   * A url listed in several sitemaps keeps its MAX lastmod (null-ignoring
   * on both engines); feed `new` + `stale` rows into
   * [[frontierSchedule]]. Scale: two map-side-combined url-cardinality
   * aggregates and one equi-join on url — groups are per-resource listing/
   * re-crawl counts, so no salting (the [[graft.operators.WebText]]
   * urlDedup argument).
   */
  def sitemapRecrawl(entries: DataFrame, crawled: DataFrame,
                     crawledUrlCol: String, crawledTsCol: String): DataFrame = {
    val locs = entries.filter(!col("is_index"))
      .groupBy(col("loc")).agg(max(col("lastmod")).as("lastmod"))
    val seen = crawled.groupBy(col(crawledUrlCol).as("loc"))
      .agg(max(col(crawledTsCol)).as("last_crawl"))
    locs.join(seen, Seq("loc"), "left")
      .select(col("loc"), col("lastmod"), col("last_crawl"),
        when(col("last_crawl").isNull, "new")
          .when(col("lastmod").isNotNull && col("lastmod") > col("last_crawl"),
            "stale")
          .otherwise("fresh").as("status"))
  }

  /**
   * Sitemap parsing (sitemaps.org XML, both urlset and sitemapindex): the
   * crawl-discovery input feeding the frontier alongside extracted links.
   * Each `</url>` / `</sitemap>`-terminated entry yields its first `<loc>`
   * (trimmed; entries without one are structural tails and dropped) plus
   * the optional `<lastmod>` (kept as the raw W3C datetime STRING — date
   * parsing is locale/engine-sensitive, downstream recrawl logic compares
   * lexicographically which W3C datetimes support) and `is_index` (true
   * for `<sitemap>` entries — they name further sitemaps to fetch, not
   * documents). CDATA wrappers (`<loc><![CDATA[…]]></loc>`, common in
   * generator output) are stripped before entry parsing so the wrapped
   * value is read, not dropped. Zero shuffles: entry split + per-entry
   * regex are per-row array expressions; the output explode is the only
   * pivot.
   */
  def parseSitemaps(sitemaps: DataFrame, urlCol: String, xmlCol: String): DataFrame = {
    val xml = col(xmlCol).cast("string")
    val entries = filter(
      split(regexp_replace(
        regexp_replace(xml, "(?s)<!--.*?-->", ""),
        "(?s)<!\\[CDATA\\[(.*?)\\]\\]>", "$1"),
        "(?i)</(?:url|sitemap)>"),
      e => instr(lower(e), "<loc>") > 0)
    val parsed = transform(entries, e => struct(
      regexp_extract(e, SitemapLocPattern, 1).as("loc"),
      when(regexp_extract(e, SitemapLastmodPattern, 1) =!= "",
        regexp_extract(e, SitemapLastmodPattern, 1)).as("lastmod"),
      (instr(lower(e), "<sitemap>") > 0).as("is_index")))
    sitemaps
      .select(col(urlCol).as("sitemap_url"), explode(parsed).as("e"))
      .filter(col("e.loc") =!= "")
      .select(col("sitemap_url"), col("e.loc").as("loc"),
        col("e.lastmod").as("lastmod"), col("e.is_index").as("is_index"))
  }
}
