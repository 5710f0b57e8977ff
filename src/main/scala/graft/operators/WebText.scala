package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Web-text curation filters a training-data pipeline runs between crawl and
 * tokenizer: Gopher/C4-style repetition statistics, PII redaction, and
 * benchmark decontamination. All three are oracle-checkable (pure string /
 * count arithmetic another SQL engine reproduces bit-for-bit) and designed
 * for the 10^12-document scan:
 *
 *  - repetition stats are explode + two map-side-combinable aggregations
 *    keyed by (doc, gram) then doc — no self-joins, no windows;
 *  - PII redaction is three sequential regexp passes in one projection
 *    (WholeStageCodegen, zero shuffles);
 *  - decontamination broadcasts the benchmark shingle set (benchmarks are
 *    ~10^4-10^6 docs; the corpus side is a linear map-side join and never
 *    shuffles its full width — only the matched (doc, shingle) slivers reach
 *    the per-doc count).
 */
object WebText {

  /** all word n-gram occurrences (NOT distinct — counts matter here).
    * Output: (id, gram). Docs with fewer than n words contribute nothing. */
  private def gramOccurrences(docs: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame =
    docs
      .withColumn("__ws", split(col(textCol), " "))
      .filter(size(col("__ws")) >= n)
      .select(col(idCol).as("id"),
        explode(transform(
          sequence(lit(1), size(col("__ws")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("__ws"), i + k)): _*)))
          .as("gram"))

  /**
   * Gopher-style repetition statistics (Rae et al. 2021 §A1.1 shape, word
   * n-grams): per document
   *
   *  - `n_words`, `dup_word_frac` — (n_words − distinct words) / n_words;
   *  - `top2_ratio` — occurrences of the most frequent 2-gram over all
   *    2-gram occurrences ("fraction covered by the top n-gram" family);
   *  - `dup3_frac` — fraction of 3-gram occurrences whose gram occurs more
   *    than once in the doc ("fraction inside duplicated n-grams" family).
   *
   * Docs with fewer than 2 (resp. 3) words get ratio 0.0. The gram legs
   * aggregate by (doc, gram) then by doc — both hash aggregations with
   * map-side partial combine, so the exploded row count (n_words per doc)
   * never crosses the shuffle at full width; a per-row higher-order-function
   * form would avoid the explode but runs interpreted (see the charPoly
   * lesson in [[Dedup.PortableHash]]) and has no SQL-oracle twin.
   */
  def withRepetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g2 = gramOccurrences(docs, idCol, textCol, 2)
      .groupBy("id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("__top2"), sum(col("c")).as("__tot2"))
    val g3 = gramOccurrences(docs, idCol, textCol, 3)
      .groupBy("id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("__dup3"),
        sum(col("c")).as("__tot3"))
    // join the two narrow stat legs first (both already hash-partitioned by
    // id from their final aggregations), then join docs ONCE — the
    // full-width doc rows (text included) cross the shuffle a single time
    // instead of once per gram leg. Outer: a 2-word doc has g2 but no g3.
    val stats = g2.join(g3, Seq("id"), "full_outer")
    val ws = split(col(textCol), " ")
    docs
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("dup_word_frac",
        round((col("n_words") - size(array_distinct(ws))).cast("double") / col("n_words"), 4))
      .join(stats, col(idCol) === stats("id"), "left").drop(stats("id"))
      .withColumn("top2_ratio",
        coalesce(round(col("__top2").cast("double") / col("__tot2"), 4), lit(0.0)))
      .withColumn("dup3_frac",
        coalesce(round(col("__dup3").cast("double") / col("__tot3"), 4), lit(0.0)))
      .drop("__top2", "__tot2", "__dup3", "__tot3")
  }

  /** RE2-compatible subset (no \d, \b, or lookarounds), so the SAME pattern
    * strings run identically under Spark's Java regex and a DuckDB/RE2
    * oracle — the q_txt_bpe precedent. The IP pattern deliberately skips
    * word-boundary anchoring (\b differs subtly between engines); a longer
    * digit run around a dotted quad would also be redacted, which is the
    * safe direction for PII. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  /** international-format phones only (leading +): unanchored local formats
    * collide with ordinary numbers; greedy run matching is leftmost-first in
    * both engines. */
  val PhonePattern = "\\+[0-9]{1,3}[ -][0-9]{1,4}([ -][0-9]{2,4}){1,4}"

  /**
   * PII redaction: count and replace emails, then IPv4s, then phones — in
   * that order, each pass over the previous pass's output, so a digit-bearing
   * email domain is consumed as EMAIL before the IP pass sees it and the
   * counts are consistent with what the redacted text lost. Pure
   * regexp_extract_all/regexp_replace projection: zero shuffles, stays in
   * WholeStageCodegen across the 10^12-row scan.
   */
  def withPiiRedacted(docs: DataFrame, textCol: String): DataFrame = {
    def pass(df: DataFrame, in: String, out: String, pat: String,
             cnt: String, token: String): DataFrame =
      df.withColumn(cnt, size(regexp_extract_all(col(in), lit(pat), lit(0))).cast("long"))
        .withColumn(out, regexp_replace(col(in), pat, token))
    val p1 = pass(docs, textCol, "__t1", EmailPattern, "n_emails", "<EMAIL>")
    val p2 = pass(p1, "__t1", "__t2", Ipv4Pattern, "n_ips", "<IP>")
    pass(p2, "__t2", "redacted", PhonePattern, "n_phones", "<PHONE>")
      .drop("__t1", "__t2")
  }

  /**
   * Benchmark decontamination: flag corpus documents sharing at least
   * `minOverlap` distinct word n-grams with a benchmark/eval set (the
   * GPT-3-style 13-gram check; default 8 fits short web snippets). The
   * benchmark shingle set is explicitly broadcast — eval suites are tiny
   * next to the corpus — so the corpus scan is one map-side inner join plus
   * a per-doc count: no corpus shuffle at any scale. Output:
   * (doc_id, n_overlap) for contaminated docs only; anti-join the result to
   * keep the clean corpus.
   */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 8, minOverlap: Long = 1L): DataFrame = {
    require(n >= 1 && minOverlap >= 1, s"need n >= 1, minOverlap >= 1 (got $n, $minOverlap)")
    val bsh = broadcast(
      Dedup.shingles(benchmark, idCol, textCol, n).select("shingle").distinct())
    Dedup.shingles(corpus, idCol, textCol, n)
      .join(bsh, "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc_id"), col("n_overlap"))
  }

  /**
   * Bloom-filter decontamination — the constant-memory scale path of
   * [[contamination]]. When the eval/benchmark shingle set is too large to
   * broadcast as raw strings (10^8 shingles is many GB), broadcast a Bloom
   * bitset instead (`numBits / 8` bytes regardless of benchmark size): the
   * corpus scan tests each shingle's `numHashes` bit positions locally —
   * ZERO corpus shuffle — and only the bloom-positive sliver proceeds to the
   * exact verification join that removes the false positives. Output is
   * sliver-only: `(doc_id, n_bloom, n_exact, contaminated)` for docs with at
   * least one bloom-positive shingle; `n_bloom > 0 && n_exact == 0` rows are
   * the surviving-FP audit trail. Position family (shared VERBATIM with the
   * oracle): `pos_j(s) = shingleHash(j, s) mod numBits` over
   * [[Dedup.PortableHash]]'s affine-of-charPoly family — all `numHashes`
   * functions set bits in the ONE shared array, textbook Bloom. The bitset
   * membership test is a deterministic UDF over a broadcast
   * `java.util.BitSet` (a broadcast structure is reachable only from a
   * closure; the per-shingle polynomial is O(len) Long arithmetic). At
   * 10^12 rows the position hash could switch to xxhash64 for speed — the
   * structure is identical; the polynomial keeps the decisions
   * DuckDB-derivable.
   */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 8, numBits: Int = 1 << 16, numHashes: Int = 3,
                         minOverlap: Long = 1L): DataFrame = {
    require(n >= 1 && numBits >= 2 && numHashes >= 1 && minOverlap >= 1)
    val spark = corpus.sparkSession
    val P1 = Dedup.PortableHash.P1
    val benchShingles = Dedup.shingles(benchmark, idCol, textCol, n)
      .select("shingle").distinct()
    val posCols = (0 until numHashes).map(j =>
      pmod(Dedup.PortableHash.shingleHash(j, col("shingle")), lit(numBits.toLong)))
    val positions = benchShingles
      .select(explode(array(posCols: _*)).as("pos")).distinct()
      .collect().map(_.getLong(0))
    val bits = new java.util.BitSet(numBits)
    positions.foreach(p => bits.set(p.toInt))
    val bitsBc = spark.sparkContext.broadcast(bits)
    val nb = numBits.toLong
    val k = numHashes
    val mightContain = udf { (s: String) =>
      // charPoly(s, 131, P1) over code points == ascii() fold semantics
      var acc = 0L
      var i = 0
      while (i < s.length) {
        acc = (acc * 131L + s.codePointAt(i)) % P1
        i = s.offsetByCodePoints(i, 1)
      }
      val b = bitsBc.value
      var j = 0
      var all = true
      while (all && j < k) {
        val pos = ((37L + 2L * j) * acc + (1000003L * j + 17L)) % P1 % nb
        all = b.get(pos.toInt)
        j += 1
      }
      all
    }
    val sliver = Dedup.shingles(corpus, idCol, textCol, n)
      .filter(mightContain(col("shingle")))
    val exact = sliver.join(benchShingles, "shingle")
      .groupBy("id").agg(count(lit(1)).as("n_exact"))
    sliver.groupBy("id").agg(count(lit(1)).as("n_bloom"))
      .join(exact, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (coalesce(col("n_exact"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** C4-style canonical text for normalization-insensitive dedup: lowercase,
    * punctuation → space, whitespace runs collapsed, trimmed. Every step is
    * an engine-portable string op (no unicode normalization tables — NFC
    * differs by ICU version and isn't available in plain SQL engines). */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** exact dedup over canonical text: catches copies that differ only in
    * case, punctuation, or whitespace — the most common near-dup class on
    * web crawls, caught here for the cost of one hash groupBy (MinHash-LSH
    * is only needed for edits canonicalization can't fold). */
  def canonicalGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.exactGroups(
      docs.withColumn("__ct", canonicalText(col(textCol))), idCol, "__ct")

  /**
   * Top-k TF-IDF terms per document. The weight is the RAW inverse document
   * frequency `tf_count × N / (doc_len × df)` — a pure rational whose single
   * double division is IEEE-identical in every engine — rather than the
   * log-damped form (`Math.log` is not correctly-rounded, so a log-based
   * rank could flip across engines). Ranking itself never touches a double:
   * order by (tf_count DESC, df ASC, word ASC) is a total integer/string
   * order per doc. Shape for scale: token explode feeds two hash
   * aggregations; the df table is vocabulary-sized (AQE broadcasts it); the
   * top-k window partitions by doc — rows per partition = distinct words of
   * ONE doc, never a skew risk.
   */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = split(col(textCol), " ")
    val toks = docs.select(col(idCol).as("doc_id"), size(ws).as("len"),
      explode(ws).as("word"))
    val tf = toks.groupBy("doc_id", "len", "word").agg(count(lit(1)).as("tf_count"))
    // df derives from tf (one (doc, word) row each), NOT from a second
    // explode of the corpus: one token scan instead of two, and the tf
    // subtree under both consumers is byte-identical so Spark's
    // ReuseExchange serves the df branch from the same shuffle files
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf_count").desc, col("df").asc, col("word").asc)
    tf.join(dfreq, "word").crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf_count").cast("double") * col("n_docs") / (col("len") * col("df")), 6))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("doc_id", "word", "tf_count", "df", "tfidf", "rnk")
  }

  /**
   * Corpus composition report: doc counts / word totals / mean length at
   * every ROLLUP level of `dims` (e.g. (lang, source), (lang), ()) — the
   * one-pass grouping-sets aggregation a curation run uses to audit its
   * language/source mix. `gid` encodes the rollup level (grouping bits,
   * most-significant = first dim) so total rows are distinguishable from
   * genuine NULL dimension values.
   */
  def composition(docs: DataFrame, dims: Seq[String], textCol: String): DataFrame = {
    require(dims.nonEmpty, "need at least one rollup dimension")
    val gid = dims.map(d => grouping(d).cast("long"))
      .reduce((a, b) => a * 2 + b).as("gid")
    docs.withColumn("__nw", size(split(col(textCol), " ")).cast("long"))
      .rollup(dims.map(col): _*)
      .agg(gid, count(lit(1)).as("n_docs"), sum("__nw").as("n_words"),
        round(avg("__nw"), 4).as("avg_words"))
  }

  /**
   * The composed C4/Gopher-style keep/drop decision: quality heuristics
   * ([[TextAnalysis.withQuality]]) and repetition statistics
   * ([[withRepetitionStats]]) evaluated against thresholds, returning
   * `(id, keep, reason)` where `reason` names the FIRST failing rule in a
   * fixed order (length → alpha → token shape → word dup → 2-gram → 3-gram)
   * and is null for kept docs. All decisions compare the ROUNDED statistics
   * (the operators' own outputs), so the verdicts are engine-portable.
   * Returns only the decision columns — join back on the id to materialize
   * the filtered corpus (keeps this operator a narrow shuffle).
   */
  def curationFilter(docs: DataFrame, idCol: String, textCol: String,
                     minWords: Long = 10, maxWords: Long = 100000,
                     minAlphaRatio: Double = 0.6,
                     minMeanTokenLen: Double = 2.0, maxMeanTokenLen: Double = 12.0,
                     maxDupWordFrac: Double = 0.5, maxTop2Ratio: Double = 0.3,
                     maxDup3Frac: Double = 0.3): DataFrame = {
    val base = docs.select(col(idCol), col(textCol))
    val withStats = withRepetitionStats(
      TextAnalysis.withQuality(base, textCol), idCol, textCol)
    val reason = when(col("n_words") < minWords, "too_short")
      .when(col("n_words") > maxWords, "too_long")
      .when(col("alpha_ratio") < minAlphaRatio, "low_alpha")
      .when(col("mean_token_len") < minMeanTokenLen
        || col("mean_token_len") > maxMeanTokenLen, "token_len")
      .when(col("dup_word_frac") > maxDupWordFrac, "dup_words")
      .when(col("top2_ratio") > maxTop2Ratio, "top_2gram")
      .when(col("dup3_frac") > maxDup3Frac, "dup_3gram")
    withStats.select(col(idCol), reason.isNull.as("keep"), reason.as("reason"))
  }

  /**
   * Split documents into fixed-size word chunks with optional overlap — the
   * context-window preparation step before tokenization/packing. Chunk
   * starts advance by `chunkWords - overlapWords`; the trailing partial
   * chunk is kept (dropping it silently loses corpus tail mass — callers
   * filter on `n_chunk_words` if they want full windows only). Pure per-row
   * array arithmetic (explode over a strided sequence + slice): no shuffle,
   * no state, linear in corpus size.
   */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords > 0 && overlapWords >= 0 && overlapWords < chunkWords,
      s"need 0 <= overlap < chunkWords (got $overlapWords, $chunkWords)")
    val stride = chunkWords - overlapWords
    val ws = split(col(textCol), " ")
    docs
      .select(col(idCol).as("doc_id"), ws.as("__ws"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("__ws")), lit(stride)),
          start => struct(
            start.as("start_word"),
            slice(col("__ws"), start, lit(chunkWords)).as("__cws"))))
          .as("__c"))
      .select(col("doc_id"),
        (((col("__c.start_word") - 1) / stride).cast("long")).as("chunk_idx"),
        col("__c.start_word").cast("long").as("start_word"),
        size(col("__c.__cws")).cast("long").as("n_chunk_words"),
        concat_ws(" ", col("__c.__cws")).as("chunk_text"))
  }

  /**
   * Nearest-rank percentiles per group (`rank = ceil(p × n / 100)`, computed
   * in exact integer arithmetic). NOT a per-group row sort: values are first
   * collapsed to a (group, value) histogram, the running-count window runs
   * over DISTINCT VALUES (bounded cardinality — doc lengths, scores), and the
   * rank probe is an equi-join on group. A giant skewed group (half the web
   * is one language) costs a map-side-combined count, never a single-task
   * sort of 10^11 rows — the reason this beats `percentile()`/window-rank
   * forms at scale. Exactly reproducible in any engine, unlike interpolating
   * quantiles whose FP blend order is implementation-defined.
   */
  def valueQuantiles(docs: DataFrame, groupCol: String, valCol: String,
                     percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1,100]: $percents")
    // null values are dropped (they'd sort first and could be returned as a
    // "percentile"); null GROUP keys keep their own quantile stream
    val hist = docs.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum("c").over(w))
    // the rank probe renames its key — cum and ranks share the hist lineage,
    // and a same-name column reference on a self-join resolves ambiguously
    val ranks = hist.groupBy("grp").agg(sum("c").as("n"))
      .select(col("grp").as("__rgrp"), col("n"),
        explode(array(percents.map(lit(_)): _*)).as("p"))
      .withColumn("rnk", floor((col("p") * col("n") + 99) / lit(100.0)).cast("long"))
    // null-safe join key: a NULL group must meet ITS ranks row, not vanish
    cum.join(ranks, col("grp") <=> col("__rgrp")).drop("__rgrp")
      .filter(col("cum") >= col("rnk") && (col("cum") - col("c")) < col("rnk"))
      .select(col("grp").as(groupCol), col("p"), col("n"), col("v").as("q_value"))
  }

  /**
   * Exact duplicate-SUBSTRING spans (the suffix-array exact-substring dedup
   * of Lee et al. 2021, "Deduplicating Training Data Makes Language Models
   * Better", re-expressed relationally): every word `minLen`-gram occurring
   * at least `minOccurrences` times ACROSS THE CORPUS (within-doc repeats
   * count too) marks its [pos, pos+minLen) word window; overlapping windows
   * per document merge into maximal spans — the byte ranges a training
   * pipeline would cut.
   *
   * Output: (doc_id, span_id, start_word, end_word, n_words) — word indices
   * 1-based inclusive; span_id numbers a doc's spans in position order.
   *
   * Scale: gram occurrences are (id, pos, key) rows; the hot-gram selection
   * is one map-side-combined count and the mark-back join shuffles on the
   * gram key — both partition cleanly at any corpus size (no suffix array,
   * no per-node sort of the corpus). The span merge is a per-document
   * running-max window (state = one row). With `hashGrams` (default) the
   * join key is xxhash64 of the gram — 8 bytes instead of the string — at
   * the cost of ~2^-64-probability false merges; `hashGrams = false` is the
   * exact/oracle form (results identical modulo those collisions;
   * WebTextSpec asserts equality on real fixtures).
   */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 8, minOccurrences: Long = 2,
                     hashGrams: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLen >= 2 && minOccurrences >= 2,
      s"need minLen >= 2 and minOccurrences >= 2 (got $minLen, $minOccurrences)")
    val occ0 = docs
      .withColumn("__ws", split(col(textCol), " "))
      .filter(size(col("__ws")) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("__ws")) - (minLen - 1)),
          i => struct(i.as("pos"),
            concat_ws(" ", (0 until minLen).map(k => element_at(col("__ws"), i + k)): _*)
              .as("gram"))))
          .as("__g"))
      .select(col("doc_id"), col("__g.pos").as("pos"),
        (if (hashGrams) xxhash64(col("__g.gram")) else col("__g.gram")).as("key"))
    val hot = occ0.groupBy("key").count()
      .filter(col("count") >= minOccurrences).select("key")
    val marked = occ0.join(hot, "key")
      .select(col("doc_id"), col("pos"), (col("pos") + (minLen - 1)).as("end"))
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("__prev_end", max(col("end")).over(wPrev))
      // merge on OVERLAP (pos <= running max end); adjacent windows at
      // pos = prev_end + 1 start a new span — consecutive duplicated grams
      // overlap by minLen-1 words, so true runs always merge
      .withColumn("__new", when(col("__prev_end").isNull
        || col("pos") > col("__prev_end"), 1L).otherwise(0L))
      .withColumn("span_id", sum(col("__new")).over(wRun))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("start_word"),
        max(col("end")).cast("long").as("end_word"))
      .withColumn("n_words", col("end_word") - col("start_word") + 1)
  }

  /**
   * Per-domain document cap (the C4 / RefinedWeb curation step: no single
   * domain may dominate the corpus): rank documents within `domainCol` by
   * `orderBy` (caller supplies a TOTAL order — e.g. quality DESC, id ASC —
   * or ranks within a domain are nondeterministic) and flag the top
   * `maxPerDomain` as kept. Emits EVERY row with (domain_rank, kept) so the
   * drop population stays auditable, like curationFilter's reasons.
   *
   * Scale: one rank window partitioned by domain — state is a counter, but
   * a mega-domain is a single window partition; at 10^12 rows pre-filter
   * obvious spam domains or raise spark.sql.windowExec buffer spill
   * settings. (A two-phase partial top-N can't produce the per-row kept
   * flag the audit output requires.)
   */
  def domainCap(docs: DataFrame, idCol: String, domainCol: String,
                orderBy: Seq[Column], maxPerDomain: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1 (got $maxPerDomain)")
    docs.withColumn("domain_rank",
        row_number().over(Window.partitionBy(col(domainCol)).orderBy(orderBy: _*))
          .cast("long"))
      .withColumn("kept", col("domain_rank") <= maxPerDomain)
  }

  /**
   * Lexical blocklist filter — the OTHER half of C4's cleaning next to
   * [[c4LineFilter]]'s structural rules (C4 drops any page containing a
   * word from its banned-word list; Gopher/RefinedWeb-style pipelines keep
   * count thresholds instead — `maxHits` covers both: 0 is the C4 rule).
   * Matching is on lowercased `[a-z]+` word RUNS (the bpeTrain word
   * domain), so word-boundary semantics hold by construction — "class"
   * never matches a banned "ass" — with no regex-metacharacter risk from
   * the list itself. Emits EVERY doc with
   * (n_banned_hits, n_banned_distinct, first_banned, kept):
   * `n_banned_hits` counts occurrences, `first_banned` is the bytewise-MIN
   * matched word (position-free, engine-portable), NULL when clean; the
   * drop population stays auditable (the [[domainCap]] convention).
   *
   * Scale: the banned list is vocabulary-sized (the canonical C4 list is
   * ~400 entries) and BROADCAST into a hash join on `word`; hits are rare
   * by construction, so the per-doc aggregation's shuffle carries the hit
   * sliver, never the corpus's exploded words; the doc spine joins back
   * on the id. No window, no all-pairs.
   */
  def bannedWords(docs: DataFrame, idCol: String, textCol: String,
                  banned: DataFrame, wordCol: String,
                  maxHits: Long = 0L): DataFrame = {
    require(maxHits >= 0, s"maxHits must be >= 0, got $maxHits")
    val words = docs.select(col(idCol).as("doc_id"),
      explode(filter(split(lower(col(textCol)), "[^a-z]+"),
        w => length(w) > 0)).as("word"))
    val b = broadcast(banned.select(lower(col(wordCol)).as("word")).distinct())
    val hits = words.join(b, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_banned_hits"),
        countDistinct(col("word")).as("n_banned_distinct"),
        min(col("word")).as("first_banned"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_banned_hits"), lit(0L)).as("n_banned_hits"),
        coalesce(col("n_banned_distinct"), lit(0L)).as("n_banned_distinct"),
        col("first_banned"))
      .withColumn("kept", col("n_banned_hits") <= maxHits)
  }

  /** query params dropped by [[canonicalUrl]]: click/campaign trackers that
    * never change page content (the Common-Crawl URL-dedup convention).
    * RE2-compatible (no \d / lookarounds) so the oracle shares it verbatim. */
  val TrackingParamPattern: String =
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref)="

  /**
   * Canonical form of a web URL for crawl-level dedup: scheme and host
   * lowercased, default port dropped (http:80 / https:443 — any other port
   * kept), fragment dropped, tracking query params removed
   * ([[TrackingParamPattern]]), the surviving params sorted bytewise and
   * rejoined, and an empty path normalized to "/". Percent-decoding and IDN
   * folding are deliberately out of scope — both are lossy without a full
   * RFC 3986 table and the variants they fold are rare in crawl data.
   * Strings that don't parse as scheme://... pass through unchanged (a
   * canonicalizer must never merge things it can't read).
   *
   * Pure column expressions — no UDF, no shuffle. The regexp pieces are
   * codegen'd; the param filter/sort are higher-order array functions
   * (CodegenFallback) over arrays of a handful of elements — per-row cost
   * is bounded by the query-string length, not the corpus.
   */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val query = regexp_extract(url, "^[^?#]*\\?([^#]*)", 1)
    val params = array_join(
      array_sort(filter(split(query, "&"),
        p => length(p) > 0 && !p.rlike(TrackingParamPattern))), "&")
    when(scheme === "", url).otherwise(concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(""),
      path,
      when(params === "", "").otherwise(concat(lit("?"), params))))
  }

  /**
   * Latest-crawl-wins URL dedup over a Common-Crawl-style pages table: rank
   * each page within its [[canonicalUrl]] group by (tsCol DESC, urlCol ASC)
   * and flag rank 1 as kept — re-crawls, tracking-param variants, and
   * case/port/fragment spellings of one resource collapse to the newest
   * capture. Every row survives with (canon_url, crawl_rank, kept) so the
   * drop population stays auditable (the domainCap convention).
   *
   * Scale: canonicalization is per-row codegen; the rank is ONE window
   * shuffle on canon_url. Groups are per-resource (re-crawl counts, tens at
   * most) so no salting is needed — the skew domainCap warns about cannot
   * arise here.
   */
  def urlDedup(pages: DataFrame, urlCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pages.withColumn("canon_url", canonicalUrl(col(urlCol)))
      .withColumn("crawl_rank",
        row_number().over(Window.partitionBy(col("canon_url"))
          .orderBy(col(tsCol).desc, col(urlCol).asc)).cast("long"))
      .withColumn("kept", col("crawl_rank") === 1L)
  }

  /**
   * HTML metadata extraction over a Common-Crawl-style pages table: pure
   * regex column expressions pulling the four signals a corpus build reads
   * before (or instead of) full text extraction —
   *
   *  - `title`: first `<title>…</title>` body, trimmed ('' when absent or
   *    when the body carries nested markup — same contract as
   *    [[graft.operators.WebGraph.AnchorPattern]] bodies);
   *  - `meta_description`: first `<meta name="description" content="…">`
   *    (attribute order as written — the dominant form; reversed-attribute
   *    variants are rare and a full HTML parser is out of scope by the
   *    [[canonicalUrl]] principle: never guess at what you can't read);
   *  - `charset`: lowercased `<meta charset="…">` value, '' when absent;
   *  - `has_canonical`: whether a `<link rel="canonical"…>` is present
   *    (the page's own dedup hint — [[urlDedup]] upstream signal).
   *
   * All matchers are case-insensitive RE2-subset patterns shared VERBATIM
   * with the q_txt_htmlmeta oracle. Zero shuffles, zero UDFs — one
   * projection over the html bytes; WSCG-resident like [[WebGraph.extractLinks]].
   */
  def htmlMeta(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val h = col(htmlCol).cast("string")
    pages.select(
      col(urlCol).as("url"),
      trim(regexp_extract(h, "(?i)<title>([^<]*)</title>", 1)).as("title"),
      regexp_extract(h,
        "(?i)<meta\\s+name=\"description\"\\s+content=\"([^\"]*)\"", 1)
        .as("meta_description"),
      lower(regexp_extract(h, "(?i)<meta\\s+charset=\"([^\"]*)\"", 1))
        .as("charset"),
      h.rlike("(?i)<link\\s[^>]*rel=\"canonical\"").as("has_canonical"))
  }

  /**
   * Re-crawl change classification over a Common-Crawl-style pages table:
   * one row per url — (url, n_crawls, first_ts, last_ts, status) where
   * status describes the LATEST capture: 'new' (only one crawl), 'changed'
   * (text differs from the previous capture), 'unchanged'. The freshness /
   * churn signal an incremental corpus build keys on — 'unchanged' pages
   * need no re-extraction, 'changed' ones invalidate downstream dedup and
   * quality rows (the dirty-tracking idea from the deviation engine, on the
   * crawl axis).
   *
   * Crawls order by (tsCol ASC, textCol ASC) — the text tiebreak pins the
   * pathological same-timestamp duplicate rather than leaving it
   * partition-order dependent. Text comparison is exact string equality on
   * adjacent captures; compose over a canonicalized/extracted text column
   * to ignore boilerplate churn.
   *
   * Scale: one window + one groupBy, BOTH keyed on url — the aggregation
   * reuses the window's hash partitioning, so it is a single shuffle of
   * (url, ts, text) rows. Groups are per-url capture counts (tens), no
   * skew. At 10^12 pages, project text down to a hash column caller-side
   * if the full body isn't needed downstream — the shuffle carries what
   * you select.
   */
  def crawlDelta(pages: DataFrame, urlCol: String, tsCol: String,
                 textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(urlCol))
      .orderBy(col(tsCol).asc, col(textCol).asc)
    pages
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__chg", lag(col(textCol), 1).over(w) =!= col(textCol))
      .groupBy(col(urlCol).as("url"))
      .agg(
        max("__rn").as("n_crawls"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"),
        // __rn is unique within the group, so the struct max IS the latest
        // crawl's row; __chg rides along (NULL only on rn=1 = 'new' anyway)
        max(struct(col("__rn"), col("__chg"))).getField("__chg").as("__last_chg"))
      .select(col("url"), col("n_crawls"), col("first_ts"), col("last_ts"),
        when(col("n_crawls") === 1L, "new")
          .when(col("__last_chg"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /**
   * Line-level churn between the two latest crawls of each url — the
   * quantitative sibling of [[crawlDelta]] (which only CLASSIFIES): for
   * every url crawled at least twice, diff the latest snapshot's line SET
   * against the previous one's and report added/removed/common line counts
   * plus `churn100 = (100·(added+removed)) div union` — 0 for a byte-stable
   * page, 100 for a full rewrite. Recrawl schedulers consume this to tune
   * per-host revisit rates; 100-churn static pages waste crawl budget.
   * Lines are trimmed and blank lines are structural (ignored) — the
   * [[lineDedup]] convention; line sets are DISTINCT (a line repeated
   * twice is presence, not mass).
   *
   * Scale: ONE shuffle on url — the rank window and the pivot groupBy key
   * on the same column, so the aggregation reuses the window's hash
   * partitioning (no second Exchange; PlanQualitySpec pins it); the set
   * algebra runs as per-row array expressions on the two text payloads.
   * Groups are per-url crawl counts — the [[urlDedup]] no-salting
   * argument.
   */
  def crawlChurn(crawls: DataFrame, urlCol: String, tsCol: String,
                 textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(urlCol))
      .orderBy(col(tsCol).desc, col(textCol).asc)
    def lines(c: Column) = array_distinct(filter(
      transform(split(c, "\n"), l => trim(l)), l => l =!= ""))
    val two = crawls
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("__n"),
        max(when(col("__rn") === 1, col(textCol))).as("__t1"),
        max(when(col("__rn") === 2, col(textCol))).as("__t2"))
      .filter(col("__n") === 2)
    val (a, b) = (lines(col("__t1")), lines(col("__t2")))
    two.select(col("url"),
        size(array_except(a, b)).cast("long").as("n_added"),
        size(array_except(b, a)).cast("long").as("n_removed"),
        size(array_intersect(a, b)).cast("long").as("n_common"))
      .withColumn("churn100",
        when(col("n_added") + col("n_removed") + col("n_common") > 0,
          expr("(100 * (n_added + n_removed)) div (n_added + n_removed + n_common)"))
          .otherwise(lit(0L)))
  }

  /**
   * Cross-document line-level dedup (the RefinedWeb/Falcon boilerplate
   * pass): a line whose trimmed text appears in at least `minDocs` DISTINCT
   * documents is removed from every document that carries it — nav menus,
   * cookie banners, and share footers die corpus-wide in one pass. Lines
   * that trim to "" are structural, not content: they are never counted and
   * never removed. Output: one row per input doc —
   * (doc_id, clean_text, n_lines, n_removed) — docs whose every line is
   * boilerplate survive with clean_text = ''.
   *
   * Scale: the line-frequency table is one map-side-combinable two-level
   * aggregation (distinct (line, doc) then count per line — never a
   * COUNT(DISTINCT) sort); the mark-back join shuffles on the line key; the
   * reassembly is one groupBy(doc). With `hashLines` (default) the
   * count/join key is xxhash64 of the trimmed line — 8 bytes instead of the
   * string — at ~2^-64 false-merge probability; `hashLines = false` is the
   * exact/oracle form (WebTextSpec asserts equality on real fixtures).
   */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minDocs: Long = 3, hashLines: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__t", trim(col("line")))
      .withColumn("key",
        if (hashLines) xxhash64(col("__t")) else col("__t"))
    val hot = lines.filter(col("__t") =!= "")
      .select("key", "doc_id").distinct()
      .groupBy("key").count()
      .filter(col("count") >= minDocs)
      .select(col("key"), lit(true).as("__hot"))
    lines
      .join(hot, Seq("key"), "left")
      .withColumn("keep", col("__t") === "" || col("__hot").isNull)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          filter(array_sort(collect_list(struct(col("pos"), col("keep"), col("line")))),
            x => x.getField("keep")),
          x => x.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** a kept C4 line ends in terminal punctuation (incl. a closing quote
    * after it) — RE2-subset, shared verbatim with the q_txt_c4filter
    * oracle. */
  val TerminalPunctPattern: String = "[.!?\"]$"

  /**
   * C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
   * deterministic-string subset of its rules): each document is split into
   * lines; a line is KEPT iff it ends in terminal punctuation
   * ([[TerminalPunctPattern]]), has at least `minLineWords` words (non-empty
   * space-separated tokens — runs of spaces don't inflate the count), and
   * does not mention "javascript" (case-insensitive — the boilerplate
   * "please enable JavaScript" class). The document as a whole is DROPPED
   * (keep = false, with the first-failing reason, [[curationFilter]]'s
   * convention) when it contains "lorem ipsum" (case-insensitive), contains
   * a curly brace `{` (leaked code/templating), or retains fewer than
   * `minKeptLines` kept lines ("pages with fewer than 3 sentences"). The
   * cleaned text (kept lines, trimmed, '\n'-joined) is emitted for dropped
   * docs too — audit columns, the [[urlDedup]] convention.
   *
   * Scale: pure per-row array arithmetic (split → filter → array_join) —
   * zero shuffles, no state; the per-doc work is linear in line count. The
   * cross-document boilerplate complement is [[lineDedup]] (frequency-based,
   * needs the corpus-wide line table); this one needs no second pass.
   */
  def c4LineFilter(docs: DataFrame, idCol: String, textCol: String,
                   minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 1,
      s"need minLineWords >= 1, minKeptLines >= 1 (got $minLineWords, $minKeptLines)")
    val ws = split(col(textCol), "\n")
    val kept = filter(ws, x => {
      val tr = trim(x)
      tr.rlike(TerminalPunctPattern) &&
        size(filter(split(tr, " "), w => w =!= "")) >= minLineWords &&
        !(instr(lower(tr), "javascript") > 0)
    })
    val nKept = size(kept).cast("long")
    val reason = when(instr(lower(col(textCol)), "lorem ipsum") > 0, "lorem_ipsum")
      .when(instr(col(textCol), "{") > 0, "brace")
      .when(nKept < minKeptLines, "too_few_sentences")
    docs.select(col(idCol).as("doc_id"),
      size(ws).cast("long").as("n_lines"), nKept.as("n_kept"),
      reason.isNull.as("keep"), reason.as("reason"),
      array_join(transform(kept, x => trim(x)), "\n").as("clean_text"))
  }

  /** `<script …>…</script>` blocks (content INCLUDED — script bodies are
    * code, not text). RE2-subset, shared verbatim with the oracle. */
  val ScriptPattern: String = "(?is)<script\\b[^>]*>.*?</script>"
  /** `<style …>…</style>` blocks, content included. */
  val StylePattern: String = "(?is)<style\\b[^>]*>.*?</style>"
  /** HTML comments `<!-- … -->`. */
  val CommentPattern: String = "(?s)<!--.*?-->"
  /** Block-level tags that imply a line break when stripped. */
  val BlockTagPattern: String =
    "(?i)</?(?:p|div|li|ul|ol|h[1-6]|tr|table|br|title|blockquote|section|article|header|footer)\\b[^>]*>"
  /** Any remaining tag (inline — `<b>`, `<a …>`, …): stripped to nothing. */
  val InlineTagPattern: String = "<[^>]*>"

  /**
   * Deterministic HTML → text extraction — the north rule's per-row
   * invariant surface ("byte-identical extracted text per url") as a
   * standalone operator: (url, html) → (url, text, n_chars) where `text`
   * is a pure function of the html bytes that any conforming engine can
   * reproduce byte-for-byte. The pipeline, in order (each step a single
   * RE2-subset global regexp_replace or literal replace, shared VERBATIM
   * with the q_txt_extract oracle):
   *
   *  1. drop `<script>`/`<style>` blocks WITH their bodies and `<!-- -->`
   *     comments ([[ScriptPattern]]/[[StylePattern]]/[[CommentPattern]]);
   *  2. block-level tags ([[BlockTagPattern]]) → '\n' (paragraph breaks
   *     survive as line structure — [[lineDedup]]'s unit downstream);
   *  3. remaining (inline) tags ([[InlineTagPattern]]) → '' (inline markup
   *     does not break words: `fo<b>o</b>` → `foo`);
   *  4. entity decode, literal replaces: `&lt; &gt; &quot; &#39;` then
   *     `&nbsp;` → ' ' and `&amp;` LAST (so `&amp;lt;` → `&lt;`, the
   *     correct single-pass decode order; numeric entities beyond &#39;
   *     pass through — a full entity table is out of scope by the
   *     [[canonicalUrl]] principle: never guess at what you can't read);
   *  5. whitespace normalization: `[ \t\r]+` → ' ', spaces trimmed around
   *     newlines, newline runs collapsed to one, final trim.
   *
   * Scale: zero shuffles, zero UDFs — one WholeStageCodegen projection
   * over the html bytes, like [[WebGraph.extractLinks]]; at 10^12 pages
   * this is a pure map stage bounded by parquet scan + regex throughput.
   * A tag or block left OPEN (no `>`) keeps its literal text — RE2 has no
   * error channel, and a non-matching suffix must survive, not vanish.
   */
  def extractText(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    var t: Column = col(htmlCol).cast("string")
    t = regexp_replace(t, ScriptPattern, "")
    t = regexp_replace(t, StylePattern, "")
    t = regexp_replace(t, CommentPattern, "")
    t = regexp_replace(t, BlockTagPattern, "\n")
    t = regexp_replace(t, InlineTagPattern, "")
    for ((from, to) <- EntityTable) t = replace(t, lit(from), lit(to))
    t = regexp_replace(t, "[ \\t\\r]+", " ")
    t = regexp_replace(t, " ?\\n ?", "\n")
    t = regexp_replace(t, "\\n+", "\n")
    t = trim(t, " \n")
    pages.select(col(urlCol).as("url"), t.as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** decode order matters: &amp; LAST (single-pass HTML entity decode). */
  val EntityTable: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** anchor element bodies (group 1) — link text for the density score. */
  val AnchorBodyPattern: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  /** block-local text clean: inline tags out, entities decoded (&amp; last),
    * whitespace runs to one space, trimmed — [[extractText]] steps 3-4
    * applied inside one block (no newlines survive a block split). */
  private def cleanBlockText(b: Column): Column = {
    var t = regexp_replace(b, InlineTagPattern, "")
    for ((from, to) <- EntityTable) t = replace(t, lit(from), lit(to))
    trim(regexp_replace(t, "[ \\t\\r\\n]+", " "))
  }

  /** per-page array of block structs (idx, text, n_chars, link_chars, keep)
    * — empty-text blocks dropped, idx preserved from the raw split. */
  private def blockStructs(html: Column, minBlockChars: Int,
                           maxLinkDensityPct: Int): Column = {
    val c0 = regexp_replace(regexp_replace(regexp_replace(html.cast("string"),
      ScriptPattern, ""), StylePattern, ""), CommentPattern, "")
    val blocks = split(c0, BlockTagPattern)
    val idxed = zip_with(blocks, sequence(lit(0L), size(blocks).cast("long") - 1),
      (b, i) => struct(b.as("raw"), i.as("idx")))
    val scored = transform(idxed, s => {
      val text = cleanBlockText(s.getField("raw"))
      val linkChars = aggregate(
        regexp_extract_all(s.getField("raw"), lit(AnchorBodyPattern), lit(1)),
        lit(0L), (acc, body) => acc + length(cleanBlockText(body)).cast("long"))
      struct(s.getField("idx").as("idx"), text.as("text"),
        length(text).cast("long").as("n_chars"), linkChars.as("link_chars"))
    })
    transform(filter(scored, s => length(s.getField("text")) > 0), s =>
      struct(s.getField("idx").as("idx"), s.getField("text").as("text"),
        s.getField("n_chars").as("n_chars"), s.getField("link_chars").as("link_chars"),
        (s.getField("n_chars") >= minBlockChars.toLong &&
          s.getField("link_chars") * 100L <= s.getField("n_chars") * maxLinkDensityPct.toLong)
          .as("keep")))
  }

  /**
   * Block-level boilerplate scoring (jusText / trafilatura class): split the
   * page into block-element segments, score each by length and LINK DENSITY
   * (chars of cleaned anchor-body text over chars of cleaned block text —
   * nav bars, footers and related-link boxes are mostly anchor text), and
   * flag content blocks: `n_chars >= minBlockChars` and
   * `link_chars * 100 <= maxLinkDensityPct * n_chars` (integer cross-multiply
   * — no float in the decision). Output one row per non-empty block:
   * `(url, block_idx, text, n_chars, link_chars, keep)`.
   *
   * Scale shape: the whole score is per-row array expressions (the only
   * explode is the output pivot) — zero shuffles on the 10^12-page scan; all
   * regex work is O(page bytes) per page (per-element lambdas see only their
   * own block — no per-position recurrence, the charPoly-lesson shape is
   * avoided).
   */
  def contentBlocks(pages: DataFrame, urlCol: String, htmlCol: String,
                    minBlockChars: Int = 25, maxLinkDensityPct: Int = 30): DataFrame =
    pages
      .select(col(urlCol).as("url"),
        explode(blockStructs(col(htmlCol), minBlockChars, maxLinkDensityPct)).as("b"))
      .select(col("url"), col("b.idx").as("block_idx"), col("b.text").as("text"),
        col("b.n_chars").as("n_chars"), col("b.link_chars").as("link_chars"),
        col("b.keep").as("keep"))

  /** page-level companion of [[contentBlocks]]: kept blocks re-joined in
    * document order — the main-content extraction a curation pipeline feeds
    * to the tokenizer. Pure projection (no explode, no shuffle):
    * `(url, content, n_blocks, n_kept)`. */
  def mainContent(pages: DataFrame, urlCol: String, htmlCol: String,
                  minBlockChars: Int = 25, maxLinkDensityPct: Int = 30): DataFrame = {
    val arr = blockStructs(col(htmlCol), minBlockChars, maxLinkDensityPct)
    pages.select(col(urlCol).as("url"), arr.as("__b"))
      .select(col("url"),
        array_join(transform(filter(col("__b"), s => s.getField("keep")),
          s => s.getField("text")), "\n").as("content"),
        size(col("__b")).cast("long").as("n_blocks"),
        size(filter(col("__b"), s => s.getField("keep"))).cast("long").as("n_kept"))
  }
}
