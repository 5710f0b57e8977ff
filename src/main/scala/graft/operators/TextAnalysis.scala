package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data curation: token stats, quality
 * scoring, n-gram language ID, rolling-hash document fingerprints. All pure
 * column expressions except the fingerprint (one deterministic UDF), so they
 * stay inside WholeStageCodegen on the 10^12-row scan.
 */
object TextAnalysis {

  /** non-overlapping occurrence count of `w` in padded lower text —
    * the replace-length trick, reproducible in any SQL engine. */
  def occurrences(padded: Column, w: String): Column =
    ((length(padded) - length(replace(padded, lit(w), lit("")))) / w.length).cast("long")

  def withTokenStats(docs: DataFrame, textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    docs
      .withColumn("n_tokens", size(ws).cast("long"))
      .withColumn("uniq_tokens", size(array_distinct(ws)).cast("long"))
      .withColumn("ttr", round(col("uniq_tokens").cast("double") / col("n_tokens"), 4))
  }

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, space-prefixed
    * letter / digit / punctuation runs, residual whitespace runs. Restricted
    * to the RE2-compatible subset (no lookarounds; explicit `[ \t\n\r\f]`
    * instead of `\s`, whose Java flavor also eats vertical tab), so the SAME
    * pattern string matches identically under Spark's Java regex and DuckDB's
    * RE2 — both use leftmost-first alternation — which is what makes the
    * token count DuckDB-oracleable. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+|[ \\t\\n\\r\\f]+"

  /** BPE-ish token stats: count of pre-tokenizer matches (whitespace-run
    * matches excluded — they are separators the real BPE merges into the
    * following token) and the distinct-token count. One regex pass per ROW;
    * the whitespace filter is a higher-order function (interpreted), which
    * is fine here — it runs once per row over a few dozen tokens, not on a
    * per-pair or per-character hot path (see the charPoly lesson). */
  def withBpeTokenStats(docs: DataFrame, textCol: String): DataFrame = {
    val toks = regexp_extract_all(col(textCol), lit(BpePattern), lit(0))
    val real = filter(toks, t => !t.rlike("^[ \\t\\n\\r\\f]+$"))
    docs
      .withColumn("n_bpe_tokens", size(real).cast("long"))
      .withColumn("uniq_bpe_tokens", size(array_distinct(real)).cast("long"))
  }

  /** quality heuristics: length, alpha ratio, mean token length. */
  def withQuality(docs: DataFrame, textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    docs
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_tokens", size(ws).cast("long"))
      // BOTH cases count as alphabetic — lowercase-only scored 'HELLO WORLD'
      // like a pure-digit doc and under-scored normally-capitalized prose
      .withColumn("alpha_ratio",
        round(length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("double") /
          length(col(textCol)), 4))
      .withColumn("mean_token_len",
        round((length(col(textCol)) - (size(ws) - 1)).cast("double") / size(ws), 4))
  }

  private val enMarkers = Seq(" the ", " a ", " and ", " of ")
  private val svMarkers = Seq(" och ", " att ", " det ", " en ")

  /** stopword-ratio language ID (en vs sv vs und) — the oracle-checkable
    * heuristic; richer n-gram profiles would slot in the same shape. */
  def withLangId(docs: DataFrame, textCol: String): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val en = enMarkers.map(occurrences(padded, _)).reduce(_ + _)
    val sv = svMarkers.map(occurrences(padded, _)).reduce(_ + _)
    docs
      .withColumn("en_hits", en)
      .withColumn("sv_hits", sv)
      .withColumn("pred_lang",
        when(col("sv_hits") > col("en_hits"), "sv")
          .when(col("en_hits") > 0, "en")
          .otherwise("und"))
  }

  /** winnowing-style fingerprint: rolling hash over k-char windows, keep the
    * min hash of each `win`-sized window of hashes (deterministic). */
  val fingerprintUdf = udf((text: String) => {
    if (text == null) Array.empty[Long]
    else {
      val k = 8; val win = 16
      val n = text.length - k + 1
      if (n <= 0) Array.empty[Long]
      else {
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          var h = 1125899906842597L
          var j = 0
          while (j < k) { h = 31 * h + text.charAt(i + j); j += 1 }
          hs(i) = h
          i += 1
        }
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var s = 0
        while (s <= n - win) {
          var m = Long.MaxValue
          var j = s
          while (j < s + win) { if (hs(j) < m) m = hs(j); j += 1 }
          out += m
          s += win
        }
        out.toArray
      }
    }
  })

  def withFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fps", fingerprintUdf(col(textCol)))
      .withColumn("n_fps", size(col("fps")).cast("long"))
      .withColumn("min_fp", array_min(col("fps")))

  /**
   * The same winnowing scheme with a PORTABLE mod-p rolling hash: k-char
   * polynomial hashes acc <- (acc*31 + codepoint) mod 2^31-1 at every
   * position, then the min of each non-overlapping `win`-window of hashes.
   * Engine-independent arithmetic, so a SQL oracle can recompute the
   * fingerprints exactly (the production `fingerprintUdf` keeps the wrapping
   * 64-bit Java hash, which no SQL engine reproduces). Docs shorter than
   * k+win-1 chars (or null) yield an empty array.
   *
   * Deliberately a deterministic UDF, not column expressions: portability is
   * a property of the VALUES (mod-p recurrence), not of the expression form,
   * and the higher-order-function encoding was catastrophically slow —
   * interpreted lambda functions re-evaluate their argument trees, so
   * `slice(hs, ...)` recomputed the full hash array per WINDOW and the inner
   * fold re-seeked the string per CHARACTER: O(len^3/win) per doc, jstack'd
   * as minutes per 500-doc partition. One imperative pass is O(len*k).
   */
  def portableFingerprintUdf(k: Int = 8, win: Int = 16): UserDefinedFunction =
    udf((text: String) => {
      val p = 2147483647L
      if (text == null) Array.empty[Long]
      else {
        val cps = text.codePoints.toArray // ascii() = first-codepoint value
        val n = cps.length - k + 1
        if (cps.length < k + win - 1) Array.empty[Long]
        else {
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            var acc = 0L
            var j = i
            while (j < i + k) { acc = (acc * 31 + cps(j)) % p; j += 1 }
            hs(i) = acc
            i += 1
          }
          val out = new Array[Long]((n - win) / win + 1)
          var s = 0
          while (s <= n - win) {
            var m = Long.MaxValue
            var j = s
            while (j < s + win) { if (hs(j) < m) m = hs(j); j += 1 }
            out(s / win) = m
            s += win
          }
          out
        }
      }
    })

  def portableFingerprintCol(text: Column, k: Int = 8, win: Int = 16): Column =
    portableFingerprintUdf(k, win)(text)

  /** distinct (id, fp) fingerprint pairs — the oracle-checkable surface. */
  def portableFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, win: Int = 16): DataFrame =
    docs.select(col(idCol), explode(portableFingerprintCol(col(textCol), k, win)).as("fp"))
      .distinct()

  /**
   * Capped inverted index over whitespace tokens: one row per term —
   * (word, df, tf_total, postings) where postings is the top-`k` doc ids by
   * (term frequency DESC, doc_id ASC), comma-joined, and NULL for terms
   * with df > `dfCap` (stopwords: their postings are useless for retrieval
   * and are exactly where a per-term operation skews). Retrieval /
   * decontamination-lookup side of a corpus build. Tokenization is the
   * corpus-portable whitespace split [[WebText.tfidfTopTerms]] uses —
   * lowercase/strip caller-side if wanted.
   *
   * Scale: ONE token scan — the (word, doc) count table is eagerly
   * localCheckpoint'ed and every downstream consumer (term stats, the
   * df-cap term set, the postings rank) reads the materialized table.
   * Without it Catalyst's partial-aggregate rewrite plans a separate
   * corpus scan per consumer (three scans+explodes of the full corpus in
   * the executed plan, because the rewritten stats subtree is no
   * longer byte-identical to the postings one, so ReuseExchange can't
   * serve it). The tf table is the retrieval index's own size;
   * materializing it once is the right trade against re-reading 10^12
   * pages. The top-k window runs AFTER the df-cap semi-join, so the
   * per-term rank never sees a stopword group — the df cap is the skew
   * guard, not a cosmetic filter. Output is one bounded row per term.
   */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, dfCap: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && dfCap >= 1)
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word", "doc_id").agg(count(lit(1)).as("tfc"))
      .localCheckpoint()
    val stats = tf.groupBy("word")
      .agg(count(lit(1)).as("df"), sum("tfc").as("tf_total"))
    val postings = tf
      .join(stats.filter(col("df") <= dfCap).select("word"), Seq("word"), "leftsemi")
      .withColumn("__rn", row_number().over(Window.partitionBy("word")
        .orderBy(col("tfc").desc, col("doc_id").asc)))
      .filter(col("__rn") <= k)
      .groupBy("word")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__rn"), col("doc_id")))),
        x => x.getField("doc_id").cast("string")), ",").as("postings"))
    stats.join(postings, Seq("word"), "left")
  }

  /**
   * Corpus-trained bigram surprisal scoring — the model-based quality
   * filter (a KenLM-perplexity stand-in built from the corpus itself):
   * train left-context/bigram counts over the whole corpus, then score
   * every document by the mean information content of its own bigrams.
   * Gibberish, keyword-stuffed, and boilerplate-free-association text
   * scores HIGH (its bigrams are rare relative to their left contexts);
   * natural prose scores low — threshold on `mean_surp100` next to the
   * heuristic [[withQuality]] stats.
   *
   * Portability: surprisal is measured in INTEGER bit-length units —
   * `surp(w1,w2) = len(bin(c_left(w1))) - len(bin(c_pair(w1,w2)))`, i.e.
   * floor-log2 of the inverse conditional probability, rounded to whole
   * bits. `LENGTH(BIN(x))` is exact integer arithmetic in both engines
   * (no float log whose last ulp could flip a threshold), and c_left ≥
   * c_pair makes every term non-negative. `mean_surp100` is the
   * fixed-point mean `(100·Σ n·surp) div Σ n` (0 for docs with <2 words).
   * Word domain is lowercased `[a-z]+` runs (the [[bpeTrain]] convention).
   *
   * Scale: the corpus text is scanned ONCE — the per-doc (w1, w2, n) table
   * is eagerly localCheckpoint'ed and all three consumers (pair counts,
   * left counts, the scoring join) read the materialized table (the
   * [[invertedIndex]] lesson: Catalyst's partial-agg rewrite breaks
   * ReuseExchange between them). Model tables are vocabulary²-bounded —
   * orders of magnitude below corpus size — and the scoring joins key on
   * (w1, w2)/(w1), where the heaviest keys are exactly the pairs the
   * per-doc pre-collapse (`n`) has already compressed.
   */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = filter(split(lower(col(textCol)), "[^a-z]+"), w => length(w) > 0)
    // zip_with pads the shorter side with null → the (last_word, null)
    // tail pair is dropped after the explode
    val pairs = zip_with(words, slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val inst = docs
      .select(col(idCol).as("doc_id"), explode(pairs).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val pairCounts = inst.groupBy("w1", "w2").agg(sum("n").as("c_pair"))
    val leftCounts = inst.groupBy("w1").agg(sum("n").as("c_left"))
    val scored = inst
      .join(pairCounts, Seq("w1", "w2"))
      .join(leftCounts, Seq("w1"))
      .withColumn("__surp",
        (length(bin(col("c_left"))) - length(bin(col("c_pair")))).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("n") * col("__surp")).as("sum_surprisal"),
        sum("n").as("n_bigrams"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"))
      .withColumn("mean_surp100",
        when(col("n_bigrams") > 0,
          expr("(100 * sum_surprisal) div n_bigrams")).otherwise(lit(0L)))
  }

  /**
   * GPT-style training-sequence packing (concat-and-chunk): documents are
   * laid out end to end in doc-id order and cut into fixed `seqLen`-token
   * training sequences; each doc gets its global token offset and the
   * sequence range it lands in — (doc_id, n_toks, start_tok, first_seq,
   * last_seq, n_seqs). Tokens are non-empty space-split words (the
   * [[withTokenStats]] convention); a zero-token doc occupies no sequence
   * (n_seqs = 0, first/last pinned at its offset's sequence).
   *
   * Scale: the global prefix sum is computed at TWO levels so no window
   * ever sees the full corpus in one partition — an intra-bucket running
   * sum partitioned by `bucket = doc_id div bucketSize` (parallel, each
   * group ≤ bucketSize rows) plus a running sum over the per-bucket
   * totals (N / bucketSize rows — at 10^12 docs and the default bucket
   * size, a 10^6-row window: driver-trivial) broadcast-joined back. A
   * single `Window.orderBy(doc_id)` would funnel 10^12 rows through one
   * task; this is the textbook scalable scan decomposition. Output is
   * bucketSize-invariant (spec-asserted).
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    seqLen: Int, bucketSize: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1 && bucketSize >= 1)
    val base = docs.select(col(idCol).as("doc_id"),
      size(filter(split(col(textCol), " "), w => w =!= ""))
        .cast("long").as("n_toks"))
      .withColumn("__bucket", expr(s"doc_id div ${bucketSize}L"))
    val intra = base.withColumn("__intra",
      sum(col("n_toks")).over(Window.partitionBy(col("__bucket"))
        .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__intra", coalesce(col("__intra"), lit(0L)))
    val bucketBase = base.groupBy(col("__bucket"))
      .agg(sum(col("n_toks")).as("__btot"))
      .withColumn("__base",
        coalesce(sum(col("__btot")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__base"))
    intra.join(broadcast(bucketBase), Seq("__bucket"))
      .select(col("doc_id"), col("n_toks"),
        expr("__base + __intra").as("start_tok"),
        expr(s"(__base + __intra) div ${seqLen}L").as("first_seq"),
        when(col("n_toks") > 0, expr(s"(__base + __intra + n_toks - 1L) div ${seqLen}L"))
          .otherwise(expr(s"(__base + __intra) div ${seqLen}L")).as("last_seq"),
        when(col("n_toks") > 0,
          expr(s"(__base + __intra + n_toks - 1L) div ${seqLen}L") -
            expr(s"(__base + __intra) div ${seqLen}L") + lit(1L))
          .otherwise(lit(0L)).as("n_seqs"))
  }

  /**
   * BPE vocabulary induction (Sennrich et al. 2016, ACL — the word-frequency
   * formulation): learn `numMerges` byte-pair merges from the corpus and
   * return `(merges, vocab)` — the merge table
   * `(merge_rank, pair_left, pair_right, merged, pair_count)` and the final
   * segmented vocabulary `(word, cnt, sym)` where `sym` is the
   * space-separated symbol sequence after all merges (each word ends in the
   * `</w>` end-of-word marker).
   *
   * Word domain: whitespace-split, lowercased, `[a-z]+` only (keeps the
   * space-separated symbol encoding and the DuckDB oracle free of any
   * unicode-segmentation portability question; non-ASCII tokens are a
   * pre-tokenizer concern, not a merge-loop one).
   *
   * Merge step semantics (shared VERBATIM with the oracle): the winning pair
   * `(l, r)` — max summed count, then (l, r) ascending bytewise — is applied
   * as TWO passes of space-bounded non-overlapping string replacement
   * `' l r ' -> ' lr '` over the padded symbol string. One pass misses every
   * second occurrence in a run (`a b a b` shares the middle space); after the
   * first pass such leftovers are isolated or pairwise adjacent, so the
   * second catches them all — two passes reach the TEXTUAL fixed point
   * (further passes are a no-op; the pattern no longer occurs), asserted
   * pair-free in the spec.
   *
   * KNOWN DEVIATION from canonical list-greedy BPE (Sennrich's reference
   * implementation), confined to SELF-adjacent pairs (`l == r`) inside
   * symbol runs: replace-matching consumes the run's shared separator, so
   * on a 6-run `a a a a a a` it yields `aa a aa a` where list-greedy gives
   * `aa aa aa` — from run length 5 the leftover single sits mid-run, and
   * from run length 6 the MERGE COUNT itself differs (2 vs 3), which can
   * ripple into later rounds' pair counts. This is a deliberate trade:
   * the exact same kernel runs in train, encode AND the DuckDB oracle
   * (space-bounded `replace` is leftmost non-overlapping in both engines),
   * so the system is self-consistent and hash-oracled, whereas canonical
   * list-greedy has no closed-form SQL mirror. Real lowercase-word corpora
   * make 6+ single-character self-runs vanishingly rare; the behavior is
   * pinned by a regression spec (`aaaaaa` → `aa a aa a`).
   *
   * Scale shape: the corpus is touched ONCE (word-count hash aggregation,
   * map-side combined); all `numMerges` iterations run over the collapsed
   * vocabulary (Heaps'-law bounded — orders of magnitude below corpus rows;
   * `minCount` prunes the long tail first, standard practice at web scale).
   * Each iteration is one vocabulary-sized partial-agg shuffle plus a
   * SINGLE-ROW collect; the vocab is eagerly localCheckpoint'ed per merge so
   * the plan stays O(1) per round (the hitsFixedPoint lesson).
   */
  /** the [[bpeTrain]] merge-application kernel as a pure function: pad,
    * apply each merge in rank order as the same TWO passes of space-bounded
    * non-overlapping replacement (Java `String.replace` and SQL `replace`
    * are both leftmost non-overlapping — identical scan semantics), unpad,
    * split. The `contains` check skips merges whose pair never occurs —
    * at real merge-table sizes (tens of thousands) most merges skip for
    * any given word. */
  def applyBpeMerges(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var s = " " + word.map(c => s"$c ").mkString + "</w> "
    for ((l, r) <- merges) {
      val pat = s" $l $r "
      if (s.contains(pat)) {
        val rep = s" $l$r "
        s = s.replace(pat, rep).replace(pat, rep)
      }
    }
    s.trim.split(" ").toSeq
  }

  /**
   * Apply a learned [[bpeTrain]] merge table to a corpus — the encode half
   * of the tokenizer loop (train once, encode every crawl increment).
   * Output: one row per in-domain token occurrence,
   * `(doc_id, pos, word, toks, n_toks)` with `toks` the BPE symbol
   * sequence (each word ends in `</w>`). Word domain and merge semantics
   * are [[bpeTrain]]'s exactly, so encoding the training corpus reproduces
   * the trained vocabulary's segmentation verbatim (spec-asserted).
   *
   * Scale: the merge table is numMerges rows — collected and closed over
   * by a deterministic per-WORD udf (sequential merge application is a
   * per-word recurrence over the merge list; as a column expression the
   * chain would be 2·numMerges nested replaces — unplannable at real
   * vocabulary sizes). The udf runs over the DISTINCT word vocabulary
   * (Heaps'-law bounded), never the corpus: cost O(vocab · merges), and
   * the corpus itself pays one hash equi-join on `word`.
   */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: DataFrame): DataFrame = {
    val ms = merges
      .select(col("merge_rank"), col("pair_left"), col("pair_right"))
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = udf((word: String) => applyBpeMerges(word, ms))
    val tokens = docs.select(col(idCol).as("doc_id"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("pos", "word")))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = tokens.select("word").distinct()
      .withColumn("toks", enc(col("word")))
    tokens.join(vocab, Seq("word"))
      .select(col("doc_id"), col("pos"), col("word"), col("toks"),
        size(col("toks")).cast("long").as("n_toks"))
  }

  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               minCount: Long = 1L): (DataFrame, DataFrame) = {
    require(numMerges >= 0 && minCount >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("sym",
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>")))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var go = numMerges > 0
    while (go) {
      val best = vocab
        .select(col("cnt"), split(col("sym"), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS l, a[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) go = false
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val pat = lit(s" $l $r ")
        val rep = lit(s" $l$r ")
        vocab = vocab.withColumn("sym",
          trim(replace(replace(concat(lit(" "), col("sym"), lit(" ")), pat, rep), pat, rep)))
          .localCheckpoint(true)
        merges += ((rank, l, r, l + r, c))
        rank += 1
        if (rank > numMerges) go = false
      }
    }
    val mergesDf = merges.toSeq
      .toDF("merge_rank", "pair_left", "pair_right", "merged", "pair_count")
    (mergesDf, vocab.select(col("word"), col("cnt"), col("sym")))
  }

  /**
   * Fixed-point BM25 retrieval — the ranking function the inverted index
   * ([[invertedIndex]]) exists to serve, and the retrieval side of corpus
   * decontamination-by-query. `queryTerms` is a (query_id, term) table;
   * returns the top-`k` docs per query by summed per-term BM25 weight.
   *
   * Portability (the q_txt convention — all-BIGINT, no float log whose last
   * ulp could flip a rank across engines): k1 = 1.2, b = 0.75 are baked in
   * as exact rational constants and every factor is a floored integer
   * rational. With N docs, A total tokens (avglen = A/N), df(t), tf(t,d),
   * L = len(d):
   *
   *   idf_milli = (1000·(2N − 2·df + 1)) div (2·df + 1)
   *               — ×1000 of the Robertson-Sparck-Jones ratio
   *                 (N − df + ½)/(df + ½), kept in RATIO form (positive,
   *                 monotone in df) rather than its log: documented
   *                 deviation, same rationale as tfidfTopTerms' raw-IDF
   *   tf_ppm    = (10⁶·22·tf·A) div (10·tf·A + 3·A + 9·L·N)
   *               — ×10⁶ of tf·(k1+1)/(tf + k1·(1−b) + k1·b·L/avglen)
   *                 rationalized by 10·A: 22 = 10(k1+1), 3 = 10·k1(1−b),
   *                 9 = 10·k1·b
   *   score(q,d) = Σ_t idf_milli(t) · tf_ppm(t,d)   — BIGINT, order-free
   *
   * Overflow bound: 2.2·10⁷ · tf · A < 2⁶³ needs tf·A < 4.2·10¹¹ — at a
   * larger operating point divide A out of the rationalization (score
   * ratios are invariant) or shard the corpus before scoring.
   *
   * Scale shape: ONE token scan; the (doc, word) tf table is eagerly
   * localCheckpoint'ed and feeds all three consumers (df, doc lengths, the
   * query match) — the invertedIndex multi-consumer discipline. Query terms
   * and the 1-row totals broadcast; the per-query top-k window partitions
   * by query over ≤ matched-docs rows. Duplicate (query_id, term) rows are
   * collapsed (a term contributes once per query).
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tfc"))
      .localCheckpoint()
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dlen = tf.groupBy("doc_id").agg(sum("tfc").as("len"))
    // both sides are 1-row aggregates; the broadcast hint keeps the pairing
    // a (trivial) BroadcastNestedLoop instead of a CartesianProduct node
    val totals = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dlen.agg(sum("len").as("a_num"))))
    val q = queryTerms.select(col("query_id"), col("term").as("word")).distinct()
    val scored = tf
      .join(broadcast(q), Seq("word"))
      .join(dfreq, Seq("word"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("contrib", bm25Contrib)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.groupBy("query_id", "doc_id").agg(sum("contrib").as("score"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** one term's fixed-point BM25 contribution over the columns `tfc`,
    * `df`, `len`, `n_docs` and `a_num` (see [[bm25TopK]]).
    *
    * Loud overflow enforcement (r6, ADVICE r5): beyond the scaladoc bound
    * the fixed-point numerator or denominator wraps and ranks silently
    * corrupt, so the guard is IN-PLAN (q_agg_hll's raise_error pattern — no
    * extra action) and division-form so the check itself cannot wrap:
    * tfc ≤ 419244183493 div a_num ⇒ 22·10⁶·tfc·a_num < 2⁶³. Both
    * 10·tfc·a_num and 3·a_num are then bounded by that product, so the
    * other denominator terms total at most 13·419244183493 =
    * 5450174385409, and 9·len·n_docs gets what is left:
    * len ≤ ((2⁶³−1 − 5450174385409) div 9) div n_docs. Zero effect on any
    * corpus inside the bound (the otherwise-branch is the identical
    * expression); a violating corpus fails loudly naming the fix (divide A
    * out of the rationalization — ratio-invariant — or shard). */
  private[operators] def bm25Contrib: Column =
    when(expr("tfc > 419244183493L div a_num or " +
              "len > 1024818509631154488L div n_docs"),
      expr("raise_error(concat('bm25TopK fixed-point overflow: tf*A or " +
        "len*N beyond the 2^63 bound (tfc=', cast(tfc as string), " +
        "', a_num=', cast(a_num as string), ', len=', cast(len as string), " +
        "', n_docs=', cast(n_docs as string), '); divide a_num out of " +
        "the rationalization or shard the corpus'))").cast("long"))
    .otherwise(
      expr("(1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)") *
        expr("(1000000 * 22 * tfc * a_num) div " +
          "(10 * tfc * a_num + 3 * a_num + 9 * len * n_docs)"))

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009) of two per-query rankings —
   * the standard way to combine a lexical leg (BM25) with a semantic leg
   * (embedding top-k) without comparable score scales: each list contributes
   * `10⁶ div (rrfK + rank)` for a doc it ranked, fused docs sort by the
   * summed contribution. Fixed-point BIGINT (`div` == DuckDB `//` on
   * positive operands) so the fused order is engine-portable.
   *
   * Inputs are (query_id, doc_id, rank) frames; a doc missing from one leg
   * contributes 0 from it (full-outer pairing). Ties break doc_id ASC.
   * Scale: both legs are already top-k-bounded per query, so the fusion
   * join and window touch O(queries · k) rows — negligible next to the
   * legs themselves.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && rrfK >= 0)
    def leg(df: DataFrame, name: String) =
      df.select(col("query_id"), col("doc_id"),
        expr(s"1000000 div (${rrfK}L + rank)").as(name))
    val fused = leg(a, "ca").join(leg(b, "cb"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("fused", coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L)))
    val w = Window.partitionBy("query_id").orderBy(col("fused").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "doc_id", "fused", "rank")
  }
}
