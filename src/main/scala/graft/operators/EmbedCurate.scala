package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Embedding-space corpus curation beyond plain ANN: cluster-scoped semantic
 * dedup (the SemDeDup recipe) and product-quantization compression with
 * asymmetric-distance search (the FAISS IVFADC architecture) — the two
 * operators a 100-TB embedding table needs once brute-force cosine and
 * LSH/IVF retrieval (graft.operators.Similarity) exist.
 *
 * Portability discipline (the q_emb family convention): every decision —
 * cell assignment, codeword assignment, ADC distance, duplicate grouping —
 * is either exact integer arithmetic in DOUBLE (integral fixture vectors:
 * sums/products of small ints are exact, so squared L2 distances are exact
 * BIGINT-valued) or a single correctly-rounded IEEE expression evaluated in
 * the same shape by Spark and the DuckDB oracle (dot/(sqrt·sqrt) cosine),
 * so ranks and threshold crossings are bit-reproducible across engines.
 */
object EmbedCurate {

  // ---- SemDeDup: k-means-scoped semantic near-duplicate removal -----------

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with
   * a coarse quantizer, then look for near-duplicate pairs ONLY within a
   * cluster — the observation being that semantic duplicates land in the
   * same k-means cell, so the O(N²) pair search collapses to Σ|cell|².
   *
   * Output: (id, cell, canonical_id) — `canonical_id` is the min id of the
   * duplicate component (cosine ≥ `threshold`, edges cell-scoped);
   * singletons map to themselves. Keep-one dedup =
   * `filter($"id" === $"canonical_id")`. Zero-norm vectors are dropped (no
   * cosine is defined for them — the Similarity.withNorm rule).
   *
   * Centroids come from [[Similarity.trainIvfCentroids]]: `iters = 0` is
   * the deterministic closed form (the vectors of the `nlist` smallest ids)
   * the DuckDB oracle recomputes; Lloyd refinement (`iters > 0`) and
   * hash-sampled training (`trainMod`) are the quality/scale knobs and
   * don't change the plan shape.
   *
   * Scale shape: assignment is one broadcast-argmax pass (centroid matrix
   * ships to executors, nlist × dims doubles); the pair search is a
   * self-equi-join ON THE CELL KEY — it shuffles by cell, never all-pairs.
   * At the 10^12-row design point nlist ≈ N/10⁴ bounds a cell to ~10⁴ rows
   * (10⁸ in-cell pairs, embarrassingly parallel across 10⁸ cells); the
   * quantizer is the capacity bound exactly as in ivfTopK. The assigned
   * table is localCheckpoint'ed because three consumers read it (both join
   * sides + the final re-attach) — without it Catalyst re-plans the scan +
   * assignment UDF per consumer.
   */
  def semDedup(docs: DataFrame, idCol: String, embCol: String,
               nlist: Int, threshold: Double, iters: Int = 0,
               trainMod: Long = 1L, maxIter: Int = 64): DataFrame = {
    val centroids = Similarity.trainIvfCentroids(docs, idCol, embCol, nlist,
      iters, trainMod)
    val assigned = assignCells(docs, idCol, embCol, centroids).localCheckpoint()
    val edges = cellEdges(assigned, threshold)
    val comps = Dedup.connectedComponents(edges, maxIter)
    assigned.select("id", "cell").join(comps, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("comp"), col("id")).as("canonical_id"))
  }

  /** (id, cell, vd, vnorm) — the coarse-quantizer assignment pass, exposed
    * for the probe decomposition. */
  private[graft] def assignCells(docs: DataFrame, idCol: String, embCol: String,
                                 centroids: Array[Array[Double]]): DataFrame =
    Similarity.withNorm(
        docs.select(col(idCol).as("id"), col(embCol).as("emb")), "emb")
      .withColumn("cell",
        Similarity.nearestCellCol(centroids)(col("vd"), col("vnorm")))
      .select(col("id"), col("cell"), col("vd"), col("vnorm"))

  /**
   * Incremental semantic dedup — the embedding-space sibling of
   * [[Dedup.incrementalMinhash]]: mark each NEW document against a
   * PERSISTED cell-assigned corpus state (the output of [[assignCells]],
   * the embedding analog of the minhash signature table) without touching
   * the corpus again. The batch is assigned with the SAME fixed centroids
   * the store was built with — a frozen quantizer is what makes decisions
   * batch-split invariant — then cell-equi-joined against the state; exact
   * cosine ≥ `threshold` marks a dup, best match = max cos with min corpus
   * id on ties (the incrementalMinhash pick, pinned via max(struct(cos,
   * -id))). One row per new doc: (id, matched_id, cos, is_dup).
   *
   * Scale: state is (id, cell, vd, vnorm) rows bucketable by cell; the
   * increment costs O(batch + same-cell collisions), never O(corpus). The
   * assigned batch is localCheckpoint'ed, so the decision plan's only FILE
   * scans are the state store — the q_emb_incrsem gate entry asserts that
   * per batch.
   */
  def incrementalSemDedup(newDocs: DataFrame, corpusState: DataFrame,
                          idCol: String, embCol: String,
                          centroids: Array[Array[Double]],
                          threshold: Double): DataFrame = {
    val newAssigned = assignCells(newDocs, idCol, embCol, centroids)
      .localCheckpoint()
    val st = corpusState.select(col("id").as("__cid"), col("cell"),
      col("vd").as("cvd"), col("vnorm").as("cn"))
    val best = newAssigned.join(st, Seq("cell"))
      .withColumn("cos",
        Similarity.dot(col("vd"), col("cvd")) / (col("vnorm") * col("cn")))
      .filter(col("cos") >= threshold)
      .groupBy("id")
      .agg(max(struct(col("cos"), (-col("__cid")).as("__negid"))).as("__b"))
      .select(col("id"), (-col("__b.__negid")).as("matched_id"),
        round(col("__b.cos"), 4).as("cos"))
    newAssigned.select("id").join(best, Seq("id"), "left")
      .withColumn("is_dup", col("matched_id").isNotNull)
  }

  /** cell-scoped near-dup edges from an assigned frame. */
  private def cellEdges(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("id").as("a_id"),
      col("vd").as("avd"), col("vnorm").as("an"))
    val b = assigned.select(col("cell"), col("id").as("b_id"),
      col("vd").as("bvd"), col("vnorm").as("bn"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        Similarity.dot(col("avd"), col("bvd")) / (col("an") * col("bn")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id")
  }

  // ---- Scalar quantization: int8-per-dim compression ----------------------

  /** per-dim (min, max) over the corpus — the SQ training state (2·dims
    * doubles; one posexplode agg, collected once). */
  def sqStats(corpus: DataFrame, idCol: String, embCol: String): (Array[Double], Array[Double]) = {
    val st = corpus
      .select(posexplode(Similarity.toDouble(col(embCol))).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (st.map(_._2), st.map(_._3))
  }

  /** code_d = round((v_d − min_d)·255 / (max_d − min_d)), 0 for a constant
    * dim — round is floor(x+0.5) == SQL ROUND (half away from zero) for the
    * non-negative operand, and the division is the same single IEEE op both
    * engines evaluate, so codes are bit-reproducible. Codes CLAMP to
    * [0, 255] (r6, ADVICE r5): a query value outside the corpus-trained
    * range previously encoded out of int8 space, contradicting the
    * 1-byte/dim claim and skewing symmetric distances for OOD queries.
    * In-corpus values (every gate fixture) are inside the range by
    * construction of sqStats, so no oracle result moves. */
  private def sqEncodeUdf(mins: Array[Double], maxs: Array[Double]) =
    udf((v: Seq[Double]) => Array.tabulate(v.length) { d =>
      val rng = maxs(d) - mins(d)
      if (rng == 0) 0
      else math.min(255, math.max(0, math.round((v(d) - mins(d)) * 255 / rng).toInt))
    })

  /**
   * Scalar quantization — the SIMPLE compression point next to PQ: one
   * int8 code per dimension (16 dims → 16 bytes vs 64; PQ's 4 bytes costs
   * a codebook and coarser cells). Output: (id, codes ARRAY<INT>). Search
   * over SQ codes is SYMMETRIC (both sides encoded, [[sqTopK]]) — exact
   * integer distances in code space, unlike PQ's asymmetric lookup.
   * Training state is 2·dims doubles; the encode pass is zero-shuffle.
   */
  def sqEncode(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    val (mins, maxs) = sqStats(corpus, idCol, embCol)
    corpus
      .select(col(idCol).as("id"), Similarity.toDouble(col(embCol)).as("vd"))
      .withColumn("codes", sqEncodeUdf(mins, maxs)(col("vd")))
      .select("id", "codes")
  }

  private val sqDistUdf = udf((a: Seq[Int], b: Seq[Int]) => {
    var s = 0L; var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toLong; s += d * d; i += 1 }
    s
  })

  /** symmetric code-space top-k over SQ codes: queries encode with the
    * corpus stats and broadcast; distance = Σ(code_q − code_c)² exact
    * BIGINT — the compressed-domain linear scan at 1 byte/dim. */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, embCol: String, k: Int): DataFrame = {
    val (mins, maxs) = sqStats(corpus, idCol, embCol)
    val enc = corpus
      .select(col(idCol).as("nid"), Similarity.toDouble(col(embCol)).as("vd"))
      .withColumn("codes", sqEncodeUdf(mins, maxs)(col("vd")))
      .select("nid", "codes")
    val q = queries
      .select(col(idCol).as("qid"), Similarity.toDouble(col(embCol)).as("qvd"))
      .withColumn("qcodes", sqEncodeUdf(mins, maxs)(col("qvd")))
      .select("qid", "qcodes")
    val scored = enc.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("dist2", sqDistUdf(col("qcodes"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("dist2"))
  }

  // ---- Prototype filter: seed-centroid quality classification -------------

  /**
   * Embedding prototype filter — the seed-based quality classifier of a
   * FineWeb-Edu-style curation pass without a trained model: label a few
   * GOOD and BAD seed documents, build one prototype per class, keep a doc
   * when it sits closer (by cosine) to the good prototype.
   *
   * The prototype is the component-wise SUM of the seed vectors, not the
   * mean — cosine is scale-invariant, so sum and mean give the identical
   * decision while the sum of integral vectors stays EXACT integer
   * arithmetic (a mean's division would put engine-rounding inside every
   * downstream product). The keep rule multiplies the common ‖v‖ out:
   *   keep ⇔ dot(v,g)·‖b‖ ≥ dot(v,b)·‖g‖
   * (‖v‖ > 0 cancels; ‖g‖,‖b‖ > 0 enforced) — one multiplication per side
   * of exact-int × correctly-rounded sqrt, the same expression shape the
   * oracle evaluates, so the boundary is bit-reproducible.
   *
   * Scale shape: seeds collect once (bounded by the seed-id lists), the
   * scoring pass is zero-shuffle — two codegen'd VecDot's against constant
   * vectors per row. Output: (id, dot_good, dot_bad BIGINT, kept).
   */
  def prototypeFilter(docs: DataFrame, idCol: String, embCol: String,
                      goodIds: Seq[Long], badIds: Seq[Long]): DataFrame = {
    require(goodIds.nonEmpty && badIds.nonEmpty)
    val base = docs.select(col(idCol).as("id"),
      Similarity.toDouble(col(embCol)).as("vd"))
    def proto(ids: Seq[Long]): Array[Double] = {
      // sorted by id before summing (r6, ADVICE r5): collect() order is
      // partition-order, not deterministic, and double addition is
      // non-associative — an unordered sum can flip near-boundary
      // keep/drop decisions between runs for real float embeddings.
      // Integral fixture vectors sum exactly in any order, so results on
      // every oracle are unchanged; this pins run-stability for floats.
      val vecs = base.filter(col("id").isin(ids: _*))
        .select("id", "vd").collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      require(vecs.length == ids.length,
        s"prototypeFilter: ${ids.length - vecs.length} seed ids missing from the corpus")
      val s = new Array[Double](vecs.head.length)
      vecs.foreach(v => { var i = 0; while (i < s.length) { s(i) += v(i); i += 1 } })
      s
    }
    val g = proto(goodIds); val b = proto(badIds)
    def nrm(p: Array[Double]): Double = math.sqrt(p.map(x => x * x).sum)
    val (gn, bn) = (nrm(g), nrm(b))
    require(gn > 0 && bn > 0, "prototypeFilter: zero-norm prototype")
    val gc = array(g.map(lit): _*); val bc = array(b.map(lit): _*)
    base
      .withColumn("dot_good", Similarity.dot(col("vd"), gc).cast("long"))
      .withColumn("dot_bad", Similarity.dot(col("vd"), bc).cast("long"))
      .withColumn("kept",
        col("dot_good").cast("double") * bn >= col("dot_bad").cast("double") * gn)
      .select("id", "dot_good", "dot_bad", "kept")
  }

  // ---- Product quantization: compress + asymmetric-distance search --------

  /**
   * Deterministic per-subspace PQ codebooks: the full vectors of the `ksub`
   * smallest ids, split into `m` contiguous subspaces — codeword `c` of
   * subspace `j` is the j-th slice of training row `c`. This is the
   * closed-form initialization (the same first-k rule trainIvfCentroids
   * starts from) so the DuckDB oracle can rebuild the codebooks from the
   * corpus itself; per-subspace Lloyd refinement is orthogonal and already
   * demonstrated by the IVF trainer. Returns [subspace][codeword][subdim].
   */
  def pqCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                  m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1)
    val train = corpus
      .select(col(idCol).as("id"), Similarity.toDouble(col(embCol)).as("vd"))
      .orderBy("id").limit(ksub)
      .select("vd").collect().map(_.getSeq[Double](0).toArray)
    require(train.nonEmpty, "pqCodebooks: empty corpus")
    val dims = train.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    Array.tabulate(m)(j => train.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** squared L2 between a subvector and a codeword — exact in double for
    * integral inputs (the oracle-portability invariant). */
  private def subDist2(v: Seq[Double], off: Int, cw: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < cw.length) { val d = v(off + i) - cw(i); s += d * d; i += 1 }
    s
  }

  /** per-row PQ code: argmin-L2 codeword per subspace, ties to the LOWEST
    * codeword index (strict `<` keeps the first minimum). */
  private def encodeUdf(cb: Array[Array[Array[Double]]]) =
    udf((v: Seq[Double]) => {
      val m = cb.length; val sub = cb(0)(0).length
      Array.tabulate(m) { j =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb(j).length) {
          val d = subDist2(v, j * sub, cb(j)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    })

  /** reconstruction error ‖v − decode(code)‖² — exact for integral inputs. */
  private def reconUdf(cb: Array[Array[Array[Double]]]) =
    udf((v: Seq[Double], codes: Seq[Int]) => {
      val sub = cb(0)(0).length
      var s = 0.0; var j = 0
      while (j < cb.length) { s += subDist2(v, j * sub, cb(j)(codes(j))); j += 1 }
      s
    })

  /**
   * PQ-encode a corpus: (id, codes ARRAY<INT> of length m, recon2 BIGINT —
   * the exact squared reconstruction error). The compression is the 100-TB
   * point: a 16-dim float vector (64 B) becomes m=4 byte-codes — a 10^12-row
   * index that fits executor memory for in-memory ADC scans. One
   * zero-shuffle projection pass: the codebook (m·ksub·subdim doubles)
   * ships in the UDF closure, nothing else moves.
   */
  def pqEncode(corpus: DataFrame, idCol: String, embCol: String,
               m: Int = 4, ksub: Int = 8): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, embCol, m, ksub)
    corpus
      .select(col(idCol).as("id"), Similarity.toDouble(col(embCol)).as("vd"))
      .withColumn("codes", encodeUdf(cb)(col("vd")))
      .withColumn("recon2", reconUdf(cb)(col("vd"), col("codes")).cast("long"))
      .select("id", "codes", "recon2")
  }

  /** per-query ADC lookup table: lut[j][c] = ‖q_subj − cb[j][c]‖² — exact
    * integers for integral inputs, m·ksub doubles per query. */
  private def lutUdf(cb: Array[Array[Array[Double]]]) =
    udf((v: Seq[Double]) => {
      val sub = cb(0)(0).length
      cb.zipWithIndex.map { case (cws, j) =>
        cws.map(cw => subDist2(v, j * sub, cw))
      }
    })

  private val adcUdf =
    udf((codes: Seq[Int], lut: Seq[Seq[Double]]) => {
      var s = 0.0; var j = 0
      while (j < codes.length) { s += lut(j)(codes(j)); j += 1 }
      s
    })

  /**
   * Asymmetric-distance top-k: corpus rows are represented ONLY by their PQ
   * codes; each query precomputes an m×ksub lookup table of exact subspace
   * distances to every codeword, so scoring a candidate is m table adds
   * (never a dims-wide float op). This is the compressed-domain linear scan
   * — memory-bandwidth-bound over m bytes/row instead of 4·dims — with the
   * query side (rows × small LUT) broadcast; compose with IVF cells
   * ([[ivfPqTopK]]) when pruning is also wanted. Ranks by exact integer
   * dist2 ASC then nid ASC (fully reproducible; no float tie ambiguity).
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, embCol: String, k: Int,
             m: Int = 4, ksub: Int = 8): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, embCol, m, ksub)
    val enc = corpus
      .select(col(idCol).as("nid"), Similarity.toDouble(col(embCol)).as("vd"))
      .withColumn("codes", encodeUdf(cb)(col("vd")))
      .select("nid", "codes")
    val q = queries
      .select(col(idCol).as("qid"), Similarity.toDouble(col(embCol)).as("qvd"))
      .withColumn("lut", lutUdf(cb)(col("qvd")))
      .select("qid", "lut")
    val scored = enc.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("dist2", adcUdf(col("codes"), col("lut")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("dist2").cast("long").as("dist2"))
  }

  /**
   * IVF-PQ (the FAISS IVFADC composition): corpus rows live in ONE coarse
   * cell (nearest centroid by cosine, [[Similarity.trainIvfCentroids]]) and
   * carry only their PQ code; queries probe their `nprobe` nearest cells
   * and ADC-score just those inverted lists. Per query ~ corpus ·
   * nprobe/nlist candidates at m adds each — the standard billion-scale ANN
   * operating point (nlist ≈ √N cells, codes in memory, exact vectors never
   * touched at query time). The cell equi-join shuffles by cell id with the
   * (small) probe side broadcast explicitly.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, embCol: String, k: Int,
                nlist: Int, nprobe: Int = 2, m: Int = 4, ksub: Int = 8,
                iters: Int = 0): DataFrame = {
    val centroids = Similarity.trainIvfCentroids(corpus, idCol, embCol, nlist, iters)
    val cb = pqCodebooks(corpus, idCol, embCol, m, ksub)
    val enc = Similarity.withNorm(
        corpus.select(col(idCol).as("nid"), col(embCol).as("emb")), "emb")
      .withColumn("cell",
        Similarity.nearestCellCol(centroids)(col("vd"), col("vnorm")))
      .withColumn("codes", encodeUdf(cb)(col("vd")))
      .select("nid", "cell", "codes")
    val q = Similarity.withNorm(
        queries.select(col(idCol).as("qid"), col(embCol).as("emb")), "emb")
      .withColumn("cell", explode(
        Similarity.probeCellsUdf(centroids, nprobe)(col("vd"), col("vnorm"))))
      .withColumn("lut", lutUdf(cb)(col("vd")))
      .select("qid", "cell", "lut")
    val scored = enc.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dist2", adcUdf(col("codes"), col("lut")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("dist2").cast("long").as("dist2"))
  }
}
