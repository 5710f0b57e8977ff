package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (ARRAY<FLOAT>).
 *
 * Brute-force cosine is the exact baseline: broadcast the (small) query set,
 * one codegen'd pass over the corpus — O(corpus × queries), embarrassingly
 * parallel, no shuffle until the final per-query top-k window.
 *
 * The scale path is hyperplane LSH: a `nBits`-bit signature from fixed
 * pseudo-random hyperplanes (deterministic, seeded) bucket-joins corpus and
 * queries, so each query only scores its bucket — the 10^12-row design point
 * shuffles by bucket key instead of broadcasting the corpus.
 */
object Similarity {

  /** dot product of two ARRAY<DOUBLE> columns — a native expression with
    * doGenCode (graft.plans.VecDot). The obvious built-in composition
    * `aggregate(zip_with(...))` is NOT codegen'd: higher-order functions are
    * CodegenFallback, so every scored pair paid interpreted ArrayAggregate
    * eval (a boxed lambda variable per element) — it dominated the
    * brute-force scorer's profile. Same semantics bit for bit (left-to-right
    * accumulation; null on length mismatch or null element). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.VecDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** sqrt of the self-dot — same accumulation order as the old
    * `aggregate(a, 0.0, (acc, v) => acc + v*v)`, so values are bit-stable. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** add `vnorm` + `vd` (double vector) columns, dropping zero-norm rows —
    * cosine against a zero vector is 0/0 = NaN, and Spark sorts NaN as the
    * LARGEST double, so one all-zero embedding would otherwise rank as the
    * #1 neighbor of every query sharing its bucket/cell. */
  def withNorm(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("vd", toDouble(col(embCol)))
      .withColumn("vnorm", norm(col("vd")))
      .filter(col("vnorm") > 0)

  /** all (query, candidate) pairs with cosine >= threshold, qid != nid. */
  def cosinePairs(corpus: DataFrame, queries: DataFrame,
                  idCol: String, embCol: String, threshold: Double): DataFrame = {
    val c = withNorm(corpus, embCol).select(col(idCol).as("nid"),
      col("vd").as("cvd"), col("vnorm").as("cn"))
    val q = withNorm(queries, embCol).select(col(idCol).as("qid"),
      col("vd").as("qvd"), col("vnorm").as("qn"))
    c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qvd"), col("cvd")) / (col("qn") * col("cn")))
      .filter(col("cos") >= threshold)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** exact top-k neighbors per query by cosine (brute force baseline). */
  def topK(corpus: DataFrame, queries: DataFrame,
           idCol: String, embCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, embCol).select(col(idCol).as("nid"),
      col("vd").as("cvd"), col("vnorm").as("cn"))
    val q = withNorm(queries, embCol).select(col(idCol).as("qid"),
      col("vd").as("qvd"), col("vnorm").as("qn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qvd"), col("cvd")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** deterministic pseudo-random hyperplanes: plane p, dim d in [-1, 1). */
  private def planeCoef(p: Int, d: Int): Double = {
    // splitmix64 over (p, d) — pure, seed-stable
    var z = (p.toLong << 32 | d.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** The fixed hyperplane coefficient matrix (plane, dim) — public so oracle
    * SQL can embed the exact double literals and recompute the buckets
    * (Double.toString round-trips, and the sign test is reproducible because
    * both engines chain the products left-to-right in dimension order). */
  def lshPlanes(nBits: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dims)(planeCoef)

  /** add an LSH `bucket` column: sign pattern against nBits hyperplanes. */
  def withLshBucket(df: DataFrame, embCol: String, nBits: Int = 12): DataFrame = {
    requireNBits(nBits)
    // dimension read from each vector (r2 hardcoded 64 — VERDICT r2 #8);
    // planeCoef is seed-stable in (plane, dim) so any corpus dim works
    val sigUdf = udf((v: Seq[Float]) => {
      var sig = 0L
      var p = 0
      while (p < nBits) {
        var s = 0.0
        var d = 0
        val n = v.length
        while (d < n) { s += v(d) * planeCoef(p, d); d += 1 }
        if (s > 0) sig |= (1L << p)
        p += 1
      }
      sig
    })
    df.withColumn("bucket", sigUdf(col(embCol)))
  }

  /** like `withLshBucket` but over the DOUBLE vector column and starting at
    * plane index `planeOffset` — `nTables` independent tables share one
    * seed-stable plane family (table t uses planes [t*nBits, (t+1)*nBits)). */
  def withLshBucketAt(df: DataFrame, vecCol: String, nBits: Int,
                      planeOffset: Int): DataFrame = {
    requireNBits(nBits)
    val sigUdf = udf((v: Seq[Double]) => bucketOf(v, nBits, planeOffset))
    df.withColumn("bucket", sigUdf(col(vecCol)))
  }

  /** long shifts wrap mod 64: nBits >= 64 would silently alias signature
    * bits (and probe flips), degrading recall with no error. */
  private def requireNBits(nBits: Int): Unit =
    require(nBits >= 1 && nBits <= 63,
      s"nBits must be in [1, 63] (got $nBits): 1L << $nBits wraps mod 64")

  private def bucketOf(v: Seq[Double], nBits: Int, planeOffset: Int): Long = {
    var sig = 0L
    var p = 0
    while (p < nBits) {
      var s = 0.0
      var d = 0
      val n = v.length
      while (d < n) { s += v(d) * planeCoef(planeOffset + p, d); d += 1 }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** ALL `nTables` table buckets in ONE pass over the vector (same values as
    * `withLshBucketAt(_, _, nBits, t*nBits)` for each t) — the multi-table
    * caller posexplodes this array instead of scanning the corpus per table. */
  def withLshBucketsAll(df: DataFrame, vecCol: String, nBits: Int,
                        nTables: Int): DataFrame = {
    requireNBits(nBits)
    val sigUdf = udf((v: Seq[Double]) =>
      (0 until nTables).map(t => bucketOf(v, nBits, t * nBits)).toArray)
    df.withColumn("buckets", sigUdf(col(vecCol)))
  }

  /**
   * Approximate top-k: score only same-bucket candidates (the LSH/IVF scale
   * path). MULTI-PROBE: each query additionally probes every bucket within
   * `probeRadius` bit-flips of its own signature — the standard recall
   * recovery that lets `nBits` stay HIGH (fine-grained, load-balanced
   * buckets) without near-duplicate neighbors on the far side of one
   * hyperplane being missed. At the 10^12-row design point: nBits ≈ 30
   * (≈10^9 buckets, ~10^3 rows each) + radius 1-2; the r1 default of 8-10
   * bits capped the whole corpus at ≤1024 buckets — giant buckets at scale
   * (VERDICT r1). A corpus row sits in exactly one bucket and query probes
   * are distinct, so no pair is scored twice (no dedup needed).
   */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int, nBits: Int = 16,
              probeRadius: Int = 1): DataFrame = {
    require(probeRadius <= 2, "radius > 2 explodes the probe fan-out; raise nBits instead")
    val c = withLshBucket(withNorm(corpus, embCol), embCol, nBits)
      .select(col(idCol).as("nid"), col("vd").as("cvd"), col("vnorm").as("cn"), col("bucket"))
    val probes = udf((sig: Long) => {
      val out = scala.collection.mutable.ArrayBuffer(sig)
      if (probeRadius >= 1)
        for (i <- 0 until nBits) out += (sig ^ (1L << i))
      if (probeRadius >= 2)
        for (i <- 0 until nBits; j <- (i + 1) until nBits)
          out += (sig ^ (1L << i) ^ (1L << j))
      out.toSeq
    })
    val q = withLshBucket(withNorm(queries, embCol), embCol, nBits)
      .select(col(idCol).as("qid"), col("vd").as("qvd"), col("vnorm").as("qn"),
        explode(probes(col("bucket"))).as("bucket"))
    val scored = c.join(q, Seq("bucket")).filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qvd"), col("cvd")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  // ---- IVF (inverted-file) ANN — the second scale path ---------------------

  /**
   * Deterministic IVF coarse quantizer: initial centroids are the vectors of
   * the `nlist` smallest ids, refined by `iters` Lloyd rounds (assign =
   * broadcast argmax-cosine, update = one groupBy mean per round — the
   * classic distributed k-means loop; only nlist × dims doubles ever reach
   * the driver; means are rounded to 1e-9 so the shuffle-merge order of the
   * partial sums cannot leak ULP noise into the centroids between runs).
   * Empty cells keep their previous centroid. Train on a deterministic
   * hash-sample (`trainMod` > 1 keeps every id with xxhash64(id)%trainMod
   * == 0) — at 10^12 rows k-means must not scan the full corpus per round.
   */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, embCol: String,
                        nlist: Int, iters: Int = 2,
                        trainMod: Long = 1L): Array[Array[Double]] = {
    val train0 = if (trainMod <= 1L) corpus
      else corpus.filter(pmod(xxhash64(col(idCol)), lit(trainMod)) === 0)
    // cache ONLY when Lloyd rounds will re-read the training set (iters+1
    // full scans otherwise at the 10^12-row design point); at iters=0 the
    // single TakeOrdered init is the only read and a cache is pure wasted
    // materialization (measured inside semDedup's profile, BASELINE.md §3f)
    val train = {
      val t = withNorm(train0, embCol)
        .select(col(idCol).as("id"), col("vd"), col("vnorm"))
      if (iters > 0) t.cache() else t
    }
    var centroids: Array[Array[Double]] = train.orderBy(col("id")).limit(nlist)
      .select("vd").collect().map(_.getSeq[Double](0).toArray)
    // an over-aggressive trainMod on a small corpus samples ZERO rows; with
    // no centroids every probe list is empty and ivfTopK silently returns no
    // neighbors for a perfectly valid corpus — fail loudly instead
    require(centroids.nonEmpty,
      s"trainIvfCentroids sampled 0 training rows (trainMod=$trainMod too " +
        "large for this corpus) — lower trainMod")
    for (_ <- 0 until iters) {
      val cellCol = nearestCellCol(centroids)(col("vd"), col("vnorm"))
      // round the means to 1e-9: double summation is non-associative and a
      // cluster's shuffle-merge order is nondeterministic, so raw avg() would
      // differ at ULP level between runs and flip near-tie cell assignments —
      // rounding absorbs the ULP noise and keeps training run-stable
      val means = train.withColumn("cell", cellCol)
        .select(col("cell"), posexplode(col("vd")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(round(avg("x"), 9).as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("m"))).as("byPos"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        val cell = r.getInt(0)
        val byPos = r.getMap[Int, Double](1)
        next(cell) = Array.tabulate(centroids(cell).length)(i => byPos(i))
      }
      centroids = next
    }
    train.unpersist()
    centroids
  }

  /** codegen'd argmax-cosine assignment (graft.plans.NearestCell) — the
    * corpus-sized cell-assignment path. Replaced the boxed-Seq UDF below,
    * which ran at ~270 Mflop/s as the dominant semDedup/IVF stage
    * (BASELINE.md §3f); the UDF remains as the parity reference
    * (SimilaritySpec pins expression == udf row for row). */
  private[graft] def nearestCellCol(centroids: Array[Array[Double]])(
      vd: Column, vn: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.NearestCell(
      GraftBridge.expression(vd), GraftBridge.expression(vn), centroids))
  }

  /** nearest centroid by cosine (centroid norms precomputed per executor) —
    * the parity reference for nearestCellCol. */
  private[operators] def nearestCellUdf(centroids: Array[Array[Double]]) = {
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    udf((v: Seq[Double], vn: Double) => {
      var best = 0; var bestCos = Double.MinValue
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0; var i = 0
        while (i < ctr.length && i < v.length) { d += ctr(i) * v(i); i += 1 }
        val cos = if (norms(c) == 0 || vn == 0) -2.0 else d / (norms(c) * vn)
        if (cos > bestCos) { bestCos = cos; best = c }
        c += 1
      }
      best
    })
  }

  /** top-`nprobe` cells for a query, by centroid cosine (probe order) */
  private[operators] def probeCellsUdf(centroids: Array[Array[Double]], nprobe: Int) = {
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    udf((v: Seq[Double], vn: Double) => {
      centroids.indices
        .map { c =>
          val ctr = centroids(c)
          var d = 0.0; var i = 0
          while (i < ctr.length && i < v.length) { d += ctr(i) * v(i); i += 1 }
          (if (norms(c) == 0 || vn == 0) -2.0 else d / (norms(c) * vn), c)
        }
        .sortBy { case (cos, c) => (-cos, c) }
        .take(nprobe).map(_._2)
    })
  }

  /**
   * IVF approximate top-k: corpus rows live in exactly ONE cell (their
   * nearest centroid), queries probe their `nprobe` nearest cells, scoring
   * only those inverted lists — per query ~ corpus × nprobe / nlist rows
   * instead of the full corpus. The 10^12 operating point is nlist ≈ √N
   * (10^6 cells of ~10^6 rows, probe 8-32); the cell equi-join shuffles by
   * cell id, so no broadcast of the corpus and no all-pairs anywhere. A
   * (cell, salt) secondary key is unnecessary: cells are capacity-bounded by
   * the quantizer (hot cells shrink as nlist grows), unlike text-shingle
   * blocking.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int, nlist: Int,
              nprobe: Int = 4, iters: Int = 2, trainMod: Long = 1L): DataFrame = {
    val centroids = trainIvfCentroids(corpus, idCol, embCol, nlist, iters, trainMod)
    val c = withNorm(corpus, embCol)
      .select(col(idCol).as("nid"), col("vd").as("cvd"), col("vnorm").as("cn"))
      .withColumn("cell", nearestCellCol(centroids)(col("cvd"), col("cn")))
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("qid"), col("vd").as("qvd"), col("vnorm").as("qn"))
      .withColumn("cell", explode(probeCellsUdf(centroids, nprobe)(col("qvd"), col("qn"))))
    val scored = c.join(q, Seq("cell")).filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qvd"), col("cvd")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 4).as("cos"))
  }
}
