package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Dot products run through `graft_dot`, a native Catalyst expression
  * (graft.functions.DotProductFloat) that compiles to a primitive loop
  * inside whole-stage codegen: each float widens to double, accumulation
  * is a sequential left fold — bit-identical to the interpreted
  * higher-order-function form it replaces, several times faster.
  * Ranking always carries a total tiebreak (similarity DESC, id ASC).
  * Brute force broadcasts the query side (right for small Q at any
  * corpus size); the IVF variant assigns vectors to max-cosine centroids
  * once, then probes a single bucket via an equi-join on centroid id —
  * the candidate set shrinks by the centroid count, which is the path
  * to 100 TB corpora.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** (id, v: float[], nrm) projection of an embedding frame. */
  def withNorm(df: DataFrame, idCol: String, embeddingCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), col(embeddingCol).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Brute-force cosine top-k of `queries` against `base`; both must be
    * withNorm projections keyed by `idCol`. Output: (qid, neighbor, rank). */
  def knnBrute(base: DataFrame, queries: DataFrame, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol).asc)
    base.join(broadcast(q), col(idCol) =!= col("qid"))
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("neighbor_id"), col("rank"))
  }

  /** Assign every vector to its max-cosine centroid (ties: lowest id).
    *
    * ZERO-shuffle since r8: centroids are configuration-sized by
    * contract (the IVF codebook, like PQ's — `maxCentroids` enforces
    * it, mirroring `pqTrainSampled.maxCodewords`), so they collect once
    * in id order and ride into `graft_argmax_cos`, one looped-codegen
    * node per row whose tie/NaN ordering is bit-identical to the
    * row_number-over-(csim DESC, cid ASC) form. The index→cid mapping
    * re-enters as a broadcast join (no corpus exchange). The previous
    * cross-join+window form pushed corpus × C rows — every vector
    * duplicated per centroid — through a hash exchange just to keep the
    * argmax; at 100 TB with thousands of centroids that exchange IS the
    * index-build cost.
    *
    * Contract deltas vs the window form, all in the degenerate corner:
    * a row whose vector is null, has a null element, or mismatches the
    * centroid dimensionality is DROPPED (the window form kept it,
    * assigned to an arbitrary lowest-id centroid — an assignment with
    * no meaning); and `base` must be unique per `idCol` (the withNorm
    * projection is — the window form would have collapsed duplicate
    * ids to one arbitrary row instead). */
  def assignToCentroids(base: DataFrame, centroids: DataFrame, idCol: String,
      maxCentroids: Int = 4096): DataFrame =
    assignWith(base,
      collectCodebook(centroids, idCol, maxCentroids, "assignToCentroids"),
      idCol).filter(col("cid").isNotNull)

  /** [[assignToCentroids]] against an already-collected codebook, KEEPING
    * the rows `graft_argmax_cos` cannot score (null `cid`), so an append
    * can refuse them instead of dropping them. */
  private def assignWith(base: DataFrame, cb: Codebook,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    graft.functions.GraftFunctions.register(base.sparkSession)
    val indexDf = base.sparkSession.createDataFrame(
      java.util.Arrays.asList(cb.ids.zipWithIndex.map {
        case (id, i) => Row(i, id) }: _*),
      StructType(Seq(StructField("__ci", IntegerType, nullable = false),
        cb.idField.copy(name = "__cid"))))
    base.withColumn("__ci", call_function("graft_argmax_cos",
        col("v"), col("nrm"), typedlit(cb.vecs.map(_.toSeq).toSeq),
        typedlit(cb.norms.toSeq)))
      .join(broadcast(indexDf), Seq("__ci"), "left")
      .select(col(idCol), col("__cid").as("cid"), col("v"), col("nrm"))
  }

  /** A centroid codebook collected once, in id order: the ids (typed by
    * `idField`), vectors and norms that [[assignToCentroids]] ships into
    * `graft_argmax_cos` and the external probes rank query buckets
    * against on the driver. `fingerprint` is the codebook's identity:
    * md5 over the id-ordered (id, exact float bits) serialization —
    * float bits, not decimal rendering, so two codebooks differing below
    * print precision still differ. */
  private[graft] final case class Codebook(
      idField: org.apache.spark.sql.types.StructField, ids: IndexedSeq[Any],
      vecs: Array[Array[Float]], norms: Array[Double]) {
    def dim: Int = vecs.head.length
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      ids.zip(vecs).foreach { case (id, v) =>
        md.update(String.valueOf(id).getBytes("UTF-8"))
        md.update(':'.toByte)
        v.foreach { x =>
          val bits = java.lang.Float.floatToIntBits(x)
          md.update(Array[Byte]((bits >>> 24).toByte, (bits >>> 16).toByte,
            (bits >>> 8).toByte, bits.toByte))
        }
        md.update(';'.toByte)
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** One bounded collect of `centroids`' (id, v, nrm) in id order. */
  private def collectCodebook(centroids: DataFrame, idCol: String,
      maxCentroids: Int, context: String): Codebook = {
    val rows = DriverBounded.collectCapped(
      centroids.select(col(idCol), col("v"), col("nrm")).orderBy(col(idCol)),
      maxCentroids,
      s"$context: centroid set exceeds maxCentroids $maxCentroids " +
        "— centroids are configuration, not data; cap the input " +
        "(cf. pqTrainSampled.maxCodewords) or raise the bound deliberately")
    require(rows.nonEmpty, s"$context: empty centroid set")
    rows.foreach(r => require(!r.isNullAt(1),
      s"$context: centroid ${r.get(0)} has a null vector"))
    Codebook(centroids.schema(idCol), rows.map(_.get(0)).toIndexedSeq,
      rows.map(_.getSeq[Float](1).toArray), rows.map(_.getDouble(2)))
  }

  /** A fitted spherical-k-means model: the final per-vector assignment
    * (same shape as [[assignToCentroids]] output, with `cid` = 0-based
    * centroid index, so it composes directly with [[buildIvfIndex]] /
    * [[knnIvf]]), plus the trained centroids and their norms. */
  case class KMeansModel(assignment: DataFrame,
      centroids: Seq[Array[Float]], norms: Seq[Double])

  /** Spherical k-means (Lloyd) — the training step that produces the
    * IVF centroid codebook: seed with the `k` vectors of smallest
    * `md5(id)` (hash order decorrelates the seeds from ingestion order
    * — the k lowest IDs of a real corpus are one crawl slice, the worst
    * Lloyd seeding — while staying deterministic and exactly
    * reproducible by an external oracle), then `iters` rounds of
    * {max-cosine assignment, mean update}, returning the assignment
    * under the final centroids.
    *
    * Built for reproducibility at scale: the centroid update
    * accumulates vectors QUANTIZED to `quantScale`-ths as longs, so the
    * distributed per-cluster sum is exact integer arithmetic — the
    * result is bit-identical under any partitioning, task order, or
    * engine (floating-point sums commute only approximately; long sums
    * commute exactly). Each new centroid dimension is then one double
    * division, cast to float — a deterministic derivation an external
    * oracle reproduces exactly. Empty clusters keep their previous
    * centroid.
    *
    * Scale shape: per round, one ZERO-shuffle narrow pass (the
    * configuration-sized centroids ride into `graft_argmax_cos` as
    * literals, cf. [[assignToCentroids]]) plus one k-row aggregate
    * whose map-side combine reduces each task to k×(dim+1) longs; the
    * driver holds k×dim floats between rounds ([[DriverBounded]]).
    * Rows whose vector is null or mismatches `dim` are dropped (the
    * argmax contract). `base` must be a [[withNorm]] projection.
    *
    * Overflow headroom: the per-cluster sums are 64-bit — under
    * `spark.sql.ansi.enabled=false` an overflowing long sum WRAPS
    * silently into a corrupt centroid, and an external oracle that
    * widens (DuckDB sums BIGINT into HUGEINT) diverges without any
    * error. So every update round also aggregates the max |quantized
    * component| per cluster and fails with sizing guidance when
    * maxAbs × clusterSize could exceed Long.MaxValue (the conservative
    * bound |Σterms| ≤ n·max|term| — enforced even when the actual
    * mixed-sign sum happened to fit). Practical sizing: quantScale ×
    * max|v_i| × rows-per-cluster must stay below 2^63 — at the default
    * 1000 with unit-normalized embeddings that allows ~9×10^15 rows per
    * cluster before the guard even engages. */
  def kmeansFit(base: DataFrame, idCol: String, k: Int, iters: Int,
      dim: Int, quantScale: Int = 1000, maxK: Int = 4096): KMeansModel = {
    require(k > 0 && k <= maxK, s"kmeansFit: k must be in [1, $maxK], got $k")
    require(iters >= 1, s"kmeansFit: iters must be >= 1, got $iters")
    require(dim > 0 && quantScale > 0,
      s"kmeansFit: dim and quantScale must be positive, got $dim, $quantScale")
    graft.functions.GraftFunctions.register(base.sparkSession)

    // sqrt(sum x_i^2) via the same left-to-right widening double fold
    // graft_dot and DuckDB's list_dot_product use — norms must be
    // bit-identical to what an oracle computes from the same floats
    def normOf(c: Array[Float]): Double =
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    def assignIdx(cvs: Seq[Array[Float]], cns: Seq[Double]) =
      call_function("graft_argmax_cos", col("v"), col("nrm"),
        typedlit(cvs.map(_.toSeq)), typedlit(cns))

    var cvs: Seq[Array[Float]] = kmeansSeeds(base, idCol, k, dim)
    require(cvs.nonEmpty, "kmeansFit: no usable seed vectors " +
      s"(null-free vectors of dimension $dim)")
    var cns: Seq[Double] = cvs.map(normOf)

    // exact update accumulators: round(v_i * quantScale) as long.
    // Half-way products DO occur (0.0625f * 1000 = 62.5 exactly); the
    // engines agree because BOTH round halves away from zero (Spark
    // round = HALF_UP, DuckDB round = C round) — an oracle ported to an
    // engine with banker's rounding would diverge here
    val sumExprs = (1 to dim).map(i => sum(expr(
      s"cast(round(cast(element_at(v, $i) as double) * $quantScale) as bigint)"))
      .as(s"s$i"))
    // overflow sentry: max |quantized component| per cluster, so the
    // driver can prove |Σterms| <= cnt * maxAbs fits in 64 bits — a
    // wrapped long sum would otherwise corrupt the centroid silently.
    // Measured in the DOUBLE domain, BEFORE the bigint cast: a
    // component already past long range clamps to Long.MinValue at the
    // (non-ANSI) cast, and abs(Long.MinValue) wraps NEGATIVE — a
    // long-domain max would never see it and the guard would pass the
    // exact corruption it exists to catch. The double magnitude is
    // exact where it matters (below 2^53) and errs loud above; a NaN
    // component poisons the max and fails the require, also loud
    val maxAbsExpr = max(expr(
      s"array_max(transform(v, x -> abs(round(cast(x as double) * $quantScale))))"))
      .as("max_abs_q")
    for (_ <- 1 to iters) {
      val byCluster = DriverBounded.collectCapped(
        base.withColumn("__ci", assignIdx(cvs, cns))
          .filter(col("__ci").isNotNull)
          .groupBy("__ci")
          .agg(count(lit(1)).as("cnt"), maxAbsExpr +: sumExprs: _*),
        cvs.length,
        "kmeansFit: more clusters than centroids in the update aggregate")
      val updates = byCluster.map { r =>
        val cnt = r.getLong(1)
        val maxAbsQ = r.getDouble(2)
        require(maxAbsQ <= (Long.MaxValue / cnt).toDouble,
          s"kmeansFit: quantized-accumulator headroom exceeded in cluster " +
            s"${r.getInt(0)} (max |component| x quantScale = $maxAbsQ over " +
            s"$cnt rows risks 64-bit overflow); lower quantScale or the " +
            "component magnitudes")
        r.getInt(0) -> Array.tabulate(dim)(d =>
          (r.getLong(d + 3).toDouble / (quantScale.toDouble * cnt)).toFloat)
      }.toMap
      cvs = cvs.zipWithIndex.map { case (old, j) => updates.getOrElse(j, old) }
      cns = cvs.map(normOf)
    }
    KMeansModel(
      base.withColumn("cid", assignIdx(cvs, cns))
        .filter(col("cid").isNotNull)
        .select(col(idCol), col("cid"), col("v"), col("nrm")),
      cvs, cns)
  }

  /** The kmeansFit seed set: the `k` vectors of smallest
    * `(md5(cast(id as string)), id)` (fewer if the corpus is smaller),
    * under the same drop contract as assignment — null vectors, null
    * elements, and dim mismatches never seed. Hash order makes the
    * seeds a deterministic pseudo-random corpus sample; both engines
    * hash the decimal string form of the id, so an external oracle
    * orders by `md5(id::VARCHAR)` and selects identical rows. */
  def kmeansSeeds(base: DataFrame, idCol: String, k: Int,
      dim: Int): Seq[Array[Float]] =
    DriverBounded.takeFirst(
        base.select(col(idCol), col("v"))
          .filter(col("v").isNotNull && size(col("v")) === dim &&
            expr("forall(v, x -> x is not null)"))
          .orderBy(md5(col(idCol).cast("string")), col(idCol)), k)
      .map(_.getSeq[Float](1).toArray).toSeq

  /** Johnson-Lindenstrauss random projection: reduce an embedding to
    * `outDim` dimensions via deterministic ±1 hyperplanes scaled by
    * 1/sqrt(outDim) — the standard cheap pre-reduction before ANN when
    * the raw dimensionality dominates scan cost (projected vectors are
    * outDim/dim of the bytes; JL keeps pairwise distances within
    * (1±eps) for outDim = O(log n / eps^2)). FULLY NARROW: outDim
    * codegen'd `graft_dot` folds per row against literal weights
    * ([[hyperplaneWeights]] — md5-derived, so an external oracle
    * inlines identical constants), zero exchanges at any scale.
    *
    * `base` must be a [[withNorm]] projection with vectors of length
    * `dim`: a mismatched row fails the job loudly (a codegen'd value
    * guard — the projection itself would null it silently). Output:
    * (idCol, rp: array<float>), rp(j) = float(dot(v, w_j)/sqrt(outDim))
    * — float, so the result feeds [[withNorm]] and the whole ANN stack
    * directly and the byte ratio really is outDim/dim.
    *
    * The projection is ONE looped-codegen node (`graft_matvec`): the
    * earlier unrolled form — outDim separate dot folds — crossed
    * Janino's 64 KB method ceiling near outDim ≈ 224 and silently fell
    * back to interpreted execution (measured; SCALING.md), so like PQ's
    * encode this loops over a referenced float[][] and stays in
    * whole-stage codegen at ANY (dim, outDim). Arithmetic is unchanged:
    * per plane one widening left-fold dot, one double division, one
    * float cast. */
  def randomProject(base: DataFrame, idCol: String, outDim: Int,
      dim: Int): DataFrame = {
    require(outDim > 0 && dim > 0,
      s"randomProject: outDim and dim must be positive, got $outDim, $dim")
    graft.functions.GraftFunctions.register(base.sparkSession)
    val s = math.sqrt(outDim.toDouble)
    val planes = hyperplaneWeights(outDim, dim)
    val projected = call_function("graft_matvec",
      col("v"), typedlit(planes.map(_.toSeq)), lit(s))
    base.select(col(idCol),
      when(size(col("v")) === dim, projected)
        .otherwise(raise_error(concat(
          lit(s"randomProject: vector of length "), size(col("v")).cast("string"),
          lit(s" does not match dim $dim"))))
        .as("rp"))
  }

  /** Deterministic ±1 random-hyperplane weights for sign-LSH: plane `p`
    * dimension `i` weighs +1 when the first byte of md5("p,i") is below
    * 0x80. The derivation is pure and engine-independent, so an external
    * oracle can inline the identical constants. */
  def hyperplaneWeights(nPlanes: Int, dim: Int): Seq[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        val h = md.digest(s"$p,$i".getBytes("UTF-8")) // digest() leaves md reset
        if ((h(0) & 0xff) < 0x80) 1.0f else -1.0f
      }.toArray
    }
  }

  /** Random-hyperplane (sign) LSH bucketing — the alternative blocker to
    * [[assignToCentroids]]: bucket id = the sign-bit string of the
    * vector against each hyperplane. Same output shape (`cid` column),
    * so [[knnIvf]] and [[nearDupPairs]] probe LSH buckets unchanged.
    * One narrow codegen'd pass, no shuffle, no training step — vs IVF's
    * broadcast-assign — at the cost of recall tuned only by the plane
    * count. */
  def assignLshBuckets(base: DataFrame, idCol: String,
      weights: Seq[Array[Float]]): DataFrame = {
    val bits = weights.map(w =>
      when(dot(col("v"), typedlit(w.toSeq)) > 0d, "1").otherwise("0"))
    base.select(col(idCol), concat(bits: _*).as("cid"), col("v"), col("nrm"))
  }

  /** Embedding-cosine near-duplicate pairs inside centroid blocks:
    * after assignToCentroids, only same-bucket pairs are compared — the
    * blocked shape that avoids the all-pairs join at corpus scale.
    * SYMMETRIC alias projections (one select of the same shape per
    * side): the two block-key exchanges canonicalize identically, so
    * the assignment pipeline runs once and the other join side is a
    * ReusedExchange — measured; an asymmetric raw-frame-vs-renamed
    * join re-runs it. No join-strategy hint: the default sort-merge
    * join sort-spills a skewed centroid block where a forced hash
    * build would OOM, and reuse holds without it. */
  def nearDupPairs(assigned: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val a = assigned.select(col(idCol).as("a_id"), col("cid").as("a_cid"),
      col("v").as("av"), col("nrm").as("an"))
    val b = assigned.select(col(idCol).as("b_id"), col("cid").as("b_cid"),
      col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_cid") === col("b_cid") && col("a_id") < col("b_id"))
      .withColumn("sim", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("sim") > threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** Serving-guard table properties beside the store's width stamp
    * ([[BucketedStore.DimProp]]), stamped at build/append time so
    * external probes read index identity from CATALOG METADATA (one
    * driver call, no Spark job) instead of paying a scheduler
    * round-trip per guard — the high-QPS serving shape. A table built
    * before the properties existed still probes correctly: every
    * reader keeps a distributed fallback. */
  private[graft] val PrefixDimsProp = "graft.prefix_dims"
  private[graft] val CodebookProp = "graft.codebook_md5"
  private[graft] val PqMProp = "graft.pq_m"

  /** Derive a centroid codebook's identity: one bounded collect, whose
    * [[Codebook.fingerprint]] and single vector width are what makes
    * "the codebook is part of the index's identity" ENFORCEABLE —
    * build/append stamp the fingerprint as a table property, and a later
    * append or serving probe handing a different codebook (retrained,
    * truncated, or simply the wrong variable) fails loudly instead of
    * silently scanning the wrong buckets. */
  private[graft] def deriveCodebook(centroids: DataFrame, idCol: String,
      maxCentroids: Int = 4096): Codebook = {
    servingIdentityDerivations.incrementAndGet()
    val cb = collectCodebook(centroids, idCol, maxCentroids, "deriveCodebook")
    val widths = cb.vecs.map(_.length).distinct
    require(widths.length == 1,
      s"deriveCodebook: centroids carry mixed vector widths " +
        s"${widths.sorted.mkString(",")} — not one codebook")
    cb
  }

  // ---- Serving-identity session cache (guide §1.2; VERDICT r21 #2).
  // A serving loop hands the SAME codebook frame to every external
  // probe, and the per-probe identity work — collecting the handed
  // centroids and fingerprinting them (one bounded driver job), and
  // reloading a PQ index's persisted codebooks (another) — re-derives
  // values that cannot change between index-maintenance events. Cache
  // both, keyed so a hit is provably the same question: the collected
  // codebook (ids, vectors, norms and fingerprint) by (table,
  // canonicalized centroid plan), RE-VALIDATED against the table's
  // stamped fingerprint at every hit (a rebuild under a retrained
  // codebook re-stamps, so stale entries fail the validation and
  // recompute); the PQ codebooks by table. A hit serves both the
  // identity check and the probe's bucket choice, so a repeat probe
  // collects no centroids at all. Rebuild and drop invalidate under the
  // engine's one shared lock; appends and compactions need not: an
  // append's own fingerprint guard refuses a drifted codebook, a
  // compaction never rewrites `__codebook` and carries every stamp
  // across its swap, and every hit is validated against the stamp
  // anyway. The residual assumption is the codebook-identity contract
  // itself — a centroid frame handed to a probe is deterministic
  // between maintenance events (retraining is a rebuild, which
  // re-stamps and invalidates).

  private val servingCentroids =
    scala.collection.mutable.Map.empty[
      (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
      Codebook]
  private val servingCodebooks =
    scala.collection.mutable.Map.empty[String, Seq[Seq[Array[Float]]]]
  private val ServingCacheCap = 256

  /** Count of serving-identity DERIVATIONS actually run (centroid
    * collects + codebook-table reads) — the observable the cache spec
    * pins: a repeat probe must not move it. */
  private[graft] val servingIdentityDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Drop `table`'s serving-identity entries — called by every
    * build/drop path, under the shared engine lock. */
  private[graft] def invalidateServingIdentity(table: String): Unit =
    BucketedStore.withBandLock {
      servingCentroids.filterInPlace { case ((t, _), _) => t != table }
      servingCodebooks.remove(table)
      ()
    }

  /** [[deriveCodebook]] behind the serving cache: a hit — same table,
    * same canonicalized centroid plan, and a stamped fingerprint equal
    * to the cached one — runs ZERO Spark jobs (spec-pinned); a miss
    * derives, stores, and returns. An unstamped table never hits: there
    * is nothing to re-validate the entry against. */
  private def cachedCodebook(spark: org.apache.spark.sql.SparkSession,
      table: String, centroids: DataFrame, idCol: String): Codebook = {
    val plan = centroids.queryExecution.analyzed.canonicalized
    val stamped = BucketedStore.tableProp(spark, table, CodebookProp)
    BucketedStore.withBandLock(servingCentroids.get((table, plan)))
      .filter(cb => stamped.contains(cb.fingerprint))
      .getOrElse {
        val derived = deriveCodebook(centroids, idCol)
        BucketedStore.withBandLock {
          if (servingCentroids.size >= ServingCacheCap)
            servingCentroids.clear()
          servingCentroids((table, plan)) = derived
        }
        derived
      }
  }

  /** [[loadPqCodebooks]] behind the serving cache (by table; dropped
    * on build/drop): the second probe of a session pays no
    * codebook-table read. */
  private def cachedPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      table: String): Seq[Seq[Array[Float]]] =
    BucketedStore.withBandLock(servingCodebooks.get(table)).getOrElse {
      val cbs = loadPqCodebooks(spark, table)
      BucketedStore.withBandLock {
        if (servingCodebooks.size >= ServingCacheCap)
          servingCodebooks.clear()
        servingCodebooks(table) = cbs
      }
      cbs
    }

  /** The IVF/PQ codebook-identity guard: the centroids handed to an
    * append or serving probe must be the codebook `table` is
    * partitioned by — another assigns rows to buckets the index was
    * never partitioned by, and a probe silently scans the wrong
    * buckets. Their fingerprint must equal the table's stamp, and their
    * width the index's `width` (0: not yet known). A `writer` (append)
    * derives the codebook afresh and stamps an unstamped table with its
    * fingerprint, its width and `stamps`; a reader (serving probe) goes
    * through the session cache and never stamps. Returns the checked
    * codebook, so the caller assigns against it without collecting the
    * centroids again. */
  private def requireCodebook(spark: org.apache.spark.sql.SparkSession,
      table: String, centroids: DataFrame, idCol: String, context: String,
      width: Int, writer: Boolean,
      stamps: Map[String, String] = Map.empty): Codebook = {
    val cb =
      if (writer) deriveCodebook(centroids, idCol)
      else cachedCodebook(spark, table, centroids, idCol)
    val fp = cb.fingerprint
    val stamped = BucketedStore.tableProp(spark, table, CodebookProp)
    stamped.foreach { st =>
      require(st == fp,
        s"$context: the centroid codebook passed here (md5 $fp) is not " +
          s"the one $table is partitioned by (md5 $st) — the codebook is " +
          "part of the index's identity; another would append or probe " +
          "by the wrong buckets (retraining is a batch rebuild)")
    }
    require(width == 0 || cb.dim == width,
      s"$context: the centroid codebook's width (${cb.dim}) differs from " +
        s"the index's ($width) — not the geometry this index was " +
        "partitioned by")
    if (writer && stamped.isEmpty)
      BucketedStore.stampTableProps(spark, table, Map(CodebookProp -> fp,
        BucketedStore.DimProp -> cb.dim.toString) ++ stamps)
    cb
  }

  /** The one serving-batch collect every external probe makes: `queries`'
    * (id, v, nrm), at most `maxQ` of them — the probe side enters the
    * plan as a local relation, so it must stay configuration-sized — and
    * every vector non-null and `dim` wide (a wrong-width query would null
    * every similarity, its bucket choice and its ranking alike, and
    * silently return arbitrary "neighbors"). Both refusals come before
    * any job touches the index. */
  private def servingBatch(queries: DataFrame, idCol: String, maxQ: Int,
      dim: Int, countMsg: => String, dimMsg: => String)
      : Array[org.apache.spark.sql.Row] = {
    val rows = DriverBounded.collectCapped(
      queries.select(col(idCol), col("v"), col("nrm")), maxQ, countMsg)
    require(rows.forall(r => !r.isNullAt(1) && r.getSeq[Any](1).length == dim),
      dimMsg)
    rows
  }

  /** The (qid, qv, qn) probe-side schema, typed like `queries`. */
  private def probeSchema(queries: DataFrame, idCol: String) =
    queries.select(col(idCol).as("qid"), col("v").as("qv"),
      col("nrm").as("qn")).schema

  /** Persist centroid assignments as a catalog table bucketed by
    * centroid id — the 100 TB serving shape: probes become scans of one
    * bucket with no shuffle on the corpus side. Stamps the vector width
    * ([[BucketedStore.DimProp]]); the codebook fingerprint is stamped
    * by the first [[appendToIvfIndex]] (it receives the centroids; this
    * build sees only the assignment). */
  def buildIvfIndex(assigned: DataFrame, table: String, buckets: Int = 32): Unit =
    BucketedStore.rebuild(assigned, table, "cid", buckets,
      widthOf = Some("v"))

  /** Probe a persisted IVF index for one query vector set drawn FROM
    * the index (query-by-id: `queryIds` selects index rows). External
    * vectors — the serving path — go through
    * [[probeIvfIndexExternal]]. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      queryIds: Column, idCol: String, k: Int): DataFrame = {
    BucketedStore.open(spark, table, "probeIvfIndex", Some("cid"))
    // tombstoned rows are absent — as candidates AND as by-id queries
    knnIvf(BucketedStore.liveRows(spark, table, spark.table(table), idCol),
      queryIds, idCol, k)
  }

  /** Probe a persisted IVF index with EXTERNAL query vectors — the
    * serving path: the queries are not (or need not be) in the index.
    * `queries` is any [[withNorm]] projection keyed by `idCol`; each
    * query is assigned to its max-cosine centroid against the SAME
    * fixed codebook the index was built with (pass a different one and
    * the probe silently scans the wrong buckets — the codebook is part
    * of the index's identity, exactly like [[appendToIvfIndex]]), then
    * ranked against that bucket's members only. `probes` > 1 scans each
    * query's that-many highest-cosine buckets instead — the
    * [[knnIvfMultiProbe]] recall lever served externally (e16): the
    * probe side grows to Q × probes rows and the pruned scan to the
    * union of probed buckets, both still configuration-bounded.
    *
    * Scale shape: one serving batch costs one bounded collect of the
    * queries plus one pinned ranking job chain. The codebook comes from
    * the serving-identity cache, each query's buckets are chosen on the
    * driver ([[probeCidBuckets]]), the probe side enters the plan as a
    * local relation, and the index scan BUCKET-PRUNES to the probed cid
    * literals — probe cost is proportional to the PROBED buckets, never
    * the index (pinned by [[BucketedStore.pinBucketedScan]]). The ≤ Q×k
    * verdict rows come back as a local frame, so derived plans never
    * re-read the index. An index row whose id equals a query id is
    * excluded from that query's candidates (the knnIvf self-exclusion
    * contract — it makes re-sending a known-corpus vector return its
    * true neighbors, not itself); keep external id spaces disjoint from
    * the corpus's. */
  def probeIvfIndexExternal(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, centroids: DataFrame,
      idCol: String, k: Int, maxQueries: Int = 1 << 20,
      probes: Int = 1): DataFrame = {
    require(probes >= 1, s"probeIvfIndexExternal: probes must be >= 1, got $probes")
    DriverBounded.labeled(spark, s"probeIvfIndexExternal:$table") {
    val layout = BucketedStore.open(spark, table, "probeIvfIndexExternal",
      Some("cid"))
    // the serving batch becomes a local probe relation of Q x probes
    // rows and its cid set pruning literals — both bounded by
    // contract, so an oversized batch fails with direction; the
    // enforced bound scales with nprobe
    val maxQueriesAtProbes = math.max(1, maxQueries / probes)
    // loud dim guards: width off the catalog stamp (no job) when
    // present, one null-safe row otherwise; an EMPTY unstamped index
    // has no width to validate against and refuses rather than
    // returning silently-empty verdicts for any query width
    val idxDim = BucketedStore.storedDim(spark, table, "v")
    require(idxDim > 0,
      s"probeIvfIndexExternal: $table is empty and carries no " +
        s"${BucketedStore.DimProp} property — no index width to validate " +
        "serving queries against; build or append before probing")
    // the codebook's width must be the index's too: a query matching
    // the INDEX width but not the CENTROIDS' could not be assigned and
    // would return no rows with no error
    val cb = requireCodebook(spark, table, centroids, idCol,
      "probeIvfIndexExternal", idxDim, writer = false)
    val batch = servingBatch(queries, idCol, maxQueriesAtProbes, idxDim,
      s"probeIvfIndexExternal: more than $maxQueriesAtProbes external " +
        s"queries in one probe at probes=$probes (the probe side " +
        "is a local relation and its centroid set becomes planning-time " +
        "literals); split the serving batch or " +
        "raise maxQueries deliberately",
      s"probeIvfIndexExternal: an external query's vector width " +
        s"differs from the index's ($idxDim) — its similarities would " +
        "all be null and the returned neighbors meaningless; encode " +
        "serving queries with the index's embedding dimension")
    probeCidBuckets(spark, table, layout, queries, idCol, cb, batch, probes,
      k, "probeIvfIndexExternal")(knnProbe(_, _, idCol, k))
    }
  }

  /** The IVF/PQ external probes' shared tail. Each collected query's
    * `probes` highest-cosine buckets are chosen on the driver against
    * the collected codebook — the `graft_argmax_cos` kernel, ranked by
    * its (cosine DESC, cid ASC) order, so P = 1 is exactly the
    * assignToCentroids argmax; a query the kernel cannot score (a null
    * element) is dropped, as the assignment drops it. The resulting
    * (qid, qcid, qv, qn) rows enter the plan as a local relation, their
    * cid set as pruning literals, and `rank(candidates, probeSide)`
    * runs over the live rows of the probed buckets only — tombstones
    * excluded ABOVE the pruned scan, BEFORE ranking, so next-best
    * candidates refill the top-k. The pruned scan runs as at most one
    * task per core, each holding whole buckets
    * ([[BucketedStore.coalesceToCores]]), not one task per bucket of the
    * table. The ranking is pinned to bucket-prune, its ≤ Q×k rows
    * collected, and returned as a local frame
    * ([[BucketedStore.collectPinned]]). */
  private def probeCidBuckets(spark: org.apache.spark.sql.SparkSession,
      table: String, layout: BucketedStore.Layout, queries: DataFrame,
      idCol: String, cb: Codebook,
      batch: Array[org.apache.spark.sql.Row], probes: Int, k: Int,
      context: String)(
      rank: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.StructType
    import graft.functions.ArgMaxCosFloat
    val probeRows = batch.toSeq.flatMap { r =>
      val cs =
        if (r.isNullAt(2)) null
        else ArgMaxCosFloat.cosines(
          new GenericArrayData(r.getSeq[Any](1).toArray), r.getDouble(2),
          cb.vecs, cb.norms)
      if (cs == null) Nil
      else ArgMaxCosFloat.ranked(cs).take(probes).toSeq
        .map(ci => Row(r.get(0), cb.ids(ci), r.get(1), r.get(2)))
    }
    val probeSide = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*),
      StructType(probeSchema(queries, idCol).fields
        .patch(1, Seq(cb.idField.copy(name = "qcid")), 0)))
    val cids = probeRows.map(_.get(1)).distinct
    val ranked = rank(BucketedStore.liveRows(spark, table,
      BucketedStore.coalesceToCores(
        spark.table(table).filter(col("cid").isin(cids: _*)), layout),
      idCol), probeSide)
    BucketedStore.collectPinned(spark, ranked, table, context,
      if (probeRows.isEmpty) 0 else batch.length.toLong * k,
      "more verdict rows than queries x k")
  }

  /** Incrementally extend a persisted [[buildIvfIndex]] table with
    * new vectors — the streaming half of index maintenance (wire a
    * readStream through `CdcStream.foreachBatchLoader(s)(b =>
    * appendToIvfIndex(b, …))`). Each batch (a [[withNorm]] projection)
    * is assigned against the index's FIXED centroid codebook — the
    * geometry never drifts mid-stream; retraining is a batch
    * [[buildIvfIndex]] rebuild — and appended at (cid, id) grain by
    * [[appendVectors]]: zero-shuffle argmax assignment, then
    * bucket-pruned point-lookup idempotence, O(batch) at any index
    * size. `buckets` must equal the table's bucket count (the write
    * reads the layout from the catalog; a different count fails here,
    * before anything is written). */
  def appendToIvfIndex(batch: DataFrame, table: String,
      centroids: DataFrame, idCol: String, buckets: Int = 32,
      maxBatchIds: Int = 1 << 20): Unit =
    appendVectors(batch, table, idCol, "cid", "appendToIvfIndex",
        maxBatchIds) { layout =>
      val spark = batch.sparkSession
      require(buckets == layout.buckets,
        s"appendToIvfIndex: buckets = $buckets, but $table has " +
          s"${layout.buckets} buckets — appends keep the table's own " +
          "layout; pass the count the index was built with")
      // codebook identity (the first append stamps it) and width: a
      // narrower codebook would admit narrower batch vectors into a
      // wider index, poisoning every later probe's similarities
      val cb = requireCodebook(spark, table, centroids, idCol,
        "appendToIvfIndex", BucketedStore.storedDim(spark, table, "v"),
        writer = true)
      (cb.dim, assignWith(_, cb, idCol))
    }

  /** The one body of every vector append ([[appendToIvfIndex]],
    * [[appendToPqIndex]], [[appendToVectorStore]]): open the table
    * (bucketed by `key`), let the family `prepare` its checks against
    * the layout — returning the table's vector width (0: an empty store
    * stamped with none) and its projection — then one row per id (an
    * at-least-once source can redeliver inside a single micro-batch,
    * and the table anti-join cannot see rows that are not in the table
    * yet; multiple VERSIONS of an id resolve latest-wins upstream),
    * projected, keeping `v`, `nrm` and every row, and persisted. The
    * vector guard rides the (key, id) collect: a vector that is null,
    * not `dim` wide, or holds a null element (one `graft_argmax_cos`
    * cannot score) refuses the whole batch before anything is
    * written, where the assignment would drop it and a probe null its
    * similarities. The table's own columns are then appended at
    * (key, id) grain ([[BucketedStore.append]]). */
  private def appendVectors(batch: DataFrame, table: String, idCol: String,
      key: String, context: String, maxBatchIds: Int)(
      prepare: BucketedStore.Layout => (Int, DataFrame => DataFrame))
      : Unit = {
    import org.apache.spark.sql.Row
    val spark = batch.sparkSession
    val layout = BucketedStore.open(spark, table, context, Some(key))
    val (dim, project) = prepare(layout)
    val grain = Seq(key, idCol).distinct
    val usable = coalesce(col("nrm").isNotNull &&
      !exists(col("v"), _.isNull) && (size(col("v")) === dim || dim == 0),
      lit(false))
    val p = project(batch.dropDuplicates(Seq(idCol))).persist()
    try {
      val keyRows = DriverBounded.collectCapped(
        p.select(grain.map(col) :+ usable: _*), maxBatchIds,
        s"$context: micro-batch exceeds maxBatchIds $maxBatchIds (the " +
          "batch's keys become planning-time point-lookup literals); " +
          "split the batch or raise the bound deliberately")
      require(keyRows.forall(r => r.getBoolean(r.length - 1)),
        s"$context: a batch vector's width differs from the index's " +
          s"($dim), or it is null or holds a null element — it would " +
          "null every similarity, bucket and code it enters; encode the " +
          "batch with the index's embedding dimension")
      BucketedStore.append(spark, table, layout, grain,
        p.select(spark.table(table).columns.map(col).toIndexedSeq: _*),
        keyRows.map(r => Row(r.toSeq.init: _*)).toSeq, context)
    } finally { p.unpersist(blocking = false); () }
  }

  /** Fold a [[buildIvfIndex]] table back to one file per bucket,
    * applying pending deletes ([[BucketedStore.compact]]). Run it
    * between deliveries (the w07 gate does, mid-stream). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    BucketedStore.compact(spark, table, "compactIvfIndex", Some("cid"))

  /** IVF-style ANN: probe only the query vector's centroid bucket. */
  /** Matryoshka-style two-stage ANN (the published MRL retrieval
    * pattern): shortlist by cosine over the FIRST `prefixDims`
    * dimensions — MRL-trained embeddings front-load information, so a
    * 16-of-64 prefix preserves most of the ordering at a quarter of
    * the dot-product cost — then exact full-dimension rerank of each
    * query's `shortlist` best. The structural sibling of
    * [[knnIvfPq]]'s shortlist→refine, with dimension truncation
    * instead of product quantization as the cheap stage.
    *
    * Plan shape: one corpus × broadcast-query join, one per-query
    * shortlist window, and the rerank window REUSES the shortlist's
    * qid partitioning — no second corpus exchange. At production
    * scale the truncated vectors live as their own narrow column so
    * the stage-1 scan reads prefixDims floats per row, not the full
    * vector — that is [[knnMatryoshkaIndexed]] over a
    * [[buildVectorStore]] layout with persisted prefix columns; here
    * the slice rides the same frame, which keeps the ad-hoc plan one
    * scan without changing the shape. */
  def knnMatryoshka(base: DataFrame, queryIds: Column, idCol: String,
      k: Int, prefixDims: Int, shortlist: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) or the rerank truncates")
    val b = base
      .withColumn("vt", slice(col("v"), 1, prefixDims))
      .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
    val q = b.filter(queryIds).select(col(idCol).as("qid"),
      col("v").as("qv"), col("nrm").as("qn"),
      col("vt").as("qvt"), col("nt").as("qnt"))
    val wS = Window.partitionBy("qid").orderBy(col("tsim").desc, col(idCol).asc)
    val wK = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol).asc)
    b.join(broadcast(q), col(idCol) =!= col("qid"))
      .withColumn("tsim", dot(col("vt"), col("qvt")) / (col("nt") * col("qnt")))
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("neighbor_id"), col("rank"))
  }

  def knnIvf(assigned: DataFrame, queryIds: Column, idCol: String, k: Int): DataFrame = {
    val q = assigned.filter(queryIds)
      .select(col(idCol).as("qid"), col("cid").as("qcid"),
        col("v").as("qv"), col("nrm").as("qn"))
    knnProbe(assigned, q, idCol, k)
  }

  /** Shared probe tail: rank every (query bucket-probe × bucket member)
    * candidate, keep top-k per query. `probes` columns: (qid, qcid, qv,
    * qn) — one row per bucket a query wants scanned; a corpus vector
    * lives in exactly one bucket, so multi-probe never duplicates a
    * candidate. The probe side is Q×P rows — broadcast at any corpus
    * size. */
  private def knnProbe(assigned: DataFrame, probes: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol).asc)
    assigned.join(broadcast(probes), col("cid") === col("qcid") && col(idCol) =!= col("qid"))
      .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("neighbor_id"), col("rank"))
  }

  /** Hamming-distance<=1 probe set of a sign-LSH bucket id: the bucket
    * itself plus each single-bit flip (nPlanes+1 buckets). Fixes the
    * boundary-recall gap of single-probe LSH — a query whose own bucket
    * holds fewer than k candidates still fills its top-k from adjacent
    * buckets. */
  def lshProbeBuckets(cid: Column, nPlanes: Int): Column =
    array((cid +: (0 until nPlanes).map { i =>
      val bit = substring(cid, i + 1, 1)
      concat(substring(cid, 1, i),
        when(bit === "1", lit("0")).otherwise(lit("1")),
        substring(cid, i + 2, nPlanes - i - 1))
    }): _*)

  /** Multi-probe ANN over sign-LSH buckets: each query scans its own
    * bucket plus every Hamming-1 neighbor bucket. */
  def knnLshMultiProbe(bucketed: DataFrame, queryIds: Column, idCol: String,
      k: Int, nPlanes: Int): DataFrame = {
    val q = bucketed.filter(queryIds)
      .select(col(idCol).as("qid"),
        explode(lshProbeBuckets(col("cid"), nPlanes)).as("qcid"),
        col("v").as("qv"), col("nrm").as("qn"))
    knnProbe(bucketed, q, idCol, k)
  }

  /** Product-quantization codebooks: M subspaces, codewords taken from
    * a deterministic sample of the corpus (collected sorted by id — the
    * sample is configuration-sized, codewords × dims floats, never the
    * corpus). `maxCodewords` caps K with a deterministic id-ordered
    * limit (a TakeOrderedAndProject, not a full sort), so a sample
    * predicate that happens to be corpus-proportional still yields a
    * fixed-size codebook — K multiplies both the collect and the
    * O(N·K·dim) encode, so it must be configuration, not data. No
    * k-means: sampled codebooks trade quantization error for a
    * train-free, fully deterministic build; the encode/ADC machinery is
    * unchanged if a trained codebook is substituted. */
  def pqTrainSampled(sample: DataFrame, idCol: String, m: Int,
      maxCodewords: Int = 256): Seq[Seq[Array[Float]]] = {
    require(maxCodewords > 0, s"maxCodewords must be positive, got $maxCodewords")
    val vecs = DriverBounded.takeFirst(
        sample.select(col(idCol), col("v")).orderBy(col(idCol)), maxCodewords)
      .map(_.getSeq[Float](1).toArray)
    require(vecs.nonEmpty, "PQ sample is empty")
    assert(vecs.length <= maxCodewords)
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    (0 until m).map(mi => vecs.toSeq.map(_.slice(mi * sub, mi * sub + sub)))
  }

  /** PQ encode: per subspace the 0-based index of the squared-L2
    * nearest codeword (ties: lowest index). The |v|² term is constant
    * per subspace, so the argmin scores are `|c|² − 2·v·c` with |c|²
    * a driver-side constant. Output: (idCol, v, pq_code: array<int>) —
    * at corpus scale only (id, pq_code) needs persisting: M bytes-ish
    * per vector instead of dim floats. */
  def pqEncode(base: DataFrame, idCol: String, codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val sub = codebooks.head.head.length
    // graft_pq_argmin (one looped codegen node per subspace) instead of
    // an unrolled K-codeword struct array: the unrolled tree falls out
    // of whole-stage codegen past ~100 codewords (Janino method limits)
    val codeCols = codebooks.zipWithIndex.map { case (cws, mi) =>
      call_function("graft_pq_argmin",
        slice(col("v"), mi * sub + 1, sub),
        typedlit(cws.map(_.toSeq)))
    }
    // withColumn: blocking keys (e.g. an IVF `cid`) ride along untouched
    base.withColumn("pq_code", array(codeCols: _*))
  }

  /** Query-side ADC table: qtab[m][k] = q_sub[m]·codeword[m][k] — one
    * looped graft_pq_table node (the unrolled M×K dot tree breaks
    * codegen past ~100 codewords, see PqQueryTableFloat). */
  private def pqQueryTable(qv: Column, codebooks: Seq[Seq[Array[Float]]]): Column =
    call_function("graft_pq_table", qv, typedlit(codebooks.map(_.map(_.toSeq))))

  /** Approximate q·x from the broadcast table and a row's codes. */
  private def pqApproxSim(m: Int): Column =
    (0 until m).map(mi =>
        element_at(element_at(col("qtab"), mi + 1),
          element_at(col("pq_code"), mi + 1) + 1))
      .reduce(_ + _)

  /** PQ ADC top-k: approximate q·x = Σ_m qtab[m][code[m]] where
    * qtab[m][k] = q_sub[m]·codeword[m][k] — the query-side table is
    * Q×M×K doubles computed once and broadcast; the corpus side reads
    * only the M-byte codes. Ranks carry the total (sim DESC, id ASC)
    * tiebreak like every other kNN here. */
  /** Shared ADC rank tail for the PQ variants. */
  private def pqRank(encoded: DataFrame, q: DataFrame, idCol: String,
      m: Int, k: Int, joinCond: Column): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("approx_sim").desc, col(idCol).asc)
    encoded.join(broadcast(q), joinCond && col(idCol) =!= col("qid"))
      .withColumn("approx_sim", pqApproxSim(m))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol).as("neighbor_id"), col("rank"))
  }

  def knnPq(encoded: DataFrame, queries: DataFrame, idCol: String,
      codebooks: Seq[Seq[Array[Float]]], k: Int): DataFrame =
    pqRank(encoded,
      queries.select(col(idCol).as("qid"),
        pqQueryTable(col("v"), codebooks).as("qtab")),
      idCol, codebooks.size, k, lit(true))

  /** IVF-PQ: probe only the query's centroid bucket AND rank by ADC
    * codes — the two scale levers composed: the probe cuts candidates
    * by the centroid count, the codes cut bytes-per-candidate to M
    * ints. `encodedAssigned` = pqEncode over an assignToCentroids
    * frame (pqEncode keeps `cid`); queries must carry their `cid`. */
  def knnIvfPq(encodedAssigned: DataFrame, queries: DataFrame, idCol: String,
      codebooks: Seq[Seq[Array[Float]]], k: Int): DataFrame =
    pqRank(encodedAssigned,
      queries.select(col(idCol).as("qid"), col("cid").as("qcid"),
        pqQueryTable(col("v"), codebooks).as("qtab")),
      idCol, codebooks.size, k, col("cid") === col("qcid"))

  /** Persist a [[withNorm]] projection as a catalog table bucketed and
    * sorted by id — the point-lookup layout for two-stage retrieval:
    * an In(id) probe from a shortlist prunes to the matching buckets at
    * planning time (SelectedBucketsCount in the scan) and never
    * shuffles or fully scans the store. Counterpart of
    * [[buildIvfIndex]] for the full-vector side. Stamps the full width
    * and the prefix width (a build parameter — no job), so
    * probeVectorStoreExternal's guards are catalog reads per call. */
  def buildVectorStore(base: DataFrame, idCol: String, table: String,
      buckets: Int = 32, prefixDims: Int = 0): Unit = {
    // Matryoshka serving layout: the first prefixDims dims and their
    // norm persist as their OWN narrow columns, so a prefix-shortlist
    // scan reads prefixDims floats per row off parquet (column
    // pruning) instead of the full vector — the at-scale shape the
    // knnMatryoshka scaladoc describes, now on disk
    val projected = if (prefixDims > 0) {
      graft.functions.GraftFunctions.register(base.sparkSession)
      base.withColumn("vt", slice(col("v"), 1, prefixDims))
        .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
    } else base
    // sorted within buckets, so In(id) point lookups prune to single
    // files
    BucketedStore.rebuild(projected, table, idCol, buckets,
      sortCols = Seq(idCol),
      stamps = if (prefixDims > 0) Map(PrefixDimsProp -> prefixDims.toString)
        else Map.empty,
      widthOf = Some("v"))
  }

  /** Incrementally extend a persisted [[buildVectorStore]] table with
    * new vectors — the store's streaming half (wire a readStream
    * through `CdcStream.foreachBatchLoader(s)(b =>
    * appendToVectorStore(…))`). Each batch (a [[withNorm]] projection
    * keyed by `idCol`) recomputes the store's persisted prefix columns
    * at the STORE's own stamped width — read from the catalog
    * ([[PrefixDimsProp]]), so a batch can never mis-slice against a
    * store built with a different `prefixDims` — and is appended at id
    * grain by [[appendVectors]] (bucket-pruned point-lookup
    * idempotence, O(batch) per delivery at any store size). Batch
    * vectors must match the store's stamped width: a mismatched row
    * would null every similarity it later appears in, so the append
    * refuses loudly before writing. */
  def appendToVectorStore(batch: DataFrame, table: String, idCol: String,
      maxBatchIds: Int = 1 << 20): Unit =
    appendVectors(batch, table, idCol, idCol, "appendToVectorStore",
        maxBatchIds) { _ =>
      val spark = batch.sparkSession
      graft.functions.GraftFunctions.register(spark)
      val tableCols = spark.table(table).columns
      val prefixDims =
        if (tableCols.contains("vt"))
          BucketedStore.storedDim(spark, table, "vt", PrefixDimsProp)
        else 0
      require(prefixDims > 0 || !tableCols.contains("vt"),
        s"appendToVectorStore: $table has prefix columns but no " +
          s"readable prefix width (empty store without a $PrefixDimsProp " +
          "stamp) — rebuild with buildVectorStore to stamp it")
      (BucketedStore.storedDim(spark, table, "v"), deduped =>
        if (prefixDims > 0)
          deduped.withColumn("vt", slice(col("v"), 1, prefixDims))
            .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
        else deduped)
    }

  /** Fold a [[buildVectorStore]] table back to one sorted file per
    * bucket, applying pending deletes ([[BucketedStore.compact]] keeps
    * the sort spec and the serving stamps). Run it between deliveries
    * (the w15 gate does). */
  def compactVectorStore(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String): Unit =
    BucketedStore.compact(spark, table, "compactVectorStore", Some(idCol))

  /** [[knnMatryoshkaIndexed]]'s stage 1 as a frame, factored so the
    * plan pin can assert the store scan reads (id, vt, nt) ONLY —
    * the persisted-prefix layout's whole point. */
  private[operators] def matryoshkaShortlistFrame(store: DataFrame,
      q: DataFrame, idCol: String, shortlist: Int): DataFrame = {
    val narrow = store.select(col(idCol), col("vt"), col("nt"))
    val wS = Window.partitionBy("qid").orderBy(col("tsim").desc, col(idCol).asc)
    narrow.join(broadcast(q.select("qid", "qvt", "qnt")),
        col(idCol) =!= col("qid"))
      .withColumn("tsim", dot(col("vt"), col("qvt")) / (col("nt") * col("qnt")))
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .select(col("qid"), col(idCol).as("neighbor_id"))
  }

  /** Two-stage Matryoshka retrieval against a [[buildVectorStore]]
    * table built with `prefixDims`: the shortlist stage scans ONLY the
    * persisted (id, vt, nt) columns — prefixDims floats per row, the
    * column pruning [[knnMatryoshka]]'s same-frame slice cannot give —
    * and the exact full-dimension rerank re-fetches the shortlist's
    * full vectors as In(id) point lookups that bucket-prune at
    * planning time (the [[knnPqRefineIndexed]] serving shape, with
    * dimension truncation instead of PQ as the cheap stage). Results
    * are row-identical to [[knnMatryoshka]] on the same frame: same
    * prefix-cosine shortlist, same tiebreaks, same exact rerank.
    *
    * The Q×shortlist driver hop is the serving contract (candidate
    * ids must become planning-time literals) and is BOUNDED by
    * `maxCandidates`, failing fast past it. */
  def knnMatryoshkaIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, queryIds: Column, idCol: String, k: Int,
      shortlist: Int, maxCandidates: Int = 1 << 20): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) or the rerank truncates")
    graft.functions.GraftFunctions.register(spark)
    // tombstoned rows are absent — as shortlist candidates AND as
    // by-id queries (excluded before ranking, so live next-best
    // candidates refill the shortlist)
    BucketedStore.open(spark, table, "knnMatryoshkaIndexed", Some(idCol))
    val store = BucketedStore.liveRows(spark, table, spark.table(table), idCol)
    require(store.columns.contains("vt") && store.columns.contains("nt"),
      s"knnMatryoshkaIndexed: $table has no persisted prefix columns — " +
        "build the store with buildVectorStore(..., prefixDims = d)")
    val maxQueries = maxCandidates / shortlist
    require(maxQueries > 0,
      s"knnMatryoshkaIndexed: shortlist $shortlist exceeds maxCandidates " +
        s"$maxCandidates — even one query would overflow the candidate " +
        "bound (a driver-side collect + In-literal predicate); raise " +
        "maxCandidates deliberately or use knnMatryoshka for large shortlists")
    val q = store.filter(queryIds).select(col(idCol).as("qid"),
      col("v").as("qv"), col("nrm").as("qn"),
      col("vt").as("qvt"), col("nt").as("qnt"))
    require(!DriverBounded.exceeds(q, maxQueries),
      s"knnMatryoshkaIndexed: more than $maxQueries queries x $shortlist " +
        s"shortlist exceeds maxCandidates $maxCandidates (a driver-side " +
        "collect + In-literal predicate); raise maxCandidates deliberately " +
        "or use the lazy knnMatryoshka for large batches")
    rerankShortlist(spark, store,
      matryoshkaShortlistFrame(store, q, idCol, shortlist), q, idCol, k,
      maxCandidates, "knnMatryoshkaIndexed")
  }

  /** The shared stage 2 of [[knnMatryoshkaIndexed]],
    * [[probeVectorStoreExternal]] and [[knnPqRefineIndexed]]: the
    * (qid, neighbor_id) shortlist `cands` hops to the driver (bounded,
    * the serving contract), its ids re-enter as In(id) point lookups
    * that bucket-prune the store at planning time, and the full
    * vectors rerank exactly against `q` (qid, qv, qn). */
  private def rerankShortlist(
      spark: org.apache.spark.sql.SparkSession, store: DataFrame,
      cands: DataFrame, q: DataFrame, idCol: String, k: Int,
      maxCandidates: Int, context: String): DataFrame = {
    val candRows = DriverBounded.collectCapped(cands, maxCandidates,
      s"$context: candidate pairs exceed maxCandidates $maxCandidates")
    val ids = candRows.map(_.get(1)).distinct.toSeq
    val candsDf = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), cands.schema)
    val fetched = store.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("neighbor_id"), col("v").as("bv"), col("nrm").as("bn"))
    val wK = Window.partitionBy("qid").orderBy(col("xsim").desc, col("neighbor_id").asc)
    fetched.join(broadcast(candsDf), "neighbor_id")
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), "qid")
      .withColumn("xsim", dot(col("bv"), col("qv")) / (col("bn") * col("qn")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"))
  }

  /** Two-stage Matryoshka retrieval with EXTERNAL query vectors — the
    * serving path for a [[buildVectorStore]] table with persisted
    * prefix columns: the queries (any [[withNorm]] projection keyed by
    * `idCol` — a query encoder's output, not store rows) are sliced to
    * the STORE's own prefix width at probe time, prefix-cosine
    * shortlisted against the narrow (id, vt, nt) scan, and exactly
    * reranked over bucket-pruned In(id) point lookups — identical
    * plan shape and bounds to [[knnMatryoshkaIndexed]], with the
    * query side arriving from outside. The prefix width is read from
    * the store itself (one limit(1) row), so a store built with a
    * different `prefixDims` cannot silently mis-slice the queries. A
    * store row whose id equals a query id is excluded from that
    * query's candidates (the shortlist's self-exclusion contract);
    * keep external id spaces disjoint from the store's. */
  def probeVectorStoreExternal(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, k: Int,
      shortlist: Int, maxCandidates: Int = 1 << 20): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) or the rerank truncates")
    graft.functions.GraftFunctions.register(spark)
    // pending deletes excluded before the shortlist ranks (liveRows) —
    // a deleted row can neither surface nor occupy a shortlist slot
    BucketedStore.open(spark, table, "probeVectorStoreExternal", Some(idCol))
    val store = BucketedStore.liveRows(spark, table, spark.table(table), idCol)
    require(store.columns.contains("vt") && store.columns.contains("nt"),
      s"probeVectorStoreExternal: $table has no persisted prefix " +
        "columns — build the store with buildVectorStore(..., " +
        "prefixDims = d)")
    // prefix and full widths off the catalog stamps (no job) when
    // present — the serving fast path; one null-safe row otherwise
    // (a store built before the properties existed)
    val prefixDims = BucketedStore.storedDim(spark, table, "vt",
      PrefixDimsProp)
    require(prefixDims > 0,
      s"probeVectorStoreExternal: $table is empty and carries no " +
        s"$PrefixDimsProp property — no prefix width to slice external " +
        "queries to")
    val storeDim = BucketedStore.storedDim(spark, table, "v")
    require(storeDim > 0,
      s"probeVectorStoreExternal: $table is empty and carries no " +
        s"${BucketedStore.DimProp} property — no store width to validate " +
        "serving queries against")
    val maxQueries = maxCandidates / shortlist
    require(maxQueries > 0,
      s"probeVectorStoreExternal: shortlist $shortlist exceeds " +
        s"maxCandidates $maxCandidates — even one query would overflow " +
        "the candidate bound; raise maxCandidates deliberately")
    // one bounded collect enforcing the batch bound AND the width
    // guard: graft_dot yields NULL on mismatched lengths (the
    // engine-wide zip_with convention — benign for a few bad CORPUS
    // rows, which sink below every real similarity), but an external
    // query of the wrong width would null EVERY candidate's similarity
    // and silently return arbitrary "neighbors" ranked by tiebreak
    val batch = servingBatch(queries, idCol, maxQueries, storeDim,
      s"probeVectorStoreExternal: more than $maxQueries queries x " +
        s"$shortlist shortlist exceeds maxCandidates $maxCandidates; " +
        "raise maxCandidates deliberately or split the serving batch",
      s"probeVectorStoreExternal: an external query's vector width " +
        s"differs from the store's ($storeDim) — its similarities " +
        "would all be null and the returned neighbors meaningless; " +
        "encode serving queries with the store's embedding dimension")
    // the collected batch is the local probe side of both stages
    val q = spark.createDataFrame(java.util.Arrays.asList(batch: _*),
        probeSchema(queries, idCol))
      .withColumn("qvt", slice(col("qv"), 1, prefixDims))
      .withColumn("qnt", sqrt(dot(col("qvt"), col("qvt"))))
    rerankShortlist(spark, store,
      matryoshkaShortlistFrame(store, q, idCol, shortlist), q, idCol, k,
      maxCandidates, "probeVectorStoreExternal")
  }

  /** Two-stage retrieval against a persisted [[buildVectorStore]]
    * table: PQ ADC shortlist → exact cosine re-rank over point lookups.
    * Stage 1 scans only the M-int codes and materializes the
    * Q×shortlist (qid, neighbor) pairs — query-sized by contract, so
    * the driver hop is the serving shape, not a corpus collect. The
    * candidate ids then re-enter the plan as an In(id) predicate, so
    * the stage-2 store scan bucket-prunes at planning time and pushes
    * the id filter to parquet: full vectors are read for the shortlist
    * only, the store is never shuffled, and the only hash exchange is
    * the per-query top-k window. This is the shape [[knnPqRefine]]
    * cannot reach lazily (its stage-2 equi-join must scan the store).
    *
    * The Q×shortlist driver hop is the serving contract (candidate ids
    * must become planning-time literals for bucket pruning), so it is
    * BOUNDED: at most `maxCandidates` (qid, neighbor) pairs may
    * materialize — a large batch of queries must fail fast here with a
    * clear message, not OOM the driver mid-collect or plan a
    * million-literal In(). Batches beyond the bound belong on
    * [[knnPqRefine]], whose lazy stage-2 join scans the store instead. */
  def knnPqRefineIndexed(vecTable: String, encoded: DataFrame,
      queries: DataFrame, idCol: String, codebooks: Seq[Seq[Array[Float]]],
      shortlist: Int, k: Int, maxCandidates: Int = 1 << 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    // bounded probe, not a full count: scanning one row past the
    // query-count cap proves the violation at O(cap) cost, so rejecting
    // a billion-row query frame does not first require scanning it
    val maxQueries = maxCandidates / shortlist
    require(maxQueries > 0,
      s"knnPqRefineIndexed: shortlist $shortlist exceeds maxCandidates " +
        s"$maxCandidates — even one query would overflow the candidate " +
        "bound (a driver-side collect + In-literal predicate); raise " +
        "maxCandidates deliberately or use knnPqRefine for large shortlists")
    require(!DriverBounded.exceeds(queries, maxQueries),
      s"knnPqRefineIndexed: more than $maxQueries queries x $shortlist " +
        s"shortlist exceeds maxCandidates $maxCandidates (a driver-side " +
        "collect + In-literal predicate); raise maxCandidates deliberately " +
        "or use knnPqRefine for large batches")
    val spark = encoded.sparkSession
    BucketedStore.open(spark, vecTable, "knnPqRefineIndexed", Some(idCol))
    // the store's pending deletes excluded from the ADC shortlist
    // itself (stage 1, before ranking), so live next-best candidates
    // refill the shortlist and stage 2 never fetches a deleted row
    val cands = knnPq(BucketedStore.liveRows(spark, vecTable, encoded, idCol),
        queries, idCol, codebooks, shortlist)
      .select(col("qid"), col("neighbor_id"))
    // the query-count guard above already bounds the hop to
    // maxCandidates; the capped collect re-asserts it
    rerankShortlist(spark, spark.table(vecTable), cands,
      queries.select(col(idCol).as("qid"), col("v").as("qv"),
        col("nrm").as("qn")),
      idCol, k, maxCandidates, "knnPqRefineIndexed")
  }

  /** The side table holding a [[buildPqIndex]] index's PQ codebooks. */
  private[graft] def pqCodebookTable(table: String): String =
    table + "__codebook"

  /** Persist a PQ-encoded, centroid-assigned corpus as the SERVING
    * index pair — the memory-light production ANN layout made
    * persistent (the per-run [[pqEncode]]/[[knnIvfPq]] path rebuilds
    * codebooks and codes on every call): `table` holds (idCol, cid,
    * pq_code) bucketed by cid — M ints per vector instead of dim
    * floats, and probes bucket-prune to the queries' centroid set —
    * and `table__codebook` holds the config-sized PQ codebooks as
    * (m, k, cw) rows, so a serving probe reconstructs the EXACT
    * quantizer from the catalog with the training corpus nowhere in
    * sight. The centroid codebook's fingerprint is stamped as a table
    * property ([[CodebookProp]]) — it is not persisted as data (it
    * arrives with every probe), so the stamp is what makes handing a
    * different one loud. `encodedAssigned` = [[pqEncode]] over an
    * [[assignToCentroids]] frame; `centroids` the codebook it was
    * assigned with. */
  def buildPqIndex(encodedAssigned: DataFrame, idCol: String,
      table: String, codebooks: Seq[Seq[Array[Float]]],
      centroids: DataFrame, buckets: Int = 32): Unit = {
    val spark = encodedAssigned.sparkSession
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "buildPqIndex: empty PQ codebooks")
    val cb = deriveCodebook(centroids, idCol)
    val dim = codebooks.size * codebooks.head.head.length
    require(cb.dim == dim,
      s"buildPqIndex: the centroid codebook's width (${cb.dim}) differs " +
        s"from the PQ codebooks' reconstruction width ($dim) — not the " +
        "geometry this index encodes")
    BucketedStore.dropTableAndLocation(spark, pqCodebookTable(table))
    BucketedStore.rebuild(
      encodedAssigned.select(col(idCol), col("cid"), col("pq_code")),
      table, "cid", buckets,
      stamps = Map(BucketedStore.DimProp -> dim.toString,
        PqMProp -> codebooks.size.toString, CodebookProp -> cb.fingerprint))
    import spark.implicits._
    val cbRows = for {
      (cws, m) <- codebooks.zipWithIndex
      (cw, k) <- cws.zipWithIndex
    } yield (m, k, cw.toSeq)
    cbRows.toDF("m", "k", "cw").coalesce(1).write
      .mode("overwrite").saveAsTable(pqCodebookTable(table))
  }

  /** Reconstruct a [[buildPqIndex]] index's persisted PQ codebooks —
    * the config-sized driver read a serving probe pays per call
    * (M × K rows; cache at the caller for a high-QPS loop). Validates
    * the (m, k) grid is dense and the subspace widths uniform, so a
    * hand-edited codebook table fails loudly instead of mis-decoding
    * every ADC score. */
  private[graft] def loadPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      table: String): Seq[Seq[Array[Float]]] = {
    servingIdentityDerivations.incrementAndGet()
    val cbt = pqCodebookTable(table)
    val rows = DriverBounded.collectCapped(
      spark.table(cbt).select(col("m"), col("k"), col("cw"))
        .orderBy(col("m"), col("k")),
      1 << 20,
      s"loadPqCodebooks: $cbt exceeds 2^20 rows — PQ codebooks are " +
        "configuration-sized (M x K) by the pqTrainSampled contract")
    require(rows.nonEmpty, s"loadPqCodebooks: $cbt is empty — not a " +
      "buildPqIndex product")
    val m = rows.map(_.getInt(0)).max + 1
    val grouped = rows.groupBy(_.getInt(0))
    val cbs = (0 until m).map { mi =>
      val g = grouped.getOrElse(mi, Array.empty[org.apache.spark.sql.Row])
        .sortBy(_.getInt(1))
      require(g.nonEmpty && g.map(_.getInt(1)).toSeq == (0 until g.length),
        s"loadPqCodebooks: $cbt subspace $mi has a sparse codeword " +
          "grid — not a buildPqIndex product")
      g.map(_.getSeq[Float](2).toArray).toSeq
    }
    val widths = cbs.flatMap(_.map(_.length)).distinct
    require(widths.length == 1,
      s"loadPqCodebooks: $cbt carries mixed subspace widths " +
        s"${widths.sorted.mkString(",")}")
    require(cbs.map(_.length).distinct.length == 1,
      s"loadPqCodebooks: $cbt carries mixed codeword counts per subspace")
    cbs
  }

  /** Probe a persisted [[buildPqIndex]] serving index with EXTERNAL
    * query vectors — the e13/e14 serving device applied to the IVF-PQ
    * family: each query is assigned to its max-cosine centroid against
    * the index's fingerprint-verified codebook, its ADC table is
    * computed from the PERSISTED PQ codebooks (the exact quantizer the
    * codes were written with — reconstructed from the catalog, no
    * training corpus involved), and the codes scan BUCKET-PRUNES to
    * the queries' centroid set (SelectedBucketsCount asserted at
    * compile time and on the executed plan; the ≤ Q×k verdicts come
    * back as a local frame — the [[probeIvfIndexExternal]] shape: one
    * bounded query collect plus one pinned ranking job chain).
    * Probe cost ∝ probed buckets × M ints per candidate — both scale
    * levers, served. Approximate by construction (PQ ADC ranking);
    * ranks carry the total (approx_sim DESC, id ASC) tiebreak. An
    * index row whose id equals a query id is excluded (the knnIvfPq
    * self-exclusion contract); keep external id spaces disjoint.
    *
    * `probes` is the nprobe recall lever on this serving path — the
    * [[probeIvfIndexExternal]] multi-probe device applied to the PQ
    * family: each serving query fans out to its `probes`
    * highest-cosine centroid buckets (ranked on the driver against the
    * cached codebook, Q×C cosines, both configuration-bounded), the
    * pruned codes scan widens to the union of probed buckets, and each
    * query's ADC table rides its probe rows (the broadcast grows to
    * Q×P×M×K doubles — size `maxQueries` accordingly). A candidate's
    * codes live in exactly one bucket, so no candidate can pair with a
    * query twice and the rank window needs no dedup. `probes = 1` keeps the max-cosine
    * argmax assignment verbatim (spec-pinned bit-equal); `probes` =
    * codebook size degrades to brute ADC over the whole index. */
  def probePqIndexExternal(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, centroids: DataFrame,
      idCol: String, k: Int, maxQueries: Int = 1 << 20,
      probes: Int = 1): DataFrame = {
    require(probes >= 1,
      s"probePqIndexExternal: probes must be >= 1, got $probes")
    DriverBounded.labeled(spark, s"probePqIndexExternal:$table") {
    val layout = BucketedStore.open(spark, table, "probePqIndexExternal",
      Some("cid"))
    // the broadcast probe frame is Q x probes rows, EACH carrying an
    // M x K-double ADC table — the enforced bound must scale with
    // nprobe or a caller inside maxQueries could still blow the
    // broadcast at high `probes` (enforced together with the width
    // guard in ONE bounded job below)
    val maxQueriesAtProbes = math.max(1, maxQueries / probes)
    // serving-identity reads behind the session cache: the second
    // probe of a session pays neither the codebook-table read nor the
    // centroid collect (spec-pinned)
    val codebooks = cachedPqCodebooks(spark, table)
    val m = codebooks.size
    val dim = m * codebooks.head.head.length
    val cb = requireCodebook(spark, table, centroids, idCol,
      "probePqIndexExternal", dim, writer = false)
    val batch = servingBatch(queries, idCol, maxQueriesAtProbes, dim,
      s"probePqIndexExternal: more than $maxQueriesAtProbes external " +
        s"queries in one probe at probes=$probes (the ADC-table probe " +
        "side broadcasts at Q x probes x M x K doubles and its " +
        "centroid set becomes planning-time literals); " +
        "split the serving batch or raise maxQueries deliberately",
      s"probePqIndexExternal: an external query's vector width differs " +
        s"from the index's ($dim) — its ADC table would be meaningless; " +
        "encode serving queries with the index's embedding dimension")
    probeCidBuckets(spark, table, layout, queries, idCol, cb, batch, probes,
      k, "probePqIndexExternal") { (cands, p) =>
      pqRank(cands, p.select(col("qid"), col("qcid"),
          pqQueryTable(col("qv"), codebooks).as("qtab")),
        idCol, m, k, col("cid") === col("qcid"))
    }
    }
  }

  /** Incrementally extend a persisted [[buildPqIndex]] codes table
    * with new vectors — the PQ family's streaming half. Each batch (a
    * [[withNorm]] projection) is assigned against the index's
    * fingerprint-verified centroid codebook, ENCODED WITH THE
    * PERSISTED PQ CODEBOOKS ([[loadPqCodebooks]] — the quantizer is
    * part of the index's identity and never drifts mid-stream;
    * retraining either codebook is a batch [[buildPqIndex]] rebuild),
    * and appended at (cid, id) grain by [[appendVectors]] —
    * zero-shuffle argmax assignment, narrow codegen'd encode,
    * point-lookup idempotence: O(batch) at any index size. */
  def appendToPqIndex(batch: DataFrame, table: String,
      centroids: DataFrame, idCol: String,
      maxBatchIds: Int = 1 << 20): Unit =
    appendVectors(batch, table, idCol, "cid", "appendToPqIndex",
        maxBatchIds) { _ =>
      val spark = batch.sparkSession
      val codebooks = loadPqCodebooks(spark, table)
      val dim = codebooks.size * codebooks.head.head.length
      val cb = requireCodebook(spark, table, centroids, idCol,
        "appendToPqIndex", dim, writer = true,
        Map(BucketedStore.DimProp -> dim.toString,
          PqMProp -> codebooks.size.toString))
      (dim, b => pqEncode(assignWith(b, cb, idCol), idCol, codebooks))
    }

  /** Fold a [[buildPqIndex]] codes table back to one file per bucket,
    * applying pending deletes ([[BucketedStore.compact]]). The
    * `__codebook` side table never compacts (one file by
    * construction). Run between deliveries (the w16 gate does). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    BucketedStore.compact(spark, table, "compactPqIndex", Some("cid"))

  /** Logically DELETE ids from a persisted vector index — takedowns
    * (copyright, PII, opt-out) without rewriting the index: the ids
    * land in the store's tombstone side table
    * ([[BucketedStore.addTombstones]]); every probe excludes tombstoned
    * rows BEFORE ranking (next-best candidates refill the top-k,
    * deleted rows can never occupy shortlist slots), and the family's
    * compact physically APPLIES the pending deletes and truncates the
    * side table (the Lucene/RocksDB delete shape: mark now, reclaim at
    * merge). Works uniformly on every bucketed family and composes
    * with the band index's supersede tombstones.
    *
    * Contract and bounds: idempotent (re-deleting is a no-op);
    * deleting an id not in the index is allowed (it guards the id
    * against a racing append); a tombstoned id REFUSES to re-append
    * until a compact applies the delete. Pending tombstones broadcast
    * into every probe, so the delete refuses loudly, before writing,
    * past `maxPendingDeletes` — compact to apply and clear. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame, idCol: String,
      maxPendingDeletes: Int = 1 << 20): Unit = {
    BucketedStore.open(spark, table, "deleteFromIndex")
    BucketedStore.addTombstones(spark, table, ids, idCol,
      maxPendingDeletes, "maxPendingDeletes", "deleteFromIndex")
  }

  /** Ids logically deleted from `table` but not yet physically
    * applied — the pending tombstone set, empty if none. */
  def pendingDeletes(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String): DataFrame =
    BucketedStore.pendingDeletes(spark, table, idCol)

  /** Two-stage retrieval: PQ ADC shortlist → exact cosine re-rank — the
    * standard serving shape at corpus scale. Stage 1 scans only the
    * M-int codes and keeps `shortlist` candidates per query; stage 2
    * re-fetches full vectors for those Q×shortlist ids with a lazy
    * equi-join against `base` — which must SCAN the vector store, so
    * this form is for unindexed/ad-hoc corpora only. With a persisted
    * [[buildVectorStore]] layout use [[knnPqRefineIndexed]], whose
    * stage-2 fetch bucket-prunes to point lookups. Recall ≈ brute force
    * whenever the true top-k survives the shortlist. */
  def knnPqRefine(encoded: DataFrame, base: DataFrame, queries: DataFrame,
      idCol: String, codebooks: Seq[Seq[Array[Float]]],
      shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cands = knnPq(encoded, queries, idCol, codebooks, shortlist)
      .select(col("qid"), col("neighbor_id"))
    val b = base.select(col(idCol).as("neighbor_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val q = queries.select(col(idCol).as("qid"),
      col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("xsim").desc, col("neighbor_id").asc)
    cands.join(b, "neighbor_id").join(broadcast(q), "qid")
      .withColumn("xsim", dot(col("bv"), col("qv")) / (col("bn") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"))
  }

  /** Multi-probe IVF ANN: each query scans its `probes` highest-cosine
    * centroid buckets (ties: lowest centroid id) instead of only the
    * nearest one. `centroids` is a withNorm projection keyed by idCol. */
  def knnIvfMultiProbe(assigned: DataFrame, centroids: DataFrame,
      queryIds: Column, idCol: String, k: Int, probes: Int): DataFrame = {
    val cent = centroids.select(col(idCol).as("pcid"),
      col("v").as("cv"), col("nrm").as("cn"))
    val wp = Window.partitionBy("qid").orderBy(col("psim").desc, col("pcid").asc)
    val q = assigned.filter(queryIds)
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(cent))
      .withColumn("psim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= probes)
      .select(col("qid"), col("pcid").as("qcid"), col("qv"), col("qn"))
    knnProbe(assigned, q, idCol, k)
  }
}
