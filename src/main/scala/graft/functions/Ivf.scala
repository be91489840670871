package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the centroid-bucketed
  * scale path for similarity search (complement of the random-hyperplane LSH
  * in q52): k-means centroids partition the corpus into nlist buckets; a
  * query probes only its nprobe nearest buckets, so the scan cost drops from
  * O(corpus) to O(corpus · nprobe / nlist) per query.
  *
  * Everything is DETERMINISTIC by construction (the engine's verification
  * model requires byte-stable outputs):
  *   - centroid init = the nlist lowest-id vectors (no random seeding);
  *   - assignment = argmin of a squared-L2-equivalent score (see
  *     centroidScore), ties broken by centroid id (array_position returns
  *     the FIRST minimum);
  *   - centroid update sums coordinates through DECIMAL(28,14) — decimal
  *     addition is exact and order-independent, so shuffle order cannot
  *     perturb the means by an ulp and flip a boundary assignment.
  *
  * Scale notes: assignment is one broadcast-literal projection over the
  * corpus (codegen'd, no shuffle); the update is one groupBy(cluster) over
  * (cluster, pos, value) triples — shuffle keyed by (cluster, pos), uniform
  * by construction. Centroids (nlist × dim doubles) live on the driver
  * between iterations, exactly like production IVF trainers.
  */
object Ivf {

  /** Centroid-ranking score: c·c − 2·(x·c), the squared-L2 distance with the
    * per-row x·x term dropped. That term is constant across centroids for a
    * given row, so argmin (assignment) and per-row sort order (probe
    * selection) are identical to ranking by ||x − c||² — and the dot product
    * runs through the codegen'd graft_dot expression instead of an
    * interpreted zip_with/aggregate fold (Spark HOFs are CodegenFallback;
    * the fold dominated q86's runtime: 8 centroids × dim per row, boxed).
    *
    * NaN scores (any non-finite element poisons the dot product) coalesce
    * to +Infinity: without this, array_min returns NaN, array_position finds
    * no equal element, and assignment() would yield cluster -1 — train()
    * then crashes and search() silently drops the row from every bucket.
    * Callers must have graft_dot registered (train/search do this). */
  private def centroidScore(e: Column, c: Array[Double]): Column = {
    var cc = 0.0
    var i = 0
    while (i < c.length) { cc += c(i) * c(i); i += 1 }
    val s = lit(cc) - lit(2.0) * call_function("graft_dot", e, typedLit(c.toSeq))
    // s - s is NaN exactly when s is NaN OR ±Infinity: an Inf coordinate
    // makes the dot product ±Inf (not NaN), and a score of -Inf would WIN
    // argmin — the degenerate vector must rank behind every finite score
    // for every centroid, so all non-finite scores coalesce to +Infinity.
    when(isnan(s - s), lit(Double.PositiveInfinity)).otherwise(s)
  }

  /** Cluster id (0-based) of the nearest centroid, first-min tie-break.
    * Zero centroids (train() over an empty slice — routine for a
    * date-partitioned corpus) must still RESOLVE: `array()` of no columns
    * is NullType and fails analysis inside array_position, crashing the
    * whole query before Spark ever sees that no rows flow. A null id is
    * correct for the zero rows that could consume it. */
  def assignment(e: Column, centroids: Array[Array[Double]]): Column =
    if (centroids.isEmpty) lit(null).cast("int")
    else {
      val scores = array(centroids.toIndexedSeq.map(c => centroidScore(e, c)): _*)
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }

  /** train(), memoized per session and (cacheKey, idCol, vecCol, nlist,
    * iters) in [[graft.SessionCache]] — the index-catalog pattern: a
    * production vector store trains its IVF index once and every consumer
    * (ANN search, semantic dedup, cluster analytics) reuses it, rather than
    * re-running k-means per query. Callers pass the source directory as
    * cacheKey; the test datasets are immutable per path, which is the
    * documented cache-coherence contract (a mutable corpus would key on a
    * snapshot/version id instead). Session-scoped like every other memo, so
    * [[graft.SessionCache.invalidateMemoized]] (a bench retry) drops this
    * session's index and no other session's.
    * CALLER CONTRACT: the key does not see the DataFrame itself, so two
    * callers with the same (cacheKey, cols) must prepare vectors
    * IDENTICALLY — a caller that normalizes/truncates differently must use
    * a distinct cacheKey. Training is deterministic, so a cache hit is
    * byte-identical to a retrain. */
  def trainCached(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, cacheKey: String): Array[Array[Double]] =
    graft.SessionCache.getOrBuild(vecs.sparkSession,
      s"ivf-index:${(cacheKey, idCol, vecCol, nlist, iters)}") {
      train(vecs, idCol, vecCol, nlist, iters)
    }

  /** Deterministic k-means: init = nlist lowest-id vectors, `iters` rounds
    * of assign + decimal-exact mean update. vecs: (idCol, vecCol:
    * array<double>). Returns nlist×dim centroids (row i = cluster i).
    *
    * Two execution paths, byte-identical by construction (equivalence
    * pinned in SketchSpec across fixtures, synthetic and randomized
    * inputs): a driver-local fast path for bounded training sets
    * ([[driverTrain]] — optimization-guide §8 "decide with small rows",
    * the dedup cluster relation's pattern) and the distributed loop
    * ([[loopTrain]]) beyond [[graft.DriverCollect]]'s budget or for
    * non-(long, array<double>) schemas. */
  def train(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): Array[Array[Double]] = {
    graft.plans.VectorFunctions.register(vecs.sparkSession)
    // Train only on fully-finite vectors: a NaN/Inf coordinate would (a)
    // poison the decimal mean update (ANSI cast of NaN to decimal throws)
    // and (b) make a useless centroid. Non-finite vectors still get bucketed
    // at search time — dist2 coalesces their NaN distances to +Infinity.
    // isnan(v - v) is true exactly for NaN and ±Infinity.
    val finite = vecs.filter(forall(col(vecCol), v => !isnan(v - v)))
    driverTrain(finite, idCol, vecCol, nlist, iters)
      .getOrElse(loopTrain(finite, idCol, vecCol, nlist, iters))
  }

  /** Compute cap of the driver-local training path, in rows × dim
    * elements: ≤4M exact-decimal mean additions per iteration (~0.5 s of
    * local BigDecimal work worst-case — past that the distributed
    * aggregation is genuinely better anyway). Heap is bounded separately,
    * by [[graft.DriverCollect]]'s budget. */
  private val DriverTrainElemCap = 4000000L

  /** Driver-local replica of [[loopTrain]], byte-identical by construction:
    * every arithmetic step reuses the exact semantics of the distributed
    * plan — grouping keys normalize -0.0 → 0.0 (Spark's
    * NormalizeFloatingNumbers), scores share [[centroidScore]]'s
    * sequential-fold double math (cc and the graft_dot loop), argmin uses
    * java.lang.Double.compare with first-min tie-break (array_min +
    * array_position), and the mean update runs through Spark's own
    * [[org.apache.spark.sql.types.Decimal]] — the same
    * cast-to-(28,14) / exact add / divide-at-scale-39-HALF_UP /
    * changePrecision(38,14) call chain the Cast/Sum/Divide expressions
    * execute, including the ANSI throw on overflow.
    *
    * Why: training is the dominant q86 cost and is ~9 Spark jobs of
    * per-iteration driver planning (init collect + iters × mean-update
    * collect + persist) over a training set that is TINY by design — the
    * centroids themselves must fit on the driver either way, and the
    * assignment plan carries nlist×dim literals, so nlist/dim are bounded
    * by plan size before they are bounded by the collect budget. A
    * min/max(size(vec)) probe (which refuses mixed dimensions) + one
    * [[graft.DriverCollect]] collect replaces all of it; the row cap is
    * sized by the longest vector.
    * Beyond the budget or [[DriverTrainElemCap]] (or for non-long ids /
    * non-array<double> vectors) the distributed loop stands unchanged — at
    * billion-vector scale collecting the training set is exactly wrong. */
  private[graft] def driverTrain(finite: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int): Option[Array[Array[Double]]] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, Decimal}
    val schema = finite.schema
    val okTypes =
      schema.fields.exists(f => f.name == idCol && f.dataType == LongType) &&
        schema.fields.exists(f => f.name == vecCol &&
          (f.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }))
    // The local mean update replicates the ANSI casts (it throws where they
    // throw); with ANSI off the loop's casts yield NULLs that its sums skip
    // instead, so only the loop is faithful there.
    val ansi = finite.sparkSession.sessionState.conf.ansiEnabled
    if (!okTypes || !ansi || nlist <= 0) return None
    val spark = finite.sparkSession
    import spark.implicits._
    // min and max of size(vec) as one RDD fold: one job, where a global
    // agg() adds a shuffle stage (a file scan's partitioning is unknown),
    // i.e. a second job. Empty input folds to (MaxValue, 0) and collects no
    // rows, like the loop.
    val (shortest, longest) = finite.select(size(col(vecCol))).as[Int].rdd
      .map(n => (n, n))
      .fold((Int.MaxValue, 0))((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    requireOneDim(shortest, longest)
    val dim = math.max(longest, 1)
    // A row costs its doubles plus the array and tuple headers.
    val rows = graft.DriverCollect.collect(
      finite.select(col(idCol), col(vecCol)).as[(Long, Array[Double])],
      rowBytes = dim * 8L + 64, computeCap = DriverTrainElemCap / dim)
      .getOrElse(return None)

    // ---- init: distinct vectors (min owning id per NORMALIZED vector,
    // lowest ids first), exactly groupBy(vec).agg(min(id)).orderBy.limit ----
    def normKey(v: Array[Double]): scala.collection.immutable.ArraySeq[Double] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        v.map(x => if (x == 0.0) 0.0 else x)) // -0.0 -> 0.0, like Spark's
                                              // NormalizeFloatingNumbers
    val minId = new scala.collection.mutable.HashMap[scala.collection.immutable.ArraySeq[Double], Long]
    rows.foreach { case (id, v) =>
      val k = normKey(v)
      val cur = minId.getOrElse(k, Long.MaxValue)
      if (id < cur) minId.put(k, id)
    }
    var centroids: Array[Array[Double]] = minId.toSeq.sortBy(_._2)
      .take(nlist).map(_._1.toArray).toArray

    // ---- iterations: local assign (shared score math) + decimal means ----
    def localAssign(e: Array[Double], cents: Array[Array[Double]]): Int = {
      var best = 0
      var bs = 0.0
      var i = 0
      while (i < cents.length) {
        val s = localScore(e, cents(i))
        if (i == 0 || java.lang.Double.compare(s, bs) < 0) { best = i; bs = s }
        i += 1
      }
      best
    }
    for (_ <- 0 until iters if centroids.nonEmpty) {
      // (cluster, pos) -> (exact decimal sum, count); clusters that capture
      // no vectors keep their previous centroid, same as the collect loop.
      val sums = new scala.collection.mutable.HashMap[(Int, Int), (Decimal, Long)]
      rows.foreach { case (_, v) =>
        val c = localAssign(v, centroids)
        var p = 0
        while (p < v.length) {
          val d = Decimal(v(p))
          if (!d.changePrecision(28, 14)) // ANSI Cast(double -> decimal(28,14))
            throw new ArithmeticException(
              s"value ${v(p)} cannot be represented as DECIMAL(28,14)")
          val (s0, n0) = sums.getOrElse((c, p), (Decimal(0L), 0L))
          sums.put((c, p), (s0 + d, n0 + 1))
          p += 1
        }
      }
      val next = centroids.map(_.clone())
      sums.foreach { case ((c, p), (s, n)) =>
        // Sum(decimal(28,14)) has result type decimal(38,14) (ANSI
        // overflow check), then Divide by the bigint count resolves to
        // decimal(38,14) — Decimal./ at scale 39 HALF_UP + the
        // CheckOverflow changePrecision, as the expressions do.
        val sum = s.clone()
        if (!sum.changePrecision(38, 14))
          throw new ArithmeticException(
            s"mean-update sum $s overflows DECIMAL(38,14)")
        val q = sum / Decimal(n)
        if (!q.changePrecision(38, 14))
          throw new ArithmeticException(
            s"mean-update quotient overflows DECIMAL(38,14)")
        next(c)(p) = q.toDouble
      }
      centroids = next
    }
    Some(centroids)
  }

  /** Both training paths refuse finite vectors of differing lengths: the
    * mean update would write past the end of a shorter centroid. */
  private def requireOneDim(shortest: Int, longest: Int): Unit =
    if (shortest < longest) throw new IllegalArgumentException("Ivf.train: " +
      s"training vectors differ in length ($shortest to $longest coordinates)")

  /** [[centroidScore]]'s exact double arithmetic, locally: cc via the same
    * sequential fold, dot via graft_dot's loop (i < min length), then the
    * non-finite coalesce to +Infinity. */
  private def localScore(e: Array[Double], c: Array[Double]): Double = {
    var cc = 0.0
    var i = 0
    while (i < c.length) { cc += c(i) * c(i); i += 1 }
    var dot = 0.0
    val n = math.min(e.length, c.length)
    i = 0
    while (i < n) { dot += e(i) * c(i); i += 1 }
    val s = cc - 2.0 * dot
    if ((s - s).isNaN) Double.PositiveInfinity else s
  }

  /** The distributed training loop (pre-r20 `train` body): iters+1 driver
    * actions over the persisted training set. */
  private def loopTrain(finite0: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): Array[Array[Double]] = {
    // Persist: the training set is consumed by iters+1 driver actions (init
    // + one mean-update collect per iteration), each of which would
    // otherwise re-scan the source and redo the upstream transforms. The
    // cache is released before returning — train() is action-complete.
    val finite = finite0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Init from DISTINCT vectors (lowest owning id per vector, lowest ids
    // first): duplicate init vectors would make identical centroids, and
    // the first-min tie-break would starve the later copy into a
    // permanently dead cluster that wastes a probe slot at search time.
    // try/finally: Bench (and other drivers) catch per-query exceptions and
    // keep going — a throw mid-train must not leak the persisted training
    // set into the block manager for the rest of the JVM.
    try {
      // The dimension check rides the init action as observed metrics: no
      // extra job.
      val dims = org.apache.spark.sql.Observation()
      var centroids: Array[Array[Double]] = finite
        .observe(dims, min(size(col(vecCol))).as("shortest"),
          max(size(col(vecCol))).as("longest"))
        .groupBy(col(vecCol)).agg(min(col(idCol)).as("__mid"))
        .orderBy(col("__mid")).limit(nlist)
        .select(vecCol).collect()
        .map(_.getSeq[Double](0).toArray)
      val sizes = dims.get
      (sizes.get("shortest"), sizes.get("longest")) match {
        case (Some(lo: Int), Some(hi: Int)) => requireOneDim(lo, hi)
        case _ => // empty input: no sizes, or null ones
      }
      for (_ <- 0 until iters) {
        val assigned = finite.withColumn("__c", assignment(col(vecCol), centroids))
        val means = assigned
          .select(col("__c"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
          .groupBy("__c", "__pos")
          .agg((sum(col("__v").cast("decimal(28,14)")) / count(lit(1)))
            .cast("double").as("__mean"))
          .collect()
        val next = centroids.map(_.clone())
        means.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        }
        // clusters that captured no vectors keep their previous centroid
        centroids = next
      }
      centroids
    } finally {
      finite.unpersist(blocking = false)
    }
  }

  /** Top-k cosine neighbors per query via nprobe-bucket search.
    * corpus/queries: (idCol, e: array<double>, nrm). Returns
    * (q_id, rank, nb_id, cos) like the exact q44 shape. Zero-norm vectors
    * (cosine 0/0 = NaN) rank LAST, never displacing real neighbors — the
    * same contract as KnnJoinExec (a raw double sort would put NaN first).
    */
  def search(corpus: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.VectorFunctions.register(corpus.sparkSession)
    val indexed = corpus.withColumn("__c", assignment(col("e"), centroids))
    // nprobe nearest buckets per query, as rows (query replicated nprobe×).
    // centroidScore ranks identically to true squared distance within a row
    // (the dropped x·x term is per-row constant), which is all the probe
    // selection needs.
    // Same empty-centroid resolution hazard as assignment(): a typed empty
    // array keeps the plan analyzable; slice/transform over it probe zero
    // buckets, so an empty corpus yields an empty result, not a crash.
    val dists =
      if (centroids.isEmpty) typedLit(Seq.empty[Double])
      else array(centroids.toIndexedSeq.map(c => centroidScore(col("e"), c)): _*)
    val probed = queries
      .withColumn("__dists", dists)
      .withColumn("__order",
        expr("array_sort(transform(__dists, (d, i) -> named_struct('d', d, 'i', i)))"))
      .withColumn("__probe", expr(s"transform(slice(__order, 1, $nprobe), s -> s.i)"))
      .select(col(idCol).as("q_id"), col("e").as("ae"),
        col("nrm").as("anrm"), explode(col("__probe")).as("__c"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc_nulls_last, col("nb_id"))
    probed.join(indexed.select(col(idCol).as("nb_id"), col("e").as("be"),
        col("nrm").as("bnrm"), col("__c")), Seq("__c"))
      .filter(col("q_id") =!= col("nb_id"))
      .withColumn("cos0", expr("graft_dot(ae, be) / (anrm * bnrm)"))
      // NaN -> NULL so desc_nulls_last ranks degenerate vectors behind
      // every finite cosine (NaN itself sorts ABOVE +Infinity in Spark).
      .withColumn("cos",
        when(isnan(col("cos0")), lit(null).cast("double")).otherwise(col("cos0")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nb_id", "cos")
  }
}
