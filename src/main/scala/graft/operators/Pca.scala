package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{AffineTransform, GramianAggregator, VectorFunctions}

/** Distributed principal-component analysis over an embedding column
  * (ext tier, SURVEY §7.1) — the standard pre-transform for
  * similarity search (FAISS-style PCA rotation before quantization)
  * and for corpus visualization/diagnostics.
  *
  * Scale shape: ONE narrow pass computes the (n, Σx, Σxxᵀ) sufficient
  * statistics as a typed aggregation ([[GramianAggregator]] —
  * fixed ~d²/2-double state per partition, map-side combined, one
  * model-sized exchange); the d×d eigensolve happens on the driver
  * (d is the embedding dim, 64–4096 in practice — microseconds to
  * seconds, independent of corpus size); the projection back over
  * the corpus is one codegen'd affine map per row
  * ([[AffineTransform]]), zero exchanges. The corpus is read twice
  * and never shuffled — the same fit/apply split every quantizer in
  * [[Similarity]] uses.
  *
  * Determinism: the eigensolve is a fixed-sweep cyclic Jacobi with a
  * deterministic sign convention (largest-|coordinate| entry of each
  * axis made positive, first index on ties), so the model is a pure
  * function of the aggregated moments. The moment sums themselves
  * commute up to floating-point rounding (~1e-12 relative under
  * repartitioning), which is why driver queries exposing projections
  * round to 4dp and the correctness gate checks identities to
  * tolerance rather than hashing raw doubles.
  */
object Pca {

  /** mean is empty when fitted with center=false (raw second-moment
    * PCA — the dot-preserving variant ANN pre-reduction wants).
    * `axes` rows are the top-k principal directions (unit, mutually
    * orthogonal); `eigenvalues` the matching variances, descending;
    * `totalVariance` = trace of the (co)variance matrix, so
    * Σ eigenvalues ≤ totalVariance with equality at k = d.
    */
  final case class Model(
      mean: Array[Double],
      axes: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double) {
    def dim: Int = axes.headOption.map(_.length).getOrElse(0)
    def k: Int = axes.length
    /** Variance captured by the kept axes, as a fraction of total. */
    def explainedRatio: Double =
      if (totalVariance <= 0) 1.0 else eigenvalues.sum / totalVariance
  }

  /** Fit a k-component PCA. `center = false` skips mean subtraction
    * and diagonalizes the raw second-moment matrix instead — an
    * orthogonal rotation that PRESERVES dot products in the kept
    * span, which is what a cosine/IP ANN pre-reduction needs
    * (centering would shift the origin and break cosine ordering).
    */
  def fit(df: DataFrame, vecCol: String, k: Int,
      center: Boolean = true): Model =
    fitFromStats(momentStats(df, vecCol), k, center)

  /** The mergeable sufficient-statistics frame — ONE row (n, s, g) of
    * count / coordinate sums / packed second moments. This is the
    * incremental-PCA surface: persist it next to the index
    * ([[graft.sources.AnalysisStore]] discipline), and a refresh is
    * `fitFromStats(old stats ∪ delta stats)` — the historical corpus
    * is NEVER re-scanned, because moment sums are additive (the same
    * property the aggregation's map-side combine already relies on).
    */
  def momentStats(df: DataFrame, vecCol: String): DataFrame = {
    val agg = udaf(GramianAggregator.gramian)
    df.select(agg(VectorFunctions.toDouble(col(vecCol))).as("g"))
      .selectExpr("g.n AS n", "g.s AS s", "g.g AS g")
  }

  /** Negated [[momentStats]] rows — the RETRACTION surface: moments
    * are exactly additive, so removing documents from a fitted corpus
    * is `fitFromStats(base ∪ negateStats(momentStats(retracted)))` —
    * no rescan of the survivors, and bit-exact cancellation is not
    * required because the eigensolve tolerates the fp residue of
    * (x − x) summed in different orders (≈1e-12 relative, the same
    * envelope as repartitioning).
    */
  def negateStats(stats: DataFrame): DataFrame =
    stats.select((-col("n")).as("n"),
      transform(col("s"), x => -x).as("s"),
      transform(col("g"), x => -x).as("g"))

  /** Fit from one or more [[momentStats]] rows (a persisted base +
    * any number of delta rows, possibly [[negateStats]]-negated
    * retraction rows): rows merge by elementwise addition —
    * model-sized driver math, identical to the aggregator's own
    * merge — then the usual eigensolve.
    */
  def fitFromStats(stats: DataFrame, k: Int,
      center: Boolean = true): Model = {
    val rows = graft.operators.ModelCollect.bounded(
      stats.select("n", "s", "g"),
      graft.operators.ModelCollect.MaxModelRows, "pca stats merge")
    require(rows.nonEmpty, "pca: no stats rows")
    var n = 0L
    var s: Array[Double] = null
    var tri: Array[Double] = null
    rows.foreach { r =>
      val rn = r.getLong(0)
      if (rn != 0) {
        val rs = r.getSeq[Double](1).toArray
        val rg = r.getSeq[Double](2).toArray
        if (s == null) { s = rs; tri = rg }
        else {
          require(s.length == rs.length,
            s"pca: inconsistent dims ${s.length} vs ${rs.length}")
          var i = 0
          while (i < s.length) { s(i) += rs(i); i += 1 }
          i = 0
          while (i < tri.length) { tri(i) += rg(i); i += 1 }
        }
        n += rn
      }
    }
    require(n > 1, s"pca: need at least 2 rows, got $n")
    val d = s.length
    // k <= 0 means "full rank" — callers that need every axis (the
    // OPQ rotation) without knowing d up front
    val kk = if (k <= 0) d else k
    require(kk <= d, s"pca: k=$kk out of range 1..$d")

    val mean = if (center) s.map(_ / n) else new Array[Double](d)
    // cov(i,j) = E[x_i x_j] − mean_i mean_j  (population covariance;
    // the gate's variance identities use the same 1/n convention)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = tri(GramianAggregator.triIndex(i, j, d)) / n - mean(i) * mean(j)
        cov(i)(j) = v
        cov(j)(i) = v
        j += 1
      }
      i += 1
    }
    val trace = (0 until d).map(i => cov(i)(i)).sum

    val (eigVals, eigVecs) = jacobiEigen(cov)
    // order descending by eigenvalue (stable: ties keep Jacobi order),
    // then fix each axis's sign: largest-|coordinate| entry positive.
    val order = eigVals.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }
      .map(_._2).take(kk)
    val axes = order.map { c =>
      val axis = Array.tabulate(d)(r => eigVecs(r)(c))
      var best = 0
      var bi = 1
      while (bi < d) {
        if (math.abs(axis(bi)) > math.abs(axis(best))) best = bi
        bi += 1
      }
      if (axis(best) < 0) axis.map(x => -x) else axis
    }
    Model(if (center) mean else Array.empty,
      axes, order.map(eigVals), trace)
  }

  /** Project the vector column to the model's k components — one
    * codegen'd affine map per row (mean shift folded into the
    * expression's offset), zero exchanges.
    */
  def projectColumn(v: Column, model: Model): Column = {
    val mean = if (model.mean.isEmpty) new Array[Double](model.dim) else model.mean
    val offset = model.axes.map { row =>
      var s = 0.0
      var i = 0
      while (i < row.length) { s -= row(i) * mean(i); i += 1 }
      s
    }
    AffineTransform.column(v, model.axes, offset)
  }

  /** (id, projection) with components rounded to 4dp — the
    * driver-query surface (rounding absorbs the ~1e-12 partitioning
    * nondeterminism of the moment sums).
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    df.select(col(idCol),
      transform(projectColumn(col(vecCol), model),
        x => round(x, 4)).as("pca"))

  /** Reconstruction x̂ = mean + Vₖᵀ·y of a projected vector — the
    * transpose affine map, used by the gate's error identity.
    */
  def reconstructColumn(y: Column, model: Model): Column = {
    val d = model.dim
    val mean = if (model.mean.isEmpty) new Array[Double](d) else model.mean
    val vt = Array.tabulate(d, model.k)((i, c) => model.axes(c)(i))
    AffineTransform.column(y, vt, mean)
  }

  /** Internal-consistency gate (the ann_recall_* pattern): driver-side
    * model invariants as literals + one distributed pass tying the
    * projection/reconstruction expressions to the eigendecomposition:
    *
    *  - orthonormal_ok: max |VVᵀ − I| < 1e-8 (driver, k×k)
    *  - eigvals_ok: eigenvalues descending and ≥ −1e-9·trace
    *  - explained_ok: explained ratio in (0, 1 + 1e-9]
    *  - recon_ok: corpus-avg ‖x − x̂‖² matches the residual eigen mass
    *    (Σ_{i>k} λ_i = totalVariance − Σ_{i≤k} λ_i) within 1e-6 rel —
    *    THE identity that fails if fit, project, or reconstruct drift
    *  - projvar_ok: per-component projection variance matches λ_i
    *    within 1e-6 rel (distributed second pass over projections)
    */
  def consistencyGate(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val k = model.k
    var maxDev = 0.0
    for (a <- 0 until k; b <- 0 until k) {
      var s = 0.0
      var i = 0
      while (i < model.dim) { s += model.axes(a)(i) * model.axes(b)(i); i += 1 }
      maxDev = math.max(maxDev, math.abs(s - (if (a == b) 1.0 else 0.0)))
    }
    val orthonormalOk = maxDev < 1e-8
    val eigvalsOk = model.eigenvalues.zip(model.eigenvalues.drop(1))
      .forall { case (a, b) => a >= b } &&
      model.eigenvalues.forall(_ >= -1e-9 * math.max(model.totalVariance, 1.0))
    val explainedOk = model.explainedRatio > 0 &&
      model.explainedRatio <= 1 + 1e-9

    val residual = model.totalVariance - model.eigenvalues.sum
    val relTol = 1e-6 * math.max(model.totalVariance, 1e-12)
    val v = VectorFunctions.toDouble(col(vecCol))
    val y = projectColumn(v, model)
    val err = {
      val diff = zip_with(v, reconstructColumn(y, model),
        (a, b) => (a - b) * (a - b))
      aggregate(diff, lit(0.0), (acc, x) => acc + x)
    }
    val projected = df.select(y.as("y"), err.as("err"))
    val varChecks = (0 until k).map { c =>
      val yc = element_at(col("y"), c + 1)
      ((avg(yc * yc) - pow(avg(yc), 2)) -
        lit(model.eigenvalues(c))).cast("double")
    }
    projected.agg(
        avg(col("err")).as("avg_err"),
        greatest(varChecks.map(abs(_)): _*).as("max_var_dev"))
      .select(
        lit(orthonormalOk).cast("int").as("orthonormal_ok"),
        lit(eigvalsOk).cast("int").as("eigvals_ok"),
        lit(explainedOk).cast("int").as("explained_ok"),
        (abs(col("avg_err") - residual) <= relTol).cast("int").as("recon_ok"),
        (col("max_var_dev") <= relTol).cast("int").as("projvar_ok"))
  }

  /** Parametric-OPQ eigenvalue allocation (Ge et al. 2013): permute a
    * FULL-RANK rotation's axes so each of the `m` product-quantizer
    * subspaces receives a balanced share of the spectrum — process
    * axes by descending eigenvalue, each joining the subspace with
    * the smallest log-eigenvalue product so far (first index on
    * ties). A raw PCA order would pile all the energy into subspace
    * 0 and leave the last codebooks quantizing noise; balanced
    * subspaces quantize comparable energy, which is the whole point
    * of rotating before PQ. Pure driver-side model math, fully
    * deterministic.
    */
  def opqEigenAllocation(model: Model, m: Int): Model = {
    val d = model.k
    require(model.dim == d, s"opq needs a full-rank rotation, got $d of ${model.dim}")
    require(m >= 1 && d % m == 0, s"m=$m must divide d=$d")
    val sub = d / m
    val slots = Array.fill(m)(scala.collection.mutable.ListBuffer.empty[Int])
    val logProd = new Array[Double](m)
    // LEVEL-CONSTRAINED greedy: only minimum-count subspaces are
    // eligible each step. The unconstrained min-product rule
    // degenerates whenever eigenvalues sit below 1 (an empty bucket's
    // product is 1 — the maximum — so the first bucket hoards the
    // whole head of the spectrum); level-filling keeps the rule
    // scale-invariant: within each round the next-largest eigenvalue
    // joins the subspace with the smallest product so far.
    for (i <- 0 until d) {
      val minCount = slots.map(_.size).min
      var best = -1
      for (b <- 0 until m if slots(b).size == minCount && slots(b).size < sub)
        if (best < 0 || logProd(b) < logProd(best)) best = b
      slots(best) += i
      logProd(best) += math.log(math.max(model.eigenvalues(i), 1e-12))
    }
    val order = slots.flatMap(_.toList)
    Model(model.mean, order.map(model.axes),
      order.map(model.eigenvalues), model.totalVariance)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic fixed sweep
    * order, converges quadratically; d is the embedding dim so this
    * is driver-side model math (the [[Similarity]] k-means posture).
    */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val maxSweeps = 64
    var sweep = 0
    var off = offDiagNorm(a)
    val tol = 1e-14 * math.max(1.0, frobenius(a))
    while (sweep < maxSweeps && off > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > tol / (d * d)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobenius(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }
}
