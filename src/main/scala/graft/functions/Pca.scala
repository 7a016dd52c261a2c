package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Distributed PCA / whitening over an embedding column — the
  * data-adaptive complement to the data-oblivious JL sign projection
  * ([[Similarity.signProject]]): the FAISS-style `PCAMatrix` /
  * OPQ-prefix preprocessing step that shrinks vectors before an IVF or
  * PQ index is trained.
  *
  * 100 TB shape: `fit` is ONE pass — a `treeAggregate` whose state is
  * the count, the d-vector of sums, and the packed upper triangle of
  * the Gram matrix (d=64 → ~17 KB), combined map-side and tree-reduced
  * so the driver sees O(executors^(1/depth)) messages of fixed size,
  * never rows. The eigensolve is driver-side cyclic Jacobi on the d×d
  * covariance — d is a model constant (64-1024), so this is
  * microseconds and needs no distributed linear algebra. Projecting
  * onto the model is one codegen'd [[graft.expressions.MatVecExpr]] per
  * row over the top-k `components` and the `mean`.
  *
  * The moment math is gated end-to-end by q174 (an SQL-expressible
  * integer-quantized restatement of the same sums, checked against
  * DuckDB); PcaSpec ties `fit`'s covariance to a naive recomputation
  * and pins orthonormality, eigenvalue order, variance capture, and
  * whitening. */
object Pca {

  /** `components` rows are unit-norm principal directions, strongest
    * first; `eigenvalues(i)` is the data variance along row i. */
  final case class PcaModel(dim: Int, n: Long,
                            mean: Array[Double],
                            components: Array[Array[Double]],
                            eigenvalues: Array[Double])

  /** One-pass sufficient statistics: (count, per-dim sums, packed
    * upper-triangle Gram sums g(i,j) = Σ x_i·x_j for i ≤ j). */
  def moments(df: DataFrame, embCol: String, d: Int)
      : (Long, Array[Double], Array[Double]) = {
    val packed = d * (d + 1) / 2
    val data = df
      .select(col(embCol).cast(ArrayType(DoubleType)).as("x"))
      .where(col("x").isNotNull && size(col("x")) === d)
      .rdd.map(_.getSeq[Double](0).toArray)
    data.treeAggregate((0L, new Array[Double](d), new Array[Double](packed)))(
      seqOp = { case ((n, s, g), x) =>
        var i = 0
        while (i < d) { s(i) += x(i); i += 1 }
        var idx = 0
        i = 0
        while (i < d) {
          val xi = x(i)
          var j = i
          while (j < d) { g(idx) += xi * x(j); j += 1; idx += 1 }
          i += 1
        }
        (n + 1L, s, g)
      },
      combOp = { case ((n1, s1, g1), (n2, s2, g2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < packed) { g1(i) += g2(i); i += 1 }
        (n1 + n2, s1, g1)
      },
      depth = 2)
  }

  /** Solve a model from sufficient statistics (see [[moments]]) without
    * touching data. */
  def fitFromMoments(d: Int, n: Long, sums: Array[Double],
                     gram: Array[Double]): PcaModel = {
    require(n > 1, s"Pca.fitFromMoments: needs >1 rows, got $n")
    require(sums.length == d && gram.length == d * (d + 1) / 2,
      s"Pca.fitFromMoments: stats don't match d=$d")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = gram(idx) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; idx += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    PcaModel(d, n, mean, vectors, values)
  }

  /** Fits the full-rank model (all d components, strongest first);
    * slice at projection time via `k`. */
  def fit(df: DataFrame, embCol: String): PcaModel = {
    val d = df.select(size(col(embCol))).where(col(embCol).isNotNull)
      .head().getInt(0)
    val (n, sums, gram) = moments(df, embCol, d)
    fitFromMoments(d, n, sums, gram)
  }

  /** Persist the model as one small single-file parquet (d rows: one
    * per component, plus the mean/eigenvalue vectors) — the serving
    * artifact, matching the stored-IVF-index discipline: fit once on
    * the training corpus, project any later corpus without re-reading
    * the original floats. */
  def save(spark: org.apache.spark.sql.SparkSession, model: PcaModel,
           path: String): Unit = {
    import spark.implicits._
    val rows = (0 until model.dim).map { i =>
      (i, model.eigenvalues(i), model.components(i).toSeq,
        model.mean(i), model.n)
    }
    rows.toDF("component", "eigenvalue", "direction", "mean_i", "n")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): PcaModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("component"), col("eigenvalue"), col("direction"),
        col("mean_i"), col("n"))
      .as[(Int, Double, Seq[Double], Double, Long)]
      .collect().sortBy(_._1)
    require(rows.nonEmpty, s"Pca.load: empty model at $path")
    PcaModel(rows.length, rows.head._5,
      rows.map(_._4).toArray,
      rows.map(_._3.toArray).toArray,
      rows.map(_._2).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues desc, eigenvector ROWS aligned to them, each
    * unit-norm with a deterministic sign: its largest-magnitude entry
    * is positive). O(d³) per sweep, converges quadratically — for the
    * d ≤ 1024 covariance sizes PCA preprocessing sees, driver-side
    * cost is negligible next to the data pass. */
  private[functions] def jacobiEigen(aIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            // rotation angle zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0 // equal diagonal → 45°
              else if (theta * theta == Double.PositiveInfinity)
                1.0 / (2.0 * theta) // huge θ: tan ≈ 1/2θ, avoid θ² overflow
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
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
      off = offDiag(a)
      sweep += 1
    }
    // sort eigenpairs by value desc; extract vector COLUMNS as rows
    val order = (0 until d).sortBy(i => -a(i)(i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { col0 =>
      val row = Array.tabulate(d)(r => v(r)(col0))
      // deterministic sign: largest-|entry| positive
      val m = row.indices.maxBy(i => math.abs(row(i)))
      if (row(m) < 0) row.map(x => -x) else row
    }.toArray
    (values, vectors)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }
}
