package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Distributed PCA by power iteration — the standard first step of
  * embedding-space analysis (whitening, dominant-direction removal,
  * ABTT-style postprocessing) at corpus scale.
  *
  * Shape: ONE map-side-combinable aggregation over the corpus builds the
  * exact fixed-point second-moment triangle (count, per-dim sums, and
  * the d(d+1)/2 upper-triangle cross products as signed 128-bit
  * integers — ~34 KB of state for d = 64, independent of corpus size,
  * overflow-free at any realistic row count); the covariance matrix
  * and every power-iteration round then live on the driver as integer
  * fixed-point arithmetic (the q51/q72/q75 recipe: BIGINT dot products
  * are order-independent, so DuckDB replays every round bit-for-bit);
  * the final projection is a zero-shuffle codegen scan with the
  * eigenvector riding as a 64-element literal.
  *
  * Iteration arithmetic, mirrored exactly by the oracle SQL:
  *   q_j   = round_half_away(x_j * 1e6)                  (per coordinate)
  *   C_jk  = S_jk/n/1e12 - (s_j/n/1e6)*(s_k/n/1e6)       (double, exact op order)
  *   Cq_jk = round_half_away(C_jk * 1e6)                 (BIGINT)
  *   w_j   = sum_k Cq_jk * v_k                           (exact BIGINT)
  *   v'_j  = floor(w_j * 1e6 / max_k |w_k|)              (max-abs normalize)
  *
  * Max-abs (infinity-norm) normalization replaces the usual L2 norm so
  * the per-round state stays integer-exact — power iteration converges
  * under any fixed normalization. The certified contract is the
  * deterministic moment build + bit-exact replay of `iters` rounds
  * (the k-means precedent: a fixed iteration budget, not a convergence
  * claim — the RATE depends on the spectral gap of the data; the
  * driver-synthesized embeddings are near-isotropic, so their projection
  * is a slowly-converging mix, while real embedding corpora with
  * dominant structure converge geometrically).
  */
object Pca {

  private val Micro = 1e6

  private[graft] def halfAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else -math.floor(-x + 0.5)).toLong

  /** One-pass exact moment triangle: logical buffer = [n, s_0..s_{d-1},
    * S_00, S_01..S_0{d-1}, S_11, ..] (upper triangle, row major), each
    * entry a SIGNED 128-BIT accumulator stored as an interleaved
    * (hi, lo) Long pair — value_i = hi·2^64 + unsigned(lo). Each
    * partition folds its rows into one local buffer; partials merge by
    * elementwise 128-bit addition ([[LongVectorAgg]]), so at any
    * corpus size only numPartitions ~34 KB buffers cross the wire.
    *
    * Why 128-bit (round-6 ADVICE): a signed-Long cross-moment
    * Σ q_j·q_k wraps silently past ~9e6 rows of unit-norm embeddings
    * (q ≤ 1e6 micro-units ⇒ 1e12 per row against 2^63), corrupting the
    * covariance exactly at the corpus sizes this one-job design exists
    * for. A 128-bit sum of 1e12/row lasts ~1.7e26 rows — no realistic
    * ceiling. Per-ROW magnitudes still use Long: coordinates must be
    * finite (checked) and each product q_j·q_k must fit in a signed
    * Long (Math.multiplyExact — |x| up to ~3e3 at 64 dims is safe by
    * orders of magnitude; absurd coordinates fail loudly instead of
    * wrapping).
    */
  case class CovMoments(dims: Int) extends LongFold {
    private val len = 1 + dims + dims * (dims + 1) / 2
    def width: Int = 2 * len
    def prettyName: String = "pca_moments"

    def update(buf: Array[Long], inputs: Array[Any]): Unit = {
      val a = inputs(0).asInstanceOf[ArrayData]
      if (a.numElements() != dims)
        throw new IllegalArgumentException(
          s"pca_moments: expected $dims-dim vector, got ${a.numElements()}")
      val q = new Array[Long](dims)
      var j = 0
      while (j < dims) {
        val x = a.getFloat(j)
        if (!java.lang.Float.isFinite(x))
          throw new IllegalArgumentException(
            s"pca_moments: non-finite coordinate $x at dim $j")
        q(j) = halfAway(x.toDouble * Micro)
        j += 1
      }
      LongVectorAgg.add128(buf, 0, 1L)
      var t = 1 + dims
      j = 0
      while (j < dims) {
        LongVectorAgg.add128(buf, 1 + j, q(j))
        var k = j
        while (k < dims) {
          LongVectorAgg.add128(buf, t, Math.multiplyExact(q(j), q(k)))
          t += 1; k += 1
        }
        j += 1
      }
    }

    def merge(buf: Array[Long], other: Array[Long]): Unit =
      LongVectorAgg.sum128Into(buf, other)
  }

  /** The one distributed job: collect the moment triangle, exact at any
    * corpus size (the (hi, lo) pairs of [[CovMoments]] reassemble
    * into arbitrary-precision integers here; every downstream consumer
    * reads them through .toDouble, so values that still fit a Long —
    * any corpus the oracle can also replay — convert identically to
    * the old Long path).
    */
  def moments(df: DataFrame, vecCol: String, dims: Int)
      : scala.collection.Seq[BigInt] = {
    require(dims >= 2, s"dims must be >= 2: $dims")
    // AQE off for the collect: fixed scan -> partial agg -> single-row
    // final agg (the bloomBitmap / LogReg rationale)
    val raw = graft.util.AqeOff(df.sparkSession)(
      df.select(LongVectorAgg.column(CovMoments(dims), col(vecCol)).as("m"))
        .first().getAs[scala.collection.Seq[Long]](0))
    val mask = (BigInt(1) << 64) - 1
    (0 until raw.length / 2).map(i =>
      (BigInt(raw(2 * i)) << 64) + (BigInt(raw(2 * i + 1)) & mask))
  }

  /** Dominant-eigenvector estimate after `iters` fixed-point power
    * rounds, in micro-units (max-abs element = ±1e6), from a collected
    * moment triangle — pure driver arithmetic on the d×d fixed-point
    * covariance.
    */
  def pc1FromMoments(m: scala.collection.Seq[BigInt], dims: Int,
      iters: Int): Array[Long] = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val n = m(0)
    require(n > 0, "pca: empty input")
    val nD = n.toDouble
    val s = Array.tabulate(dims)(j => m(1 + j))
    // full fixed-point covariance from the upper triangle; op order
    // mirrors the oracle SQL exactly (S/n/1e12 - (s_j/n/1e6)*(s_k/n/1e6))
    val cq = Array.ofDim[Long](dims, dims)
    var t = 1 + dims
    var j = 0
    while (j < dims) {
      var k = j
      while (k < dims) {
        val c = m(t).toDouble / nD / 1e12 -
          (s(j).toDouble / nD / Micro) * (s(k).toDouble / nD / Micro)
        val q = halfAway(c * Micro)
        cq(j)(k) = q
        cq(k)(j) = q
        t += 1
        k += 1
      }
      j += 1
    }
    var v = Array.fill(dims)(1000000L)
    var it = 0
    while (it < iters) {
      val w = new Array[Long](dims)
      j = 0
      while (j < dims) {
        var acc = 0L
        var k = 0
        while (k < dims) { acc += cq(j)(k) * v(k); k += 1 }
        w(j) = acc
        j += 1
      }
      var mx = 0L
      j = 0
      while (j < dims) { val a = math.abs(w(j)); if (a > mx) mx = a; j += 1 }
      require(mx > 0, "pca: zero covariance (degenerate input)")
      j = 0
      while (j < dims) {
        v(j) = math.floor(w(j).toDouble * Micro / mx.toDouble).toLong
        j += 1
      }
      it += 1
    }
    v
  }

  /** Dominant eigenvector of `df`'s covariance: one Spark job plus
    * driver rounds.
    */
  def pc1(df: DataFrame, vecCol: String, dims: Int, iters: Int): Array[Long] =
    pc1FromMoments(moments(df, vecCol, dims), dims, iters)

  /** Per-row fixed-point PC1 score: sum_j q_j * v_j, exact BIGINT —
    * a zero-shuffle codegen projection (zip_with + aggregate over
    * builtins; the eigenvector is a 64-element literal).
    */
  def project(df: DataFrame, vecCol: String, idCol: String,
      v: Array[Long]): DataFrame =
    df.select(col(idCol), aggregate(
      zip_with(col(vecCol), typedlit(v.toSeq),
        (x, vj) => round(x.cast("double") * lit(1000000.0)).cast("long") * vj),
      lit(0L), (acc, e) => acc + e).as("pc1_fixed"))

  /** Train-and-score in one call: the declared-query surface. */
  def pc1Scores(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, iters: Int): DataFrame =
    project(df, vecCol, idCol, pc1(df, vecCol, dims, iters))

  /** All-but-the-top postprocessing (Mu & Viswanath 2018): subtract the
    * corpus mean and the PC1 component from every embedding. Same ONE
    * distributed moment job as [[pc1]] (mean and covariance come from
    * the same triangle), then a zero-shuffle apply scan emitting the
    * centered PC1 score and the residual's squared norm, both exact
    * BIGINTs:
    *   mu_j  = floor(s_j / n)                       (micro)
    *   c_ij  = q_ij - mu_j                          (centered, exact)
    *   p_i   = sum_j c_ij * v_j                     (exact BIGINT)
    *   r_ij  = c_ij - floor(p_i * v_j / sum_k v_k²) (fixed-point removal)
    *   out   = (id, p_i, sum_j r_ij²)
    */
  def abttStats(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, iters: Int): DataFrame = {
    val m = moments(df, vecCol, dims)
    val v = pc1FromMoments(m, dims, iters)
    val n = m(0)
    val mu = Array.tabulate(dims)(j =>
      math.floor(m(1 + j).toDouble / n.toDouble).toLong)
    val vv = v.map(x => x * x).sum // <= 64e12, exact as double
    val muLit = typedlit(mu.toSeq)
    val vLit = typedlit(v.toSeq)
    df.select(col(idCol),
        zip_with(col(vecCol), muLit,
          (x, mj) => round(x.cast("double") * lit(1000000.0)).cast("long") - mj)
          .as("__c"))
      .withColumn("__p", aggregate(
        zip_with(col("__c"), vLit, (c, vj) => c * vj),
        lit(0L), (acc, e) => acc + e))
      .select(col(idCol), col("__p").as("pc1_centered"), aggregate(
        zip_with(col("__c"), vLit, (c, vj) => {
          val r = c - floor(col("__p").cast("double") * vj.cast("double") /
            lit(vv.toDouble)).cast("long")
          r * r
        }),
        lit(0L), (acc: org.apache.spark.sql.Column, e) => acc + e)
        .as("resid_norm2"))
  }

  /** Diagonal-Mahalanobis embedding outlier scoring — the standard
    * cheap OOD/garbage filter a curation pipeline runs before any
    * clustering or ANN stage (an embedding far from the corpus
    * distribution in per-dimension z-score terms is a decode error, an
    * off-domain document, or adversarial input).
    *
    * Same ONE distributed moment job as [[pc1]] — mean and per-dim
    * variance are the triangle's first row and diagonal, so a caller
    * who already ran PCA gets this free from the same 34 KB state —
    * then a zero-shuffle codegen apply scan: the per-dim mean and
    * variance ride as d-element literals, and
    *   score_i = sqrt( (1/d) * sum_j (x_ij - mu_j)^2 / var_j )
    * with x micro-quantized exactly as the moments were (so the oracle
    * replays the score from the same integer q values). Double op
    * order mirrors the oracle SQL: mu = s/n/1e6, var = S_jj/n/1e12 -
    * mu^2, per-row division by var (not multiplication by a
    * precomputed inverse).
    */
  def mahaScores(df: DataFrame, vecCol: String, idCol: String,
      dims: Int, threshold: Double): DataFrame = {
    val m = moments(df, vecCol, dims)
    val n = m(0)
    require(n > 1, "maha: need at least 2 rows")
    val nD = n.toDouble
    val mu = Array.tabulate(dims)(j => m(1 + j).toDouble / nD / Micro)
    // S_jj sits at triangle offset 1 + dims + (rows 0..j-1) where row i
    // holds (dims - i) entries starting at its diagonal
    val varr = Array.tabulate(dims) { j =>
      val off = 1 + dims + (0 until j).map(i => dims - i).sum
      m(off).toDouble / nD / 1e12 - mu(j) * mu(j)
    }
    varr.zipWithIndex.foreach { case (v, j) =>
      require(v > 0, s"maha: zero variance at dim $j (constant coordinate)") }
    val muLit = typedlit(mu.toSeq)
    val varLit = typedlit(varr.toSeq)
    df.select(col(idCol),
        round(sqrt(aggregate(
          zip_with(zip_with(col(vecCol), muLit, (x, mj) => {
            val d = round(x.cast("double") * lit(1000000.0)) /
              lit(1000000.0) - mj
            d * d
          }), varLit, (d2, vr) => d2 / vr),
          lit(0.0), (acc, e) => acc + e) / lit(dims.toDouble)), 6)
          .as("maha"))
      .withColumn("is_outlier", col("maha") > lit(threshold))
  }
}
