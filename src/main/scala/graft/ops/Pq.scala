package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the vector-compression scale path that
  * complements SQ8 (q59): the embedding space is split into `m`
  * subspaces, each quantized by its own k-entry codebook, so a vector
  * stores as m small codes (m bytes at k ≤ 256 — 32× smaller than
  * float32 at m=8 over 64 dims) and query scans read codes + per-query
  * lookup tables instead of floats.
  *
  * Scale shape mirrors [[KMeans]]:
  *  - codebook init: the deterministic stride sample ([[Ann.ivfCentroids]]),
  *    sliced into subvectors — one scan, k×dims floats to the driver;
  *  - refinement: codegen [[graft.functions.SketchExpressions.pq_encode]]
  *    assignment + ONE exact fixed-point mean update per subspace, all
  *    subspaces in the same aggregation (the shuffle carries m×k×subDim
  *    partial sums per task, never vectors);
  *  - the trained codebooks are a bounded model (m×k×subDim doubles)
  *    carried into generated code as reference objects;
  *  - ADC scan: per-query dot/norm lookup tables (m×k doubles) — m table
  *    reads + m adds per corpus row, no multiplies in the hot loop.
  *
  * Determinism contract (what lets DuckDB re-derive the whole path):
  * assignment is L2 argmin with strict-< ascending scan (ties → lowest
  * code = ROW_NUMBER(ORDER BY dist, c)); the mean update is the
  * [[KMeans.Scale]] fixed-point sum (exact integers, any summation
  * order); empty codes keep their init entry.
  */
object Pq {

  /** Train m per-subspace codebooks of k entries each over `dims`-dim
    * vectors: stride-sample init + one fixed-point Lloyd refinement.
    *
    * @return cb(s)(c)(i): subspace s, code c, within-subspace dim i
    */
  def trainCodebooks(df: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int, dims: Int): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    // AQE off for the two training collects: stride-init and the single
    // refinement aggregation are fixed scan→agg shapes over a bounded
    // model — adaptive staging only adds per-exchange job scheduling it
    // can never improve (the LogReg iteration rationale,
    // LogReg.trainCore)
    graft.util.AqeOff(df.sparkSession)(
      trainCodebooksCore(df, vecCol, idCol, m, k, dims))
  }

  private def trainCodebooksCore(df: DataFrame, vecCol: String,
      idCol: String, m: Int, k: Int, dims: Int): Array[Array[Array[Double]]] = {
    val sub = dims / m
    val init = Ann.ivfCentroids(df, vecCol, idCol, k)
    val cb0: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      init.map(v => v.slice(s * sub, (s + 1) * sub).map(_.toDouble)))
    // one refinement pass: assign with cb0 (codegen kernel), then exact
    // fixed-point means per (subspace, code, dim) folded into ONE
    // buffer-per-partition aggregate ([[PqMoments]]) — the collect is
    // the bounded m×k×(sub+1) model (1,088 longs at m=4,k=16,sub=16),
    // the same driver-synchronization contract as KMeans.kmeans.
    // (Round-15: the previous shape posexploded every vector into `dims`
    // rows before a (s,c,i)-keyed groupBy — the explode was ~70% of
    // q63's wall time and all of its shuffle.)
    val moments = graft.util.CollectCapped(
      df.agg(LongVectorAgg.column(PqMoments(m, k, sub),
        graft.functions.SketchExpressions.pq_encode(col(vecCol), cb0),
        col(vecCol).cast(ArrayType(FloatType))).as("__m")),
      1L, "PQ codebook moments (m x k x (sub+1) longs)")(0)
      .getSeq[Long](0).toArray
    // empty codes keep their init entry (mirrored by the oracle's
    // COALESCE over a LEFT JOIN from the init table)
    val cb1 = cb0.map(_.map(_.clone()))
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val n = moments(m * k * sub + s * k + c)
        if (n > 0L) {
          var j = 0
          while (j < sub) {
            cb1(s)(c)(j) =
              moments((s * k + c) * sub + j).toDouble / (n * KMeans.Scale)
            j += 1
          }
        }
        c += 1
      }
      s += 1
    }
    cb1
  }

  /** One-pass Lloyd-update moments for all m subspaces: buffer layout is
    * m·k·sub fixed-point coordinate sums followed by m·k assignment
    * counts. Each partition folds its vectors into ONE local buffer;
    * partials merge by elementwise addition (a [[LongVectorAgg]], like
    * [[Pca.CovMoments]] and [[LogReg.GradArray]]), so only numPartitions
    * ~9 KB buffers cross the wire — no explode, no key shuffle,
    * corpus-size-free.
    *
    * Fixed-point contract: each coordinate contributes
    * halfAway(x·[[KMeans.Scale]]) — identical to the previous
    * `round(x·Scale)` SQL form (and DuckDB's round) for all
    * |x·Scale| < 2^51, where every decimal half-boundary is exactly
    * representable, so codebooks stay bit-for-bit reproducible by the
    * oracle. Long sums overflow only past ~9e12 unit-norm rows per
    * (subspace, code) — no realistic ceiling.
    */
  case class PqMoments(m: Int, k: Int, sub: Int) extends LongFold {
    private val sumsLen = m * k * sub
    def width: Int = sumsLen + m * k
    def prettyName: String = "pq_moments"

    /** inputs: the m codes of a vector and its m·sub coordinates. */
    def update(buf: Array[Long], inputs: Array[Any]): Unit = {
      val ca = inputs(0).asInstanceOf[ArrayData]
      val va = inputs(1).asInstanceOf[ArrayData]
      require(ca.numElements() == m && va.numElements() == m * sub,
        s"pq_moments: expected $m codes over ${m * sub} dims, got " +
          s"${ca.numElements()}/${va.numElements()}")
      var s = 0
      while (s < m) {
        val c = ca.getInt(s)
        val base = (s * k + c) * sub
        val voff = s * sub
        var j = 0
        while (j < sub) {
          buf(base + j) +=
            Pca.halfAway(va.getFloat(voff + j).toDouble * KMeans.Scale)
          j += 1
        }
        buf(sumsLen + s * k + c) += 1L
        s += 1
      }
    }

    def merge(buf: Array[Long], other: Array[Long]): Unit =
      LongVectorAgg.sumInto(buf, other)
  }

  /** Per-query ADC lookup tables against trained codebooks:
    * (dotLut(s)(c), normLut(s)(c)) = (⟨cb(s)(c), q_s⟩, |cb(s)(c)|²).
    */
  def adcLuts(cb: Array[Array[Array[Double]]], query: Array[Float])
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val m = cb.length
    val dotLut = Array.ofDim[Array[Double]](m)
    val normLut = Array.ofDim[Array[Double]](m)
    var off = 0
    var s = 0
    while (s < m) {
      val sub = cb(s)(0).length
      dotLut(s) = cb(s).map { cent =>
        var d = 0.0; var i = 0
        while (i < sub) { d += cent(i) * query(off + i).toDouble; i += 1 }
        d
      }
      normLut(s) = cb(s).map { cent =>
        var n = 0.0; var i = 0
        while (i < sub) { n += cent(i) * cent(i); i += 1 }
        n
      }
      off += sub
      s += 1
    }
    (dotLut, normLut)
  }

  /** ADC approximate-cosine column for a corpus of PQ codes. */
  def adcCosine(codes: Column, cb: Array[Array[Array[Double]]],
      query: Array[Float]): Column = {
    val (dotLut, normLut) = adcLuts(cb, query)
    var qn = 0.0
    var i = 0
    while (i < query.length) {
      qn += query(i).toDouble * query(i).toDouble; i += 1
    }
    graft.functions.SketchExpressions.pq_adc_cosine(codes, dotLut, normLut,
      math.sqrt(qn))
  }
}
