package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.SketchExpressions

/** Distributed quality-classifier training: logistic regression over
  * hashed bag-of-words features (the fastText/CCNet filter-model shape),
  * trained by full-batch gradient descent.
  *
  * Scale shape at 100 TB:
  *  - the corpus collapses ONCE into a cached per-document sparse
  *    feature row ((doc_id, y, [(f, x)])) — a single codegen projection
  *    (the token_hash_counts kernel hashes + counts per document in one
  *    pass), ZERO shuffle;
  *  - each GD iteration is ONE job with no exploded rows: a codegen
  *    sparse-dot (dot_micro, weights as a generated-code reference
  *    object — the plan source is identical every iteration, so codegen
  *    compiles once) produces the residual, and [[GradArray]]
  *    accumulates the whole (dims+2)-long gradient array map-side —
  *    each partition ships ONE array row, the final merge is
  *    elementwise adds, and the collect is a single row;
  *  - driver state is the model itself (dims+1 longs), exactly like
  *    [[KMeans]] holds k centroids.
  *
  * Cross-engine determinism (the q51 fixed-point recipe): weights live
  * in integer micro-units, so per-document margins are exact BIGINT
  * dot products (order-independent sums); the sigmoid is the rational
  * surrogate σ̃(z) = 0.5 + z / (2(1+|z|)) — only +,*,/,abs, all
  * IEEE-exact — never exp(), whose last-ulp behavior differs between
  * engines; and gradient contributions quantize back to BIGINT via
  * floor before the order-sensitive sum. Every arithmetic step is
  * bit-reproducible in DuckDB, so the oracle replays ALL iterations.
  */
object LogReg {

  /** Feature hash: md5-derived 24-bit value mod dims (oracle twin:
    * CAST(('0x' || substr(md5(term),1,6)) AS BIGINT) % dims).
    */
  def featureHash(term: Column, dims: Int): Column =
    conv(substring(md5(term), 1, 6), 16, 10).cast("long") % dims

  /** Whole-gradient aggregation buffer: index f ∈ [0, dims] accumulates
    * Σ floor(r·x·1e6) (exact BIGINT, order-independent), index dims+1
    * counts rows — so the corpus size n rides back WITH the first
    * gradient instead of costing a separate count() job. Per-partition
    * state is one (dims+2)-long array (~2 KB at dims=256) regardless of
    * corpus size; nothing is exploded and nothing feature-keyed ever
    * crosses a shuffle.
    */
  case class GradArray(dims: Int) extends LongFold {
    def width: Int = dims + 2
    def prettyName: String = "grad_array"

    /** inputs: the sparse (f, x) feature row and the residual r. */
    def update(buf: Array[Long], inputs: Array[Any]): Unit = {
      val arr = inputs(0).asInstanceOf[ArrayData]
      val rv = inputs(1).asInstanceOf[Double]
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val s = arr.getStruct(i, 2)
        buf(s.getLong(0).toInt) +=
          math.floor(rv * s.getLong(1).toDouble * 1e6).toLong
        i += 1
      }
      buf(dims + 1) += 1L
    }

    def merge(buf: Array[Long], other: Array[Long]): Unit =
      LongVectorAgg.sumInto(buf, other)
  }

  private def gradArray(fs: Column, resid: Column, dims: Int): Column =
    LongVectorAgg.column(GradArray(dims), fs, resid)

  /** Train `iters` full-batch GD steps; returns (f, weight_micro) for
    * f ∈ [0, dims] — index dims is the bias. `label` must evaluate to
    * 1.0/0.0 per row.
    */
  def train(docs: DataFrame, textCol: String, label: Column,
      dims: Int = 256, iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val (prep, weights) = trainCore(docs, textCol, label, dims, iters)
    prep.unpersist()
    spark.createDataFrame((0 to dims).map(f => (f.toLong, weights(f))))
      .toDF("f", "weight_micro")
  }

  /** Train, then score every document with the final model. The scoring
    * pass is a LAZY zero-shuffle projection over the SAME cached sparse
    * rows the gradient jobs read (codegen dot_micro against the final
    * model) — the apply pass IS the delivery scan, so score delivery
    * costs one job, with no checkpoint and no re-featurizing.
    *
    * Cache contract: the per-document feature cache (~24 bytes + sparse
    * row per doc) stays persisted so the returned plan reads it; the
    * caller releases it with the session's usual unpersist lifecycle
    * (dropping it early is safe — the lineage re-featurizes from the
    * source scan, it just pays the token hashing again).
    */
  def trainScore(docs: DataFrame, textCol: String, label: Column,
      dims: Int = 256, iters: Int = 3): DataFrame = {
    val (prep, weights) = trainCore(docs, textCol, label, dims, iters)
    val dm = SketchExpressions.dot_micro(col("fs"), weights)
    val z = dm.cast("double") / lit(1e6)
    prep.select(col("doc_id"),
      round(lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))), 6).as("score"))
  }

  private def trainCore(docs: DataFrame, textCol: String, label: Column,
      dims: Int, iters: Int): (DataFrame, Array[Long]) = {
    // ONE projection builds the cached sparse rows: the token_hash_counts
    // kernel hashes + counts per document inside whole-stage codegen
    // (bias entry included), so no token occurrence ever crosses a
    // shuffle — the round-5 explode + groupBy(doc,f) + collect_list
    // build shuffled the corpus twice for the same multiset. The hashing
    // is pure per-row CPU, so a single-split scan is spread first.
    val prep = Par.spread(docs.select(col("doc_id"),
        label.cast("double").as("y"),
        coalesce(col(textCol), lit("")).as("__txt")), col("doc_id"))
      .select(col("doc_id"), col("y"),
        SketchExpressions.token_hash_counts(col("__txt"), dims).as("fs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var n = 0L
    val weights = new Array[Long](dims + 1)
    // AQE off for the iteration loop only (restored below): the gradient
    // shuffle is ONE array row per map task at ANY corpus scale, so
    // AQE's two-phase stage materialization doubles the job count for a
    // shuffle it can never improve — measured ~0.2 s of pure scheduler
    // overhead over 3 iterations at sf0.1.
    graft.util.AqeOff(docs.sparkSession)(for (_ <- 1 to iters) {
      // weights.clone(): the reference object must not see this
      // iteration's driver-side updates
      val dm = SketchExpressions.dot_micro(col("fs"), weights.clone())
      val z = dm.cast("double") / lit(1e6)
      val out = prep
        .select(col("fs"),
          (lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))) - col("y"))
            .as("r"))
        .select(gradArray(col("fs"), col("r"), dims).as("g"))
        .first().getAs[scala.collection.Seq[Long]](0)
      // every document carries exactly one bias entry, so the row count
      // (index dims+1) IS the corpus size — no separate count() job
      if (n == 0L) n = math.max(1L, out(dims + 1))
      var f = 0
      while (f <= dims) {
        weights(f) = weights(f) -
          math.floor(out(f).toDouble / (2.0 * n)).toLong
        f += 1
      }
    })
    (prep, weights)
  }

  /** Score text with a trained micro-weight vector (index dims = bias):
    * the rational-sigmoid probability of the positive class.
    */
  def scoreExpr(text: Column, weights: Array[Long], dims: Int): Column = {
    val dm = SketchExpressions.dot_micro(
      SketchExpressions.token_hash_counts(coalesce(text, lit("")), dims),
      weights)
    val z = dm.cast("double") / lit(1e6)
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
  }
}
