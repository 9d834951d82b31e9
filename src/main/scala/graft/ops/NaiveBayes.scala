package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions

/** Multinomial Naive Bayes over hashed bag-of-words features — the
  * counts-based sibling of the gradient-trained quality classifier
  * ([[LogReg]]): same one-pass `token_hash_counts` featurization, but
  * the "training" is ONE map-side-combinable counting aggregation, so
  * the whole train+score cycle costs two jobs (the count collect and
  * the delivery) over a corpus scanned once into a cached sparse
  * projection.
  *
  * Model: per-class per-feature token counts with add-1 smoothing.
  * The score is the log-likelihood ratio
  *   ln P(c=1)/P(c=0) + Σ_f x_f · [ln θ₁f − ln θ₀f],
  * θ_cf = (cnt_cf + 1)/(tot_c + dims). The kernel's bias entry
  * (f = dims, x = 1 on every document) doubles as the class-count
  * carrier — row `dims` of the count table IS (n₁, n₀) — and its
  * weight slot holds the prior term, so scoring is a single codegen
  * sparse-dot per document with the 257-double model riding as a
  * generated-code reference object. Zero shuffle on the scoring path.
  *
  * Determinism contract: counts are exact integers in any engine; the
  * ln/score arithmetic follows the q57 discipline — both engines
  * compute ln from the SAME integers and the delivered score is
  * rounded to 6 dp, absorbing summation-order and last-ulp libm
  * differences (double error ~1e-13 against a 5e-7 rounding bin).
  */
object NaiveBayes {

  /** Train on `label` (1.0 = positive class) and score every document.
    * Returns (idCol, carry..., nb_score, pred_en) — rounded
    * log-likelihood ratio and its sign. `carry` columns ride the cached
    * scoring projection for free (a consumer that needs the label next
    * to the score — q119's calibration — would otherwise pay a
    * corpus-sized self-join on the id).
    */
  def trainScore(docs: DataFrame, textCol: String, label: Column,
      idCol: String = "doc_id", dims: Int = 256,
      carry: Seq[String] = Nil): DataFrame = {
    val (prep, w) = trainCore(docs, textCol, label, idCol, dims, carry)
    prep.select((col(idCol) +: carry.map(col) :+
        round(SketchExpressions.dot_weights(col("__fs"), w), 6)
          .as("nb_score")): _*)
      .withColumn("pred_en", col("nb_score") > 0)
  }

  /** Training half only: the dims+1 log-likelihood-ratio weight vector
    * (prior in the bias slot) — the model artifact the streaming
    * scoring twin (`Streaming.nbScore`) carries between restarts.
    */
  def trainWeights(docs: DataFrame, textCol: String, label: Column,
      idCol: String = "doc_id", dims: Int = 256): Array[Double] = {
    val (prep, w) = trainCore(docs, textCol, label, idCol, dims, Nil)
    prep.unpersist(false)
    w
  }

  private def trainCore(docs: DataFrame, textCol: String, label: Column,
      idCol: String, dims: Int,
      carry: Seq[String]): (DataFrame, Array[Double]) = {
    val fs = SketchExpressions.token_hash_counts(
      coalesce(col(textCol), lit("")), dims)
    // one cached sparse projection feeds the count job AND the scoring
    // delivery — per-token hashing is paid once (the q75/q78 contract)
    val prep = docs.select((col(idCol) +: carry.map(col) :+
        label.cast("double").as("__y") :+ fs.as("__fs")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // training = ONE aggregation: explode the sparse rows, per-feature
    // per-class sums (map-side combinable — at most dims+1 keys cross
    // the shuffle per task). AQE off: fixed scan → agg shape (the
    // LogReg iteration rationale).
    val counts = graft.util.AqeOff(docs.sparkSession)(
      graft.util.CollectCapped(
        prep.select(explode(col("__fs")).as("e"), col("__y"))
          .groupBy(col("e.f").as("f"))
          .agg(sum(when(col("__y") === 1.0, col("e.x")).otherwise(0L)).as("c1"),
            sum(when(col("__y") =!= 1.0, col("e.x")).otherwise(0L)).as("c0")),
        dims.toLong + 1, "naive-Bayes per-feature counts"))
    val c1 = new Array[Long](dims + 1)
    val c0 = new Array[Long](dims + 1)
    counts.foreach { r =>
      val f = r.getLong(0).toInt
      c1(f) = r.getLong(1); c0(f) = r.getLong(2)
    }
    val (n1, n0) = (c1(dims), c0(dims))
    require(n1 > 0 && n0 > 0,
      s"naive bayes needs both classes present: n1=$n1 n0=$n0")
    val t1 = (0 until dims).map(c1(_)).sum.toDouble
    val t0 = (0 until dims).map(c0(_)).sum.toDouble
    val w = new Array[Double](dims + 1)
    var f = 0
    while (f < dims) {
      w(f) = math.log((c1(f) + 1.0) / (t1 + dims)) -
        math.log((c0(f) + 1.0) / (t0 + dims))
      f += 1
    }
    w(dims) = math.log(n1.toDouble / n0) // prior rides in the bias slot
    (prep, w)
  }
}
