package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: chunk an ordered document stream into fixed
  * token-capacity packs (context windows) — the batch-assembly step of a
  * training-data pipeline. A document's pack is determined by the total
  * token count BEFORE it under the global order: pack = ⌊before/capacity⌋
  * (greedy streaming pack; a document overflowing its pack's remainder
  * is the truncation/rollover case downstream loaders handle).
  *
  * The global exclusive prefix sum uses the [[DistWindow]] recipe, not
  * `Window.orderBy(k)` (which funnels the corpus through ONE task):
  * partition on a monotone bucket of the order key, running-sum within
  * each bucket, then add each bucket's exclusive total-offset via a
  * broadcast join. The offset table has one row per non-empty bucket, so
  * the fix-up window (over buckets, not rows) is tiny by construction —
  * the classic two-phase distributed prefix sum.
  */
object Packing {

  /** Add `outCol` = exclusive running sum of `valCol` under the global
    * ORDER BY `orderCol` (numeric, must be unique for determinism), with
    * no window task seeing more than ~`chunk` rows when keys are dense.
    * `valCol` must be non-negative (token counts, sizes — true of every
    * caller): the single-exchange bucket-total trick below reads the
    * total as the max of the inclusive running sum.
    */
  def withRunningBefore(df: DataFrame, orderCol: String, valCol: String,
      outCol: String, chunk: Long = 65536L): DataFrame = {
    val key = col(orderCol)
    val parted = bucketed(df, key, chunk)
    val w = Window.partitionBy(col("__bkt")).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parted.withColumn("__loc",
      coalesce(sum(col(valCol)).over(w), lit(0L)))
    // One row per non-empty bucket; the constant-partition window runs
    // over THIS tiny table only (pmod rather than lit(0) — Catalyst
    // folds literal specs back into the warn-on-no-partition path).
    // Bucket total = max(exclusive-prefix + value) over the SAME
    // exchange the prefix window built (values are counts/sizes ≥ 0 for
    // every caller, so the running inclusive sum is nondecreasing and
    // its max IS the total) — a groupBy on `parted` would hang a second
    // partial-agg exchange off the un-exchanged input and recompute the
    // whole upstream subtree (round 8; ReuseExchange shares one shuffle,
    // once both branches see the same plan: see `bucketed`)
    val totals = local.groupBy(col("__bkt"))
      .agg(max(col("__loc") + col(valCol)).as("__tot"))
    val wB = Window.partitionBy(pmod(col("__bkt"), lit(1)))
      .orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum(col("__tot")).over(wB), lit(0L)))
      .select(col("__bkt"), col("__off"))
    local.join(broadcast(offsets), Seq("__bkt"))
      .withColumn(outCol, col("__off") + col("__loc"))
      .drop("__bkt", "__loc", "__off")
  }

  /** Multi-column form of [[withRunningBefore]]: N exclusive running
    * sums over ONE bucket exchange (each extra column otherwise costs a
    * full second two-phase pass — q161 paid two passes for tokens +
    * vocabulary before this existed). Same contracts: unique numeric
    * `orderCol`, non-negative values.
    */
  def withRunningBeforeMulti(df: DataFrame, orderCol: String,
      valCols: Seq[(String, String)], chunk: Long = 65536L): DataFrame = {
    require(valCols.nonEmpty,
      "withRunningBeforeMulti: valCols must be non-empty") // vs opaque .head crash
    val key = col(orderCol)
    val parted = bucketed(df, key, chunk)
    val w = Window.partitionBy(col("__bkt")).orderBy(key)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = valCols.foldLeft(parted) { case (d, (src, out)) =>
      d.withColumn(s"__loc_$out",
        coalesce(sum(col(src)).over(w), lit(0L)))
    }
    val totals = local.groupBy(col("__bkt"))
      .agg(max(col(s"__loc_${valCols.head._2}") + col(valCols.head._1))
        .as(s"__tot_${valCols.head._2}"),
        valCols.tail.map { case (src, out) =>
          max(col(s"__loc_$out") + col(src)).as(s"__tot_$out")
        }: _*)
    val wB = Window.partitionBy(pmod(col("__bkt"), lit(1)))
      .orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = valCols.foldLeft(totals) { case (d, (_, out)) =>
      d.withColumn(s"__off_$out",
        coalesce(sum(col(s"__tot_$out")).over(wB), lit(0L)))
    }.select(col("__bkt") +: valCols.map { case (_, out) =>
      col(s"__off_$out") }: _*)
    val joined = local.join(broadcast(offsets), Seq("__bkt"))
    valCols.foldLeft(joined) { case (d, (_, out)) =>
      d.withColumn(out, col(s"__off_$out") + col(s"__loc_$out"))
    }.drop("__bkt" +: valCols.flatMap { case (_, out) =>
      Seq(s"__loc_$out", s"__off_$out") }: _*)
  }

  /** `df` with its `__bkt` bucket column, rows of a null bucket (a null
    * order key) dropped. The inner join on `__bkt` drops those rows
    * anyway, but the optimizer infers `isnotnull(__bkt)` for the join's
    * row side only; filtered there alone, the two branches differ below
    * the bucket exchange, so it cannot be reused and the whole input
    * subtree runs twice. Filtered once here, both branches share one
    * shuffle, and a null-key row no longer counts in the offsets of the
    * rows that are kept.
    */
  private def bucketed(df: DataFrame, key: Column, chunk: Long): DataFrame =
    df.withColumn("__bkt", floor(key / chunk)).filter(col("__bkt").isNotNull)

  /** Assign each row to its pack: ⌊(running size before it)/capacity⌋. */
  def packBySize(df: DataFrame, orderCol: String, sizeCol: String,
      capacity: Long, packCol: String = "pack_id",
      chunk: Long = 65536L): DataFrame =
    withRunningBefore(df, orderCol, sizeCol, "__before", chunk)
      .withColumn(packCol, floor(col("__before") / capacity).cast("long"))
      .drop("__before")
}
