package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Hot-BUCKET skew harness for the multimodal pair-emission joins —
  * the media sibling of [[SkewCurve]] (text hot keys) and the round-13
  * verdict's one named scale hazard.
  *
  * The ×10/×100/×1000 scaled media corpora ([[ScaleCurve]]) hold clique
  * density constant, so they can never observe the failure mode a real
  * web corpus guarantees: solid-color/black thumbnails collapse
  * millions of documents onto a handful of aHash band values, and black
  * video frames do the same to the frame-hash inverted index. This
  * harness synthesizes exactly that corpus:
  *
  *  - 30% of all images carry ONE aHash (the solid-black thumbnail) —
  *    every band bucket of that hash is hot;
  *  - 30% of all videos contain the black frame hash;
  *  - a cold near-dup clique structure (100-member image clusters,
  *    8-member video classes) that the capped path must still resolve;
  *  - everything else hashed pairwise-far (cold, unique).
  *
  * For each op it times the LEGACY band self-join (pre-round-14,
  * reconstructed here verbatim) against the shipped df-capped
  * posting-list shape at n and 2n, reporting wall, the worst stage's
  * max/median task time, and the n→2n wall exponent — the legacy shape
  * is expected to read ~2 (quadratic in the hot bucket), the shipped
  * shape ~flat, because the cap drops saturated buckets whole. A
  * second shipped-only tier at 16n/32n shows the capped path holding
  * its exponent a decade past where the legacy shape stops finishing.
  *
  * Run: `sbt "runMain graft.tools.HotBand 30000"` → one JSON line +
  * markdown rows for BENCH_SCALING.md.
  */
object HotBand {

  // ---- legacy (round-13) formulations, kept ONLY as the baseline ---------

  /** The pre-round-14 `Multimodal.phashNearDups`: band self-equi-join,
    * firstAgree projection dedupe, no bucket bound. */
  private def legacyPhash(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = sig
      .select(col("doc_id").as("__id"), col("ahash_hi").as("__hi"),
        col("ahash_lo").as("__lo"))
      .where(col("__hi").isNotNull)
      .localCheckpoint(false)
      .select(col("__id"), col("__hi"), col("__lo"),
        explode(array(
          struct(lit(0).as("bi"), (col("__lo") % 65536L).as("bv")),
          struct(lit(1).as("bi"), (col("__lo") / 65536L).cast("long").as("bv")),
          struct(lit(2).as("bi"), (col("__hi") % 65536L).as("bv")),
          struct(lit(3).as("bi"), (col("__hi") / 65536L).cast("long").as("bv"))))
          .as("b"))
      .select(col("__id"), col("__hi"), col("__lo"),
        col("b.bi").as("__bi"), col("b.bv").as("__bv"))
    val a = bands.select(col("__id").as("id_a"), col("__hi").as("ha"),
      col("__lo").as("la"), col("__bi"), col("__bv"))
    val b = bands.select(col("__id").as("id_b"), col("__hi").as("hb"),
      col("__lo").as("lb"), col("__bi"), col("__bv"))
    val firstAgree = when(
        col("la") % 65536L === col("lb") % 65536L, 0)
      .when((col("la") / 65536L).cast("long") ===
        (col("lb") / 65536L).cast("long"), 1)
      .when(col("ha") % 65536L === col("hb") % 65536L, 2)
      .otherwise(3)
    a.join(b, Seq("__bi", "__bv"))
      .where(col("id_a") < col("id_b") && col("__bi") === firstAgree)
      .select(col("id_a"), col("id_b"),
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** The pre-round-14 `Multimodal.videoNearDups`: frame-hash
    * self-equi-join, HAVING after the join. */
  private def legacyVideo(fh0: DataFrame, minShared: Int = 3): DataFrame = {
    val fh = fh0
      .select(col("doc_id").as("__id"), col("frame_hi"), col("frame_lo"))
      .localCheckpoint(false)
    val a = fh.select(col("__id").as("id_a"),
      col("frame_hi"), col("frame_lo"))
    val b = fh.select(col("__id").as("id_b"),
      col("frame_hi"), col("frame_lo"))
    a.join(b, Seq("frame_hi", "frame_lo"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared.toLong)
  }

  // ---- hot-bucket synthesis ------------------------------------------------

  /** 32-bit-per-half aHash table: 30% solid-black (one hash), 20% in
    * 100-member near-dup cliques (clique hash + ≤1 flipped bit), the
    * rest pairwise-far unique hashes. Pure column formulas — no decode,
    * the join is the subject under test.
    */
  private def imageSig(spark: SparkSession, n: Long): DataFrame = {
    // reduce mod a prime BEFORE the multiply (ANSI overflow, see
    // videoFrames)
    val spread = (c: org.apache.spark.sql.Column) =>
      pmod(pmod(c, lit(1000000007L)) * 2654435761L + 0x9e3779b9L,
        lit(4294967296L))
    val m = pmod(col("id"), lit(10))
    val clique = (col("id") / lit(500)).cast("long") // 100 members per clique
    spark.range(n).select(
      col("id").as("doc_id"),
      when(m.isin(1, 3, 5), lit(0L)) // solid black: hot in all 4 bands
        .when(m.isin(7, 8), spread(clique))
        .otherwise(spread(col("id") * 3 + 1)).as("ahash_hi"),
      when(m.isin(1, 3, 5), lit(0L))
        .when(m.isin(7, 8), // flip one of the low 2 bits inside the clique
          spread(clique + 7).bitwiseXOR(pmod(col("id"), lit(2)) + 1))
        .otherwise(spread(col("id") * 5 + 2)).as("ahash_lo"))
  }

  /** Frame-hash table: 10 frames per video; 30% of videos carry the
    * black frame (0xdead, 0xbeef); videos in 8-member classes share 4
    * class frames (the cold near-dup signal); the rest of each video's
    * frames are unique.
    */
  private def videoFrames(spark: SparkSession, nVideos: Long): DataFrame = {
    val vids = spark.range(nVideos).select(col("id").as("doc_id"),
      explode(sequence(lit(0), lit(9))).as("f"))
    val m = pmod(col("doc_id"), lit(10))
    val cls = (col("doc_id") / lit(8)).cast("long")
    // reduce mod a prime BEFORE the multiply — ANSI mode makes a silent
    // long overflow a query-killing SparkArithmeticException
    val spread = (c: org.apache.spark.sql.Column) =>
      pmod(pmod(c, lit(1000000007L)) * 2654435761L + 0x85ebca6bL,
        lit(4294967296L))
    vids.select(col("doc_id"),
      when(m.isin(1, 3, 5) && col("f") === 0, lit(0xdeadL))
        .when(m.isin(7, 8) && col("f") < 4, spread(cls * 16 + col("f")))
        .otherwise(spread(col("doc_id") * 32 + col("f") + lit(10000019L)))
        .as("frame_hi"),
      when(m.isin(1, 3, 5) && col("f") === 0, lit(0xbeefL))
        .when(m.isin(7, 8) && col("f") < 4, spread(cls * 16 + col("f") + 7))
        .otherwise(spread(col("doc_id") * 32 + col("f") + lit(20000003L)))
        .as("frame_lo"))
  }

  // ---- task-time capture (the SkewCurve shape) -----------------------------

  private final class TaskTimes extends SparkListener {
    val times = new ArrayBuffer[(Int, Long)]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      times.synchronized { times += ((e.stageId, e.taskInfo.duration)) }
  }

  private final case class Run(wall: Double, skew: Double,
      skewMaxMs: Long, skewMedMs: Long, rows: Long)

  private def measure(spark: SparkSession, df: => DataFrame): Run = {
    val l = new TaskTimes
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    val rows = df.count()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    val stages = l.times.groupBy(_._1).map { case (_, ts) =>
      val ds = ts.map(_._2).sorted
      (ds.last, ds(ds.length / 2), ds.length)
    }.toSeq
    val eligible = stages.filter(s => s._3 >= 4 && s._1 >= 200)
    val (sMax, sMed, _) =
      if (eligible.nonEmpty)
        eligible.maxBy(s => s._1.toDouble / math.max(1, s._2))
      else stages.maxBy(_._1)
    Run(wall, sMax.toDouble / math.max(1, sMed), sMax, sMed, rows)
  }

  private def exp(t1: Double, t2: Double): Double =
    math.log(t2 / t1) / math.log(2.0)

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(30000L)
    val bigMult = args.lift(1).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def phaseShipped(sig: DataFrame) =
      graft.ops.Multimodal.phashNearDups(sig, "doc_id", maxHamming = 3)
    def videoShipped(fh: DataFrame) =
      graft.ops.Multimodal.videoNearDups(fh, "doc_id", minShared = 3)

    // warmup: JIT + codegen off the clock
    measure(spark, phaseShipped(imageSig(spark, 5000)))
    measure(spark, legacyPhash(imageSig(spark, 5000)))
    measure(spark, videoShipped(videoFrames(spark, 2000)))
    measure(spark, legacyVideo(videoFrames(spark, 2000)))

    case class Op(name: String, legacy: Long => DataFrame,
        shipped: Long => DataFrame)
    val ops = Seq(
      Op("phash_pairs", sz => legacyPhash(imageSig(spark, sz)),
        sz => phaseShipped(imageSig(spark, sz))),
      Op("video_pairs", sz => legacyVideo(videoFrames(spark, sz)),
        sz => videoShipped(videoFrames(spark, sz))))

    val results = ops.map { op =>
      val l1 = measure(spark, op.legacy(n))
      val l2 = measure(spark, op.legacy(2 * n))
      val s1 = measure(spark, op.shipped(n))
      val s2 = measure(spark, op.shipped(2 * n))
      // the capped path a decade past where legacy stops being runnable
      val b1 = measure(spark, op.shipped(bigMult * n))
      val b2 = measure(spark, op.shipped(2L * bigMult * n))
      (op.name, l1, l2, s1, s2, b1, b2)
    }

    val qjson = results.map { case (nm, l1, l2, s1, s2, b1, b2) =>
      f""""$nm":{"n":$n,"legacy_wall_n":${l1.wall}%.2f,"legacy_wall_2n":${l2.wall}%.2f,""" +
        f""""legacy_exp":${exp(l1.wall, l2.wall)}%.2f,"legacy_skew":${l2.skew}%.1f,""" +
        f""""shipped_wall_n":${s1.wall}%.2f,"shipped_wall_2n":${s2.wall}%.2f,""" +
        f""""shipped_exp":${exp(s1.wall, s2.wall)}%.2f,"shipped_skew":${s2.skew}%.1f,""" +
        f""""big_mult":$bigMult,"shipped_wall_big":${b1.wall}%.2f,"shipped_wall_big2":${b2.wall}%.2f,""" +
        f""""shipped_big_exp":${exp(b1.wall, b2.wall)}%.2f,"shipped_big_skew":${b2.skew}%.1f,""" +
        f""""shipped_rows_2n":${s2.rows},"legacy_rows_2n":${l2.rows}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"hot_band","n":$n,"hot_frac":0.3,"ops":$qjson}""")
    println("# op          | legacy n→2n wall (exp, skew)      | shipped n→2n wall (exp, skew)     | shipped big-tier wall (exp, skew)")
    results.foreach { case (nm, l1, l2, s1, s2, b1, b2) =>
      println(f"# $nm%-11s | ${l1.wall}%6.2f→${l2.wall}%6.2f s (${exp(l1.wall, l2.wall)}%4.2f, ${l2.skew}%5.1fx)" +
        f" | ${s1.wall}%6.2f→${s2.wall}%6.2f s (${exp(s1.wall, s2.wall)}%4.2f, ${s2.skew}%5.1fx)" +
        f" | ${b1.wall}%6.2f→${b2.wall}%6.2f s (${exp(b1.wall, b2.wall)}%4.2f, ${b2.skew}%5.1fx)")
    }
    spark.stop()
  }
}
