package perfbench

import org.apache.spark.sql.Row
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import graft.SparkEntry

/** The `curation` workload: slow `SparkEntry` curation queries over
  * generated tables. Its traced run also times a one-per-group sample of
  * the other queries, so the `queries` layer keeps a figure.
  */
object QueryWorkloads {

  /** The ops-layer queries whose time goes to candidate pairs, driver
    * loops (BPE rounds, connected components) and shuffle.
    */
  val Curation: Seq[String] = Seq("q55_pipeline", "q80_bpe_pack", "q112_lsh_tune",
    "q183_video_dedup", "q39_dedup_clusters", "q28_minhash_dedup")

  /** One query per `*Queries` group outside [[Curation]]: the group's
    * median-cost query on the generated tables (4 cores). A pass over
    * all 182 takes about 55 s there, more than a run can spend.
    */
  val GroupSample: Seq[String] = Seq("q4_geo_roundtrip", "q6_bounds", "q12_morton_sort",
    "q16_anti_join", "q23_lang_id", "q27_embedding_dedup", "q181_video_frames",
    "q57_unigram_lm", "q70_winnowing", "q186_partition_prune", "q105_dedup_recall",
    "q110_domain_cap", "q135_eval_nearest", "q137_markov_transitions")

  /** Expected result of one query at one size, and where it came from. */
  final case class Expected(hash: String, rows: Long, source: String)

  /** Table sizes; `tiny` is the smoke-test size. */
  def sizes(tiny: Boolean): TableGen.Sizes =
    if (tiny) TableGen.sizes(0.001, documents = 100)
    else TableGen.sizes(0.01, documents = 500)

  def sizeKey(tiny: Boolean): String = if (tiny) "tiny" else "full"

  /** The group a query is declared in, from its defining object. */
  def groupOf(name: String): String = groups.getOrElse(name, "Other")

  private lazy val groups: Map[String, String] =
    SparkEntry.groups.flatMap { g =>
      val owner = g.headOption.map(_.run.getClass.getName.stripPrefix("graft.queries."))
        .map(_.takeWhile(_ != '$')).getOrElse("Other")
      g.map(_.name -> owner)
    }.toMap

  /** Runs queries against one table directory and checks each result
    * against its recorded fingerprint.
    */
  private final class Runner(ctx: Ctx, rep: Report, dir: String,
      expected: Map[String, Expected]) {
    private val all = SparkEntry.queries
    val jobs = mutable.Map[String, Int]().withDefaultValue(0)

    /** Plan and collect `q` (timed), then check its fingerprint. */
    def apply(q: String, traced: Boolean): Option[Double] = {
      val w0 = System.currentTimeMillis()
      val res = ctx.withCounters(traced) {
        rep.op(ctx.trace.span(q) {
          val df = all(q)(ctx.spark, dir)
          (df.schema, df.collect().toSeq)
        })
      }
      res.map { case (schema, rows) =>
        if (traced) jobs(q) += ctx.counters.window(w0, System.currentTimeMillis()).jobs
        val got = Fingerprint.of(schema, rows)
        expected.get(q) match {
          case Some(e) => rep.check(e.hash == got && e.rows == rows.size,
            s"$q returned ${rows.size} rows hashing $got, want ${e.rows} rows hashing ${e.hash} (${e.source})")
          case None => rep.check(false, s"no recorded fingerprint for $q")
        }
        rep.latenciesMs.last
      }
    }
  }

  def curation(ctx: Ctx, rep: Report, expected: Map[String, Expected]): Unit = {
    val dir = ctx.setup(rep, 3) { d =>
      TableGen.write(ctx.spark, d.resolve("data").toString, sizes(ctx.tiny), Seq("documents"))
    }.resolve("data").toString
    val run = new Runner(ctx, rep, dir, expected)

    // one untimed pass: JIT, codegen and the table's first planning
    rep.phase("warmup")(Curation.foreach(q => run(q, traced = false)))
    rep.attempted = 0; rep.failed = 0; rep.latenciesMs.clear()

    val untraced = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    val perQuery = mutable.Map[String, ArrayBuffer[Double]]()
    var totals = SparkCounters.Zero
    val rnd = new scala.util.Random(ctx.seed)
    val minOps = if (ctx.traced) 4 else 3
    val measured = rep.phase("measure")(ctx.loop(minOps, collectBetween = true) { (pass, tracedOp) =>
      ctx.trace.beginOp(pass, tracedOp)
      val w0 = System.currentTimeMillis()
      val times = rnd.shuffle(Curation).map(q => q -> run(q, tracedOp))
      if (tracedOp) totals = totals + ctx.counters.window(w0, System.currentTimeMillis())
      // a failed query fails its pass: neither contributes a timing
      if (times.forall(_._2.isDefined)) {
        (if (tracedOp) traced else untraced) += times.map(_._2.get).sum
        times.foreach { case (q, t) =>
          perQuery.getOrElseUpdate(s"$q/$tracedOp", ArrayBuffer()) += t.get
        }
      }
    })
    ctx.trace.endOp()
    Timing.e2e(rep, untraced.toSeq, measured)
    rep.stamps("documents") = sizes(ctx.tiny).documents
    val med = perQuery.map { case (k, t) => k -> Stats.median(t.toSeq) }
    rep.stamps("query_ms") = Curation.flatMap(q => med.get(s"$q/false").map(q -> _)).toMap

    if (ctx.traced) {
      val k = math.max(1, traced.size)
      Timing.engine(rep, totals, k)
      Timing.overhead(rep, untraced.toSeq, traced.toSeq)
      Curation.foreach { q =>
        rep.layer(s"curation.${q}_s", med.getOrElse(s"$q/true", 0.0) / 1e3, "s")
        rep.layer(s"curation.${q}_jobs", run.jobs(q).toDouble / k, "count")
      }
      rep.phase("group_sample")(groupSample(ctx, rep, dir, expected))
    }
  }

  /** The `queries` layer: one warm pass over [[GroupSample]] in seeded
    * order, with the other tables written beside `documents`.
    */
  private def groupSample(ctx: Ctx, rep: Report, dir: String,
      expected: Map[String, Expected]): Unit = {
    TableGen.write(ctx.spark, dir, sizes(ctx.tiny), TableGen.Tables.filterNot(_ == "documents"))
    val run = new Runner(ctx, rep, dir, expected)
    GroupSample.foreach(q => run(q, traced = false))
    val ms = new scala.util.Random(ctx.seed).shuffle(GroupSample)
      .flatMap(q => run(q, traced = false).map(q -> _)).toMap
    ms.groupBy { case (q, _) => groupOf(q) }.foreach { case (g, ts) =>
      rep.layer(s"suite.${g}_s", ts.values.sum / 1e3, "s")
    }
    if (ms.nonEmpty) {
      rep.layer("suite.p50_query_ms", Stats.median(ms.values.toSeq), "ms")
      rep.layer("suite.p90_query_ms", Stats.percentile(ms.values.toSeq, 90), "ms")
    }
  }

  /** Run each query twice and return its fingerprint and the time of the
    * second run, writing each result as parquet under `out`.
    */
  def derive(ctx: Ctx, out: String): Seq[(String, Expected, Double)] = {
    val dir = s"$out/data"
    TableGen.write(ctx.spark, dir, sizes(ctx.tiny))
    (Curation ++ GroupSample).map { q =>
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      val rows: Seq[Row] = df.collect().toSeq
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(ctx.spark, dir).collect()
      val warm = (System.nanoTime() - t0) / 1e9
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
      (q, Expected(Fingerprint.of(df.schema, rows), rows.size, "seed"), warm)
    }
  }
}
