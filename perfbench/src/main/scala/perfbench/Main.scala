package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file> [--tiny] [--expected <file>] [--code <digest>]
  * Main --derive <dir> [--tiny]
  * }}}
  *
  * Writes the full result (metrics, stamps, problems) as JSON to `--out`;
  * the launcher prints the one-line summary from it.
  */
object Main {
  val Workloads = Seq("geo_etl", "geo_extract", "curation")

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a.getOrElse("workload", "")
    require(a.contains("derive") || Workloads.contains(workload), s"unknown workload $workload")
    val tiny = a.contains("tiny")
    val work = Paths.get(a.getOrElse("work", "perfbench/work")).toAbsolutePath
    Files.createDirectories(work)
    val loadavg = readLoadavg()
    val cpu0 = readCpuTimes()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the repo's own suite driver (graft.Bench) sizes the generated-class
      // cache to the suite; the 100-entry default recompiles in every pass
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, a.getOrElse("seed", "1").toLong,
        a.getOrElse("seconds", "10").toDouble, a.get("trace").contains("1"), work, tiny)
      if (a.contains("derive")) derive(ctx, a("derive"))
      else {
        val rep = run(ctx, workload, a.get("expected"))
        rep.stamps("cores") = cores
        rep.stamps("nproc") = Runtime.getRuntime.availableProcessors
        rep.stamps("loadavg1_start") = loadavg
        // on a virtual machine, time the host gave the vCPUs to others
        for ((steal0, total0) <- cpu0; (steal1, total1) <- readCpuTimes() if total1 > total0)
          rep.stamps("cpu_steal_frac") = (steal1 - steal0).toDouble / (total1 - total0)
        a.get("code").foreach(rep.stamps("code_sha256") = _)
        rep.stamps("session_s") = sessionS
        rep.stamps("phases_s") = rep.phases
        rep.stamps("seed") = ctx.seed
        rep.stamps("traced") = ctx.traced
        writeReport(rep, Paths.get(a("out")))
      }
    } finally spark.stop()
  }

  def run(ctx: Ctx, workload: String, expectedFile: Option[String]): Report = {
    val rep = new Report(workload)
    val floorMs = rep.phase("job_floor")(jobFloorMs(ctx))
    rep.stamps("job_floor_ms") = floorMs
    val gc0 = gcMillis()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    workload match {
      case "geo_etl" => GeoWorkloads.etl(ctx, rep)
      case "geo_extract" => GeoWorkloads.extract(ctx, rep)
      case "curation" =>
        QueryWorkloads.curation(ctx, rep, expected(expectedFile, QueryWorkloads.sizeKey(ctx.tiny)))
    }
    if (ctx.traced) {
      rep.stamps("span_self_s") = ctx.trace.selfSecondsByName
      rep.layer("spark.job_floor_ms", floorMs, "ms")
      rep.layer("jvm.gc_s", (gcMillis() - gc0) / 1e3, "s")
      rep.layer("jvm.heap_peak_mb", heapPeakBytes() / 1048576.0, "MB")
    }
    rep
  }

  /** Median wall time of a one-row job through the `noop` sink. */
  def jobFloorMs(ctx: Ctx): Double = {
    val df = ctx.spark.range(1).toDF("id")
    (1 to 2).foreach(_ => ctx.noop(df))
    Stats.median((1 to 9).map { _ =>
      val t0 = System.nanoTime()
      ctx.noop(df)
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  /** Steal and total jiffies of all CPUs, from the first line of /proc/stat. */
  private def readCpuTimes(): Option[(Long, Long)] =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      Some((f(7), f.take(8).sum))
    } catch { case _: Exception => None }

  private def readLoadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  private val mapper = new ObjectMapper()

  def expected(file: Option[String], key: String): Map[String, QueryWorkloads.Expected] =
    file.map { f =>
      val root = mapper.readTree(Files.readAllBytes(Paths.get(f))).path(key)
      root.fieldNames.asScala.map { q =>
        val n = root.get(q)
        q -> QueryWorkloads.Expected(n.get("hash").asText, n.get("rows").asLong,
          n.get("source").asText)
      }.toMap
    }.getOrElse(Map.empty)

  private def writeReport(rep: Report, out: Path): Unit = {
    val root = mapper.createObjectNode()
    root.put("workload", rep.workload)
    root.put("correct", rep.correct)
    root.put("attempted", rep.attempted)
    root.put("failed", rep.failed)
    def metrics(name: String, ms: Iterable[(String, (Double, String))]): Unit = {
      val node = root.putObject(name)
      ms.foreach { case (k, (v, u)) =>
        node.putObject(k).put("value", v).put("unit", u)
      }
    }
    metrics("end_to_end", rep.e2e)
    metrics("per_layer", rep.layer)
    root.set[ObjectNode]("stamps", mapper.valueToTree(toJava(rep.stamps)))
    val ps = root.putArray("problems")
    rep.problems.foreach(ps.add)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }

  /** Record expected results for the query workloads (`derive_expected.py`). */
  private def derive(ctx: Ctx, out: String): Unit = {
    val root = mapper.createObjectNode()
    QueryWorkloads.derive(ctx, out).foreach { case (q, e, s) =>
      root.putObject(q).put("hash", e.hash).put("rows", e.rows).put("source", e.source)
        .put("seconds", s).put("group", QueryWorkloads.groupOf(q))
    }
    val oracle = mapper.createObjectNode()
    (QueryWorkloads.Curation ++ QueryWorkloads.GroupSample)
      .foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _)))
    Files.write(Paths.get(out, "derived.json"), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.write(Paths.get(out, "oracle_sql.json"), mapper.writeValueAsBytes(oracle))
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val it = args.iterator.buffered
    val m = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next().stripPrefix("--")
      if (it.hasNext && !it.head.startsWith("--")) m += k -> it.next() else m += k -> ""
    }
    m.result()
  }
}
