package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Job timeline of warm `SparkEntry` queries: where a query's wall time
  * goes between Spark jobs (driver gaps: planning, AQE replanning,
  * driver loops) and inside them.
  *
  * `SPARK_GRAFT_SF_DIR=<table dir> sbt "runMain graft.tools.Prof q39_dedup_clusters [q…]"`
  *
  * Each query runs once to warm JIT and codegen, then once more into the
  * `noop` sink with one `SparkListener` attached. One line per job of
  * that run: its offset from the query's start, the driver gap since the
  * previous job ended (or the query started), its duration, the stages
  * and tasks that ran, and its call site, the first `graft.` frame
  * outside `graft.util` in the `details` of its last stage (of the SQL
  * execution it belongs to when that stage has none). The session
  * is the bench's: `local[k]` (k = `SPARK_GRAFT_CPUS`, else min(4,
  * cores)), k shuffle partitions, AQE on, 8192 cached generated classes.
  */
object Prof {

  final case class Stage(id: Int, tasks: Int, site: String)
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[Stage])

  /** Records jobs and the stages that ran in each, in event-time order. */
  final class Timeline extends SparkListener {
    private val started = mutable.LinkedHashMap[Int, (Long, Set[Int])]()
    private val ended = mutable.Map[Int, Long]()
    private val ran = mutable.Map[Int, mutable.ArrayBuffer[Stage]]()
    // a job AQE submits from its own thread has no graft frame in its
    // stages' call site; the SQL execution it belongs to has one
    private val execOfJob = mutable.Map[Int, String]()
    private val execSite = mutable.Map[String, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execSite(x.executionId.toString) = x.details }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started(e.jobId) = (e.time, e.stageIds.toSet)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(execOfJob(e.jobId) = _)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended(e.jobId) = e.time
    }
    // a stage belongs to the latest running job that lists it: a stage a
    // parent job already ran is skipped, not re-run, by a later job
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      started.keys.filter(j => !ended.contains(j) && started(j)._2(s.stageId))
        .maxOption.foreach(j => ran.getOrElseUpdate(j, mutable.ArrayBuffer()) +=
          Stage(s.stageId, s.numTasks, callSite(s.details,
            execOfJob.get(j).flatMap(execSite.get).getOrElse(""), s.name)))
    }

    def jobs: Seq[Job] = synchronized {
      started.toSeq.map { case (j, (t0, _)) =>
        Job(j, t0, ended.getOrElse(j, t0), ran.get(j).toSeq.flatten.sortBy(_.id))
      }
    }
    def clear(): Unit = synchronized { started.clear(); ended.clear(); ran.clear() }
  }

  /** The first `graft.` frame outside `graft.util` of a stage's long call
    * site, else of its SQL execution's, else the stage's short call site.
    */
  def callSite(details: String, execDetails: String, name: String): String =
    Iterator(details, execDetails).flatMap(_.linesIterator).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.util."))
      .getOrElse(name)

  /** The timeline table of one query run that started at `t0Ms` and
    * returned at `t1Ms`.
    */
  def render(query: String, jobs: Seq[Job], t0Ms: Long, t1Ms: Long): String = {
    val b = new StringBuilder
    var prevEnd = t0Ms
    var gaps = 0L
    val rows = jobs.map { j =>
      val gap = math.max(0L, j.startMs - prevEnd)
      gaps += gap
      prevEnd = math.max(prevEnd, j.endMs)
      f"${j.id}%6d ${j.startMs - t0Ms}%9d ${gap}%7d ${j.endMs - j.startMs}%7d " +
        f"${j.stages.size}%6d ${j.stages.map(_.tasks).sum}%6d  " +
        j.stages.lastOption.map(_.site).getOrElse("-")
    }
    val tail = math.max(0L, t1Ms - prevEnd)
    b ++= f"$query: wall ${t1Ms - t0Ms} ms, ${jobs.size} jobs, " +
      f"job time ${jobs.map(j => j.endMs - j.startMs).sum} ms, " +
      f"driver gap ${gaps + tail} ms (after the last job $tail ms)\n"
    b ++= "   job offset_ms  gap_ms  dur_ms stages  tasks  call site\n"
    rows.foreach { r => b ++= r; b += '\n' }
    b.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Prof <query…> (tables in $SPARK_GRAFT_SF_DIR)")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the directory of the query tables"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(4, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val timeline = new Timeline
    def run(q: String): Unit = graft.SparkEntry.queries(q)(spark, dir)
      .write.mode("overwrite").format("noop").save()
    try args.foreach { q =>
      run(q)
      GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      timeline.clear()
      sc.addSparkListener(timeline)
      val t0 = System.currentTimeMillis()
      try run(q)
      finally {
        val t1 = System.currentTimeMillis()
        GraftListenerBridge.waitUntilListenerBusEmpty(sc)
        sc.removeSparkListener(timeline)
        print(render(q, timeline.jobs, t0, t1))
      }
    } finally spark.stop()
  }
}
