package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.geo.register(s)
    s
  }

  /** `body` with the session conf `key` set to `value`, restored (or
    * unset again) after.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The Java source of each whole-stage codegen stage of `df`'s
    * physical plan, the text Spark's codegen cache is keyed by; AQE off,
    * so the plan holds its final stages. Every stage must compile: a
    * stage that does not runs interpreted, and its text would show code
    * that never runs.
    */
  def generatedSources(df: => org.apache.spark.sql.DataFrame): Seq[String] =
    withConf("spark.sql.adaptive.enabled", "false") {
      df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          val code = w.doCodeGen()._2
          org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile(code)
          code.body
      }
    }

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
