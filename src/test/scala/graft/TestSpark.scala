package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with one session conf set, then restores the old value. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs started while `body` runs, counted by job group so no other work
    * on the shared context is counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"jobs-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // the listener bus is async; let job-start events land
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Directory of the project's test tables at scale factor `sf` (for
    * example "0.001"), as TESTDATA.md lists it. */
  def tablesDir(sf: String): String =
    scala.util.Using.resource(scala.io.Source.fromFile("TESTDATA.md", "UTF-8")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith(s"| $sf |") => l.split('`')(1).stripSuffix("/")
      }.getOrElse(sys.error(s"TESTDATA.md lists no directory for sf $sf"))
    }
}
