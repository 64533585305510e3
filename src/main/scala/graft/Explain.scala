package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: prints the formatted physical plan for the named
  * queries (all if none given) — for pushdown/broadcast/codegen review. */
object Explain {
  def main(argv: Array[String]): Unit = {
    // conf:key=value tokens anywhere in the list set session conf before
    // planning (variant captures); the other arguments are positional
    val (confArgs, args) = argv.partition(_.startsWith("conf:"))
    val confs = confArgs.map { a =>
      a.drop(5).split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"Explain: '$a' is not of the form conf:key=value")
      }
    }
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq else Nil
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => names.isEmpty || names.exists(kv._1.startsWith))
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
