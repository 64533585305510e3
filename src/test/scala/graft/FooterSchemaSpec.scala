package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{jobsDuring, withConf}

/** `Tables.read` takes a single file's schema from its footer instead of
  * running Spark's schema-inference job, and must give exactly the schema
  * inference gives; directories, globs and `mergeSchema` keep inference. */
class FooterSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.tablesDir("0.001")

  Seq("false", "true").foreach { nanosAsLong =>
    test(s"footer schema == inferred schema for every table (nanosAsLong=$nanosAsLong)") {
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        Tables.names.foreach { t =>
          val path = s"$dir/$t.parquet"
          val inferred = spark.read.parquet(path).schema
          assert(Tables.footerSchema(spark, path).isDefined, t)
          val (df, jobs) = jobsDuring(Tables.read(spark, path))
          assert(df.schema == inferred, t)
          assert(jobs == 0, s"$t: reading a single file ran $jobs job(s)")
        }
      }
    }
  }

  test("Tables.events normalizes ts the same through the footer schema") {
    val viaInference = Tables.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    val (events, jobs) = jobsDuring(Tables.events(spark, dir))
    assert(events.schema == viaInference.schema)
    assert(jobs == 0)
    assert(events.collect().toSeq == viaInference.collect().toSeq)
  }

  test("directories, globs and mergeSchema keep Spark's inference") {
    val tmp = java.nio.file.Files.createTempDirectory("footer-spec").toString
    try {
      val out = s"$tmp/nation"
      Tables.nation(spark, dir).write.parquet(out)
      assert(Tables.footerSchema(spark, out).isEmpty)
      assert(Tables.footerSchema(spark, s"$out/*.parquet").isEmpty)
      val (fromDir, jobs): (DataFrame, Int) = jobsDuring(Tables.read(spark, out))
      assert(jobs >= 1, "a directory read must run Spark's inference job")
      assert(fromDir.schema == spark.read.parquet(out).schema)
      assert(fromDir.count() == 25)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val path = s"$dir/orders.parquet"
      assert(Tables.footerSchema(spark, path).isEmpty)
      val (_, jobs) = jobsDuring(Tables.read(spark, path))
      assert(jobs >= 1, "mergeSchema must go through Spark's inference")
    }
    // a missing file falls through to Spark, which reports it
    assert(Tables.footerSchema(spark, s"$dir/no_such_table.parquet").isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](
      Tables.read(spark, s"$dir/no_such_table.parquet"))
  }
}
