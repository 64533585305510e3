package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}

/** Order-insensitive digest of a query result: row count plus the wrapping
  * 64-bit sum of each row's xxhash64. Computed on the executors over the
  * forced physical plan (`queryExecution.toRdd`), the same plan the timed
  * passes execute, and only the two sums per partition are collected. */
object Digest {
  def of(df: DataFrame): String = {
    val refs = df.queryExecution.analyzed.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    }
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val hash = XxHash64(refs, 42L)
      var n = 0L
      var sum = 0L
      rows.foreach { r => n += 1; sum += hash.eval(r).asInstanceOf[Long] }
      Iterator((n, sum))
    }.collect()
    f"rows=${parts.map(_._1).sum} xxh64sum=${parts.map(_._2).sum}%016x"
  }

  /** `name<TAB>digest` lines, as written by [[DigestTool]]. */
  def load(path: java.nio.file.Path): Map[String, String] =
    java.nio.file.Files.readAllLines(path).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
}

/** Writes the expected digests from `graft.Verify` output directories whose
  * results passed `tools/check.py` against DuckDB:
  * `DigestTool <verify-out-dir> <expected-file> <query>...`. */
object DigestTool {
  def main(args: Array[String]): Unit = {
    val (outDir, file, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = Main.session(Runtime.getRuntime.availableProcessors, "target/digest-tool")
    val lines = names.sorted.map(n => s"$n\t${Digest.of(spark.read.parquet(s"$outDir/$n"))}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      "# query\tdigest (rows + wrapping sum of per-row xxhash64), from DuckDB-checked outputs\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
