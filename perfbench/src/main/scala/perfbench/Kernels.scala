package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel

/** The kernel leg: each native `graft.exprs` expression called by name
  * through `call_function` over a fixed column of the benchmark tables,
  * replicated to a fixed row count and cached, so the forced projection
  * spends its time in the kernel. Reports rows per second, the median of
  * a few forced runs. */
object Kernels {
  val names: Seq[String] = Seq("simhash64", "minhash_bands", "jaccard_sim", "cosine_sim",
    "shingle_w", "text_quality_stats", "dup_ngram_stats", "boundary_bucket")

  // 5000 documents x 2 and 2000 embeddings x 50: 10k and 100k rows
  private val DocCopies = 2
  private val EmbCopies = 50
  private val Reps = 3

  def run(spark: SparkSession, dataDir: String): Map[String, Double] = {
    graft.exprs.GraftFunctions.register(spark)
    val copies = (n: Int) => spark.range(n).withColumnRenamed("id", "copy")

    val docs0 = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(F.col("doc_id"), F.col("text"))
      .withColumn("tokens", graft.pipeline.TextOps.tokens(F.col("text")))
      .withColumn("shingles", F.call_function("shingle_w", F.col("tokens"), F.lit(3)))
    // each document's shingles next to those of the following document
    val next = docs0.select((F.col("doc_id") - 1).as("doc_id"), F.col("shingles").as("shingles_b"))
    val docs = docs0.join(next, Seq("doc_id"), "left")
      .withColumn("shingles_b", F.coalesce(F.col("shingles_b"), F.col("shingles")))
      .crossJoin(copies(DocCopies))
      .persist(StorageLevel.MEMORY_ONLY)

    val emb0 = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(F.col("vec_id"), F.col("embedding"))
    val embNext = emb0.select((F.col("vec_id") - 1).as("vec_id"), F.col("embedding").as("embedding_b"))
    val emb = emb0.join(embNext, Seq("vec_id"), "left")
      .withColumn("embedding_b", F.coalesce(F.col("embedding_b"), F.col("embedding")))
      .withColumn("v", F.col("embedding")(0).cast("double"))
      .crossJoin(copies(EmbCopies))
      .persist(StorageLevel.MEMORY_ONLY)
    val docRows = docs.count()
    val embRows = emb.count()

    // 255 boundaries at the quantiles of the probe column
    val bounds = emb.stat.approxQuantile("v", (1 until 256).map(_ / 256.0).toArray, 0.0).distinct.sorted

    def kernel(name: String): (DataFrame, Seq[Column]) = name match {
      case "simhash64" => (docs, Seq(F.col("tokens")))
      case "minhash_bands" => (docs, Seq(F.col("shingles"), F.lit(32), F.lit(8)))
      case "jaccard_sim" => (docs, Seq(F.col("shingles"), F.col("shingles_b")))
      case "cosine_sim" => (emb, Seq(F.col("embedding"), F.col("embedding_b")))
      case "shingle_w" => (docs, Seq(F.col("tokens"), F.lit(3)))
      case "text_quality_stats" => (docs, Seq(F.col("text")))
      case "dup_ngram_stats" => (docs, Seq(F.col("text")))
      case "boundary_bucket" => (emb, Seq(F.col("v"), F.lit(bounds)))
    }

    val out = names.map { name =>
      val (input, args) = kernel(name)
      val rows = if (input eq docs) docRows else embRows
      val secs = (1 to Reps).map { _ =>
        val df = input.select(F.call_function(name, args: _*).as("k"))
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> rows / secs(Reps / 2)
    }.toMap
    docs.unpersist(true)
    emb.unpersist(true)
    out
  }
}
