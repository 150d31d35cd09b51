package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{ByteFunctions, TextFunctions, VectorFunctions}

/** Cost per row of the native Catalyst kernels, called through their
  * public column functions over a seeded replication of `documents` and
  * `embeddings` that is cached and counted before timing. Each figure is
  * the median of `Reps` timed scans of the cached rows that evaluate the
  * kernel once per row, so it includes the (fixed) cost of the scan.
  */
object Kernels {
  val Reps = 3

  def textKernels(seed: Long): Seq[(String, Column)] = {
    val rnd = new Random(seed)
    val lw = Array.fill(256)(rnd.nextInt(2000000).toLong - 1000000L)
    val merges = Seq(("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("a", "t"))
    val t = col("text")
    Seq(
      "word_shingles" -> size(TextFunctions.wordShingles(t, 5)),
      "md5_bits64" -> TextFunctions.md5Bits64(t),
      "doc_gram_counts" -> size(TextFunctions.docGramCounts(t, 2)),
      "dsir_score" -> TextFunctions.dsirScore(t, lw, 2),
      "bpe_count" -> TextFunctions.bpeCount(t, merges),
      "shannon_entropy" -> ByteFunctions.shannon_entropy(t.cast("binary")))
  }

  def vectorKernels(seed: Long): Seq[(String, Column)] = {
    val rnd = new Random(seed)
    val codebook = Array.fill(8, 16, 8)(rnd.nextGaussian())
    val planes = VectorFunctions.md5SignPlanes(4, 8, 64)
    val (e, f) = (col("e"), col("f"))
    Seq(
      "cosine" -> VectorFunctions.cosine(e, f),
      "pq_codes" -> size(VectorFunctions.pqCodes(e, codebook)),
      "sign_buckets" -> size(VectorFunctions.signBuckets(e, planes)),
      "int_dot" -> VectorFunctions.intDot(col("ie"), col("if")))
  }

  /** ns per row of each kernel, by kernel name. */
  def run(spark: SparkSession, data: String, seed: Long, docCopies: Int,
      vecCopies: Int): Seq[(String, Double)] = {
    def replicate(df: DataFrame, n: Int) =
      df.crossJoin(spark.range(n).withColumnRenamed("id", "_copy"))
    val docs = replicate(Tables.load(spark, data, "documents").select("doc_id", "text"), docCopies)
      .select(concat(col("text"), lit(" "), (col("_copy") + seed).cast("string")).as("text"))
      .cache()
    val vecs = replicate(Tables.load(spark, data, "embeddings").select("embedding"), vecCopies)
      .select(col("embedding").cast("array<double>").as("e"),
        reverse(col("embedding")).cast("array<double>").as("f"))
      .select(col("e"), col("f"),
        transform(col("e"), x => (x * 1000).cast("int")).as("ie"),
        transform(col("f"), x => (x * 1000).cast("int")).as("if"))
      .cache()
    try {
      val nd = docs.count().toDouble
      val nv = vecs.count().toDouble
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def time(df: DataFrame, c: Column): Double = med((1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        df.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      })
      textKernels(seed).map { case (k, c) => k -> time(docs, c) / nd } ++
        vectorKernels(seed).map { case (k, c) => k -> time(vecs, c) / nv }
    } finally {
      docs.unpersist()
      vecs.unpersist()
    }
  }
}
