package perfbench

import graft.functions.{HashFns, TextFns, VectorFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}

/** The `functions` layer on its own: rows per second of five codegen'd
  * kernels, each reading a cached in-memory frame of its input (no scan,
  * no shuffle) and writing to the `noop` sink, so a kernel regression can
  * be told apart from plan or driver cost.
  */
object Kernels {
  val reps = 5

  private def cached(df: DataFrame, parts: Int): DataFrame = {
    val c = df.repartition(parts).cache()
    c.write.format("noop").mode("overwrite").save()
    c
  }

  /** Median seconds of `reps` noop writes of `df`. */
  private def time(df: DataFrame): Double = {
    df.write.format("noop").mode("overwrite").save() // JIT + codegen
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(reps / 2)
  }

  def run(spark: SparkSession, dataDir: String, copies: Int = 8): Map[String, Any] = {
    val parts = spark.sparkContext.defaultParallelism
    // the seeded docs and vectors, replicated so each pass is long enough
    // that per-job overhead stays a small share of the measured time
    def replicated(t: String) = spark.read.parquet(s"$dataDir/$t.parquet")
      .withColumn("copy", explode(sequence(lit(1), lit(copies))))
    val docs = cached(replicated("kernel_docs").select(col("text")), parts)
    val norm = cached(docs.select(TextFns.normalizeText(col("text")).as("t")), parts)
    val hs = cached(norm.select(HashFns.sortedPortableShingleHashSet(col("t"), 5).as("hs")), parts)
    val pairs = cached(spark.read.parquet(s"$dataDir/kernel_docs.parquet")
      .select(col("doc_id"), HashFns.sortedPortableShingleHashSet(
        TextFns.normalizeText(col("text")), 5).as("hs"))
      .withColumn("copy", explode(sequence(lit(1), lit(copies)))).as("a")
      .join(spark.read.parquet(s"$dataDir/kernel_docs.parquet")
        .select((col("doc_id") - 1).as("doc_id"), HashFns.sortedPortableShingleHashSet(
          TextFns.normalizeText(col("text")), 5).as("hs_b")), "doc_id")
      .select(col("hs"), col("hs_b")), parts)
    val qv = cached(replicated("kernel_vecs").select(VectorFns.quantizeFixedPoint(
      col("embedding"), graft.operators.Similarity.fixedPointScale).as("qv")), parts)
    val cents = qv.limit(16).collect().map(_.getSeq[Long](0).toArray)

    val n = docs.count()
    val np = pairs.count()
    val nv = qv.count()
    val out = Map(
      "normalize_rows_per_s" -> n / time(docs.select(TextFns.normalizeText(col("text")))),
      "shingle_rows_per_s" -> n / time(norm.select(HashFns.sortedPortableShingleHashSet(col("t"), 5))),
      "minhash_rows_per_s" -> n / time(hs.select(HashFns.portableMinhashSig(col("hs"), 32))),
      "jaccard_pairs_per_s" -> np / time(pairs.select(HashFns.jaccardSortedLong(col("hs"), col("hs_b")))),
      "ivf_assign_rows_per_s" -> nv / time(qv.select(VectorFns.centroidSqDistsI64(col("qv"), cents))),
      "rows" -> n, "pairs" -> np, "vectors" -> nv)
    Seq(docs, norm, hs, pairs, qv).foreach(_.unpersist(true))
    out
  }
}
