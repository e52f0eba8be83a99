package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** Per-row cost of the engine's native expressions: each is one
  * projection through GraftFunctions over the fixture's corpus
  * columns, replicated to a fixed row count and held in memory, timed
  * against the same projection without the expression. Median of
  * five; nanoseconds per row. */
object FunctionProbe {
  private val Reps = 5

  private def time(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count()
    (System.nanoTime() - t0).toDouble
  }

  private def perRow(input: DataFrame, base: Column, probe: Column, rows: Long): Double = {
    val b = input.select(base)
    val p = input.select(probe)
    time(b); time(p)
    val ds = (1 to Reps).map(_ => time(p) - time(b)).sorted
    ds(Reps / 2) / rows
  }

  private def replicated(df: DataFrame, rows: Long): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val copies = ((rows + n - 1) / n).toInt
    val r = df.withColumn("_copy", explode(sequence(lit(1), lit(copies))))
      .drop("_copy").persist(StorageLevel.MEMORY_ONLY)
    (r, r.count())
  }

  def apply(spark: SparkSession, dir: String): Record = {
    GraftFunctions.ensureRegistered(spark)
    val (docs, nDocs) = replicated(graft.Tables.documents(spark, dir).select("text"), 40000L)
    val (vecs, nVecs) = replicated(graft.Tables.embeddings(spark, dir).select("embedding"), 32000L)
    val rnd = new scala.util.Random(7L)
    val (tables, bits) = (8, 8)
    val planes = Seq.fill(tables * bits * 64)(rnd.nextGaussian())
    val text = col("text")
    val vec = col("embedding")
    val r = Record(
      "simhash64_ns_per_row" -> perRow(docs, length(text), GraftFunctions.simHash64(text), nDocs),
      "lsh_signature_ns_per_row" -> perRow(vecs, size(vec),
        GraftFunctions.lshSignature(vec, planes, tables, bits), nVecs),
      "vec_dot_ns_per_row" -> perRow(vecs, size(vec), GraftFunctions.vecDot(vec, vec), nVecs),
      "char_ngrams_ns_per_row" -> perRow(docs, length(text),
        size(GraftFunctions.charNgrams(text, 3)), nDocs),
      "rolling_fingerprint_ns_per_row" -> perRow(docs, length(text),
        GraftFunctions.rollingFingerprint(text), nDocs))
    docs.unpersist(); vecs.unpersist()
    r
  }
}
