package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VecFns}
import graft.operators.{Embeddings, NearDup}

/** Rows per second of the native kernels, each driven through its public
  * Column function over a fixed seeded in-memory batch. The batch is
  * cached and counted first, so the timed pass is the kernel plus a noop
  * sink. */
object KernelBench {
  val Rows = 20000
  val Reps = 3

  def run(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    import spark.implicits._
    val r = Seeded.rng(ctx.seed, 4)
    def words(n: Int) = Seq.fill(n)(Seeded.Vocab(r.nextInt(Seeded.Vocab.size))).mkString(" ")
    val rows = (0 until Rows).map { i =>
      val text = words(10 + r.nextInt(60))
      // every 7th line carries an e-mail, every 11th a card number
      val log = s"""{"k": ${r.nextInt(100)}} user${i % 97}""" +
        (if (i % 7 == 0) s" mail u$i@example.com" else "") +
        (if (i % 11 == 0) " card 4111 1111 1111 1111" else "")
      (text, log, Array.fill(64)(r.nextGaussian()), Array.fill(64)(r.nextGaussian()))
    }
    val batch = rows.toDF("text", "log", "a", "b").repartition(ctx.cpus)
      .withColumn("toks", TextFns.wsTokens(col("text")))
      .withColumn("shingles", NearDup.wordShingles(col("text"), 3))
      .cache()
    batch.count()
    def rate(kernel: Column): Double = {
      val secs = (1 to Reps).map(_ => Main.timed(
        batch.select(kernel.as("k")).write.format("noop").mode("overwrite").save())._2)
      Rows / Stats.median(secs)
    }
    val out = Map(
      "kernels.embed_col.rows_per_s" -> rate(Embeddings.embedCol(col("log"))),
      "kernels.redact_pii.rows_per_s" -> rate(TextFns.redactPii(col("log"))),
      "kernels.vec_dot.rows_per_s" -> rate(VecFns.dot(col("a"), col("b"))),
      "kernels.minhash_sig.rows_per_s" -> rate(NearDup.minhashSig(col("shingles"), 128)),
      "kernels.simhash_sig.rows_per_s" -> rate(NearDup.simhashSig(col("toks"))),
      "kernels.bpe_token_count.rows_per_s" -> rate(TextFns.bpeTokenCount(col("text"))))
    batch.unpersist()
    out
  }
}
