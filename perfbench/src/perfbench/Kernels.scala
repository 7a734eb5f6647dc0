package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A native kernel, called through its registered SQL name: `call` applies
  * it to `arg`, and `arg` alone is the baseline projection. Inputs are a
  * `text` column or an `embedding` column. */
final case class Kernel(name: String, input: String, arg: String, call: String)

object Kernels {
  private val tokens = "split(text, ' ')"
  private val hashes = s"transform($tokens, w -> xxhash64(w))"

  val all: Seq[Kernel] = Seq(
    Kernel("minhash_sig", "text", hashes, s"minhash_sig($hashes, 64)"),
    Kernel("word_grams", "text", tokens, s"word_grams($tokens, 3)"),
    Kernel("term_match_array", "text", "text", "term_match_array(text)"),
    Kernel("vec_cosine", "embedding", "embedding", "vec_cosine(embedding, embedding)"))

  private val Copies = 8
  private val Reps = 5

  /** ns per row of each named kernel: a projection-only op over `input`
    * (copied [[Copies]] times and checkpointed), median of [[Reps]] timed
    * runs, minus the same projection without the kernel. */
  def measure(ctx: Ctx, names: Seq[String], input: DataFrame): Map[String, Double] = {
    val chosen = all.filter(k => names.contains(k.name) && input.columns.contains(k.input))
    if (chosen.isEmpty) return Map.empty
    val rows = input.withColumn("_copy", explode(sequence(lit(1), lit(Copies))))
      .drop("_copy").localCheckpoint()
    val n = rows.count().toDouble
    def ms(expr: String): Double = {
      def once() = {
        val t0 = System.nanoTime()
        rows.selectExpr(s"$expr AS o").queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e6
      }
      once()
      Stats.median((1 to Reps).map(_ => once()))
    }
    chosen.map(k => k.name -> (ms(k.call) - ms(k.arg)) * 1e6 / n).toMap
  }
}
