package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Caches
import graft.functions.{Hashing, TextFunctions}

/** Kernel probes for the `functions` layer (traced run only): each public
  * kernel is projected over the corpus_store inputs of this seed, held in
  * memory so that the scan costs almost nothing, and timed per row. */
object Probes {
  /** Copies of the history corpus, so one pass takes long enough to time
    * well above Spark's per-job overhead. */
  val Copies = 20
  val Reps = 5

  def run(ctx: Ctx): Map[String, Double] = {
    import ctx._
    import spark.implicits._
    val plan = Gen.corpusPlan(seed, 1)
    val ids = plan.historyIds
    def held(df: DataFrame): (DataFrame, Long) = {
      val p = Caches.persist(df.crossJoin(spark.range(Copies).toDF("__copy"))
        .drop("__copy").repartition(nproc))
      (p, p.count())
    }
    val text = ids.map(id => (id, plan.text(id))).toDF("doc_id", "text")
    val (docs, shingles, vecs) = tracer.span("functions.inputs") {
      (held(text),
        held(text.select(Hashing.hashedWordShingles(col("text"), 3).as("sh"))),
        held(ids.filter(Gen.hasEmbedding)
          .map(id => Gen.embedding(id).map(_.toDouble)).toDF("v")))
    }
    def nsPerRow(name: String, in: (DataFrame, Long),
        kernel: org.apache.spark.sql.Column): Double =
      tracer.span(s"functions.$name") {
        val secs = (0 until Reps).map(_ => Workloads.timed(
          in._1.select(kernel.as("x")).write.format("noop")
            .mode("overwrite").save()))
        Stats.median(secs) * 1e9 / in._2
      }
    val out = Map(
      "functions.word_shingles_ns_row" -> nsPerRow("word_shingles", docs,
        Hashing.wordShingles(col("text"), 8)),
      "functions.minhash_sig_ns_row" -> nsPerRow("minhash_sig", shingles,
        Hashing.minhashSig(col("sh"), 64)),
      "functions.fingerprint_ns_row" -> nsPerRow("fingerprint", docs,
        TextFunctions.fingerprint(col("text"))),
      "functions.dot_product_ns_row" -> nsPerRow("dot_product", vecs,
        Hashing.dotProduct(col("v"), col("v"))))
    Caches.releaseAll()
    out
  }
}
