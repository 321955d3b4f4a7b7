package graft.perfbench

import graft.functions.TextHashes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel roofline probe (traced runs only): rows/s of `fvec_dot`,
  * `fvec_avg`, `minhash_sigs` and `word_ngrams` through `spark.sql` over
  * the workload's own vectors and paragraph texts, against one plain
  * Scala thread running the same arithmetic (or the same kernel
  * function) over the same arrays. `vs_scala` is the Spark rate over
  * the Scala rate: Spark runs on every core, so a ratio near 1 or below
  * means the query is plan-bound, well above 1 kernel-bound.
  */
object Kernels {

  private def timeMs(f: => Any): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
  /** Median of three timed repeats after one untimed warm-up. */
  private def med3(f: => Any): Double = { f; PerfBench.median(Seq.fill(3)(timeMs(f))) }

  def probe(spark: SparkSession, tr: Tracer, dir: String): Map[String, Double] = {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/data/embeddings.parquet").orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val texts = spark.read.parquet(s"$dir/para/documents.parquet").orderBy("doc_id")
      .select("text").collect().map(_.getString(0))
    val n = vecs.length
    val vReps = math.max(1, 200000 / n)
    val tReps = math.max(1, 10000 / texts.length)
    val pairs = vecs.indices.map(i => (i.toLong, vecs(i), vecs((i + 1) % n))).toDF("id", "a", "b")
      .crossJoin(spark.range(vReps).toDF("rep")).persist()
    val docs = texts.toSeq.toDF("text").crossJoin(spark.range(tReps).toDF("rep"))
      .select(col("text"), call_function("word_ngrams", col("text"), lit(3)).as("sh")).persist()
    pairs.count(); docs.count()
    val vRows = n.toDouble * vReps
    val tRows = texts.length.toDouble * tReps

    def viaSpark(df: => DataFrame): Double = med3(tr.span("functions") { tr.rows(df.collect().length) })
    val shingles: Array[ArrayData] = texts.map(t => TextHashes.wordNGrams(UTF8String.fromString(t), 3))

    val sparkMs = Map(
      "fvec_dot" -> viaSpark(pairs.agg(sum(call_function("fvec_dot", col("a"), col("b"))))),
      "fvec_avg" -> viaSpark(pairs.groupBy(col("rep")).agg(call_function("fvec_avg", col("a"), lit(64)))),
      "minhash_sigs" -> viaSpark(docs.agg(sum(element_at(call_function("minhash_sigs", col("sh")), 1)))),
      "word_ngrams" -> viaSpark(docs.agg(sum(size(call_function("word_ngrams", col("text"), lit(3)))))))
    var sink = 0.0
    val scalaMs = Map(
      "fvec_dot" -> med3 {
        var r = 0
        while (r < vReps) { var i = 0; while (i < n) { sink += Exact.dot(vecs(i), vecs((i + 1) % n)); i += 1 }; r += 1 }
      },
      "fvec_avg" -> med3 {
        var r = 0
        while (r < vReps) {
          val acc = new Array[Double](64)
          var i = 0
          while (i < n) { var d = 0; while (d < 64) { acc(d) += vecs(i)(d); d += 1 }; i += 1 }
          sink += acc(0) / n; r += 1
        }
      },
      "minhash_sigs" -> med3 {
        for (_ <- 0 until tReps; s <- shingles) sink += TextHashes.minhashSigs(s).getLong(0)
      },
      "word_ngrams" -> med3 {
        for (_ <- 0 until tReps; t <- texts) sink += TextHashes.wordNGrams(UTF8String.fromString(t), 3).numElements()
      })
    pairs.unpersist(); docs.unpersist()
    val rows = Map("fvec_dot" -> vRows, "fvec_avg" -> vRows, "minhash_sigs" -> tRows, "word_ngrams" -> tRows)
    if (sink.isNaN) System.err.println("[perfbench] kernel sink is NaN")
    rows.keys.toSeq.flatMap { k =>
      val sparkRate = rows(k) / (sparkMs(k) / 1000)
      val scalaRate = rows(k) / (scalaMs(k) / 1000)
      Seq(s"functions.$k.rows_per_s" -> sparkRate, s"functions.$k.vs_scala" -> sparkRate / scalaRate)
    }.toMap
  }
}
