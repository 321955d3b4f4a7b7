package graft.perfbench

import graft.Graft
import graft.operators.{Ann, Dedup, Encoder, IndexBuilder, TextAnalysis}
import graft.sources.Articles
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** The lifecycle calls the workloads time, each wrapped in a span named
  * after the layer it enters. Results come back to the caller so the
  * checks can run outside the timed region.
  */
final class Lifecycle(spark: SparkSession, tr: Tracer) {
  import spark.implicits._

  val K = Ann.GraphSearchK
  val Beam = Ann.GraphSearchBeam
  val Rounds = Ann.GraphSearchRounds
  val BatchSize = 32

  /** Counters around the stand-in encoder: calls, texts and nanoseconds
    * spent inside it (summed over task threads).
    */
  val encCalls: LongAccumulator = spark.sparkContext.longAccumulator("perfbench.enc.calls")
  val encTexts: LongAccumulator = spark.sparkContext.longAccumulator("perfbench.enc.texts")
  val encNanos: LongAccumulator = spark.sparkContext.longAccumulator("perfbench.enc.nanos")
  private val enc: Encoder.BatchEncoder = {
    val inner = Encoder.standIn(64)
    val (c, t, n) = (encCalls, encTexts, encNanos)
    texts => {
      val t0 = System.nanoTime()
      val out = inner(texts)
      n.add(System.nanoTime() - t0); c.add(1); t.add(texts.size)
      out
    }
  }

  /** Encoder counter deltas over traced encoder spans only. */
  var tracedEncCalls, tracedEncTexts, tracedEncNanos = 0L

  private def encoderSpan[A](req: Long)(body: => A): A = tr.span("encoder", req) {
    if (!tr.on) body
    else {
      val (c, t, n) = (encCalls.value, encTexts.value, encNanos.value)
      try body
      finally {
        tracedEncCalls += encCalls.value - c
        tracedEncTexts += encTexts.value - t
        tracedEncNanos += encNanos.value - n
      }
    }
  }

  private def artNum = expr("cast(substring(article_id, 2) as bigint)")

  /** Paragraph key `art * 4096 + section * 64 + paragraph`; the section
    * number leads its name, the abstract has none.
    */
  private def pidCol: org.apache.spark.sql.Column =
    artNum * 4096 +
      coalesce(expr("try_cast(regexp_extract(section_name, '^([0-9]+) ', 1) as bigint)"), lit(0L)) * 64 +
      col("paragraph_id")

  /** Articles.fromJsonl + chunkRows, written as the paragraph-level and
    * article-level `documents` tables the curation and dedup layers read.
    */
  def load(dir: String, req: Long): Unit = tr.span("sources", req) {
    val arts = Articles.fromJsonl(spark, s"$dir/articles.jsonl")
    Articles.chunkRows(arts)
      .select(pidCol.as("doc_id"), col("paragraph").as("text"), lit("en").as("lang"),
        lit("gen").as("source"))
      .write.parquet(s"$dir/para/documents.parquet")
    arts.select(artNum.as("doc_id"), expr("array_join(flatten(sections), ' ')").as("text"),
        lit("en").as("lang"), lit("gen").as("source"))
      .write.parquet(s"$dir/art/documents.parquet")
  }

  /** Keep-decision: paragraphs `TextAnalysis.curate` keeps, minus every
    * article `Dedup.minhashVerified` marks as the later of a near-dup
    * pair. Returns (kept paragraph keys, curated count, dropped articles).
    */
  def keep(dir: String, req: Long): (Array[Long], Int, Set[Long]) = {
    val curated = tr.span("textanalysis", req) {
      val k = TextAnalysis.curate(spark, s"$dir/para").select(col("doc_id")).collect().map(_.getLong(0))
      tr.rows(k.length); k
    }
    val dups = tr.span("dedup", req) {
      val d = Dedup.minhashVerified(spark, s"$dir/art").select(col("id_b")).distinct()
        .collect().map(_.getLong(0)).toSet
      tr.rows(d.size); d
    }
    (curated.filter(p => !dups(p / 4096)).sorted, curated.length, dups)
  }

  /** Every paragraph key, for corpora that need no keep-decision. */
  def allPids(dir: String): Array[Long] =
    spark.read.parquet(s"$dir/para/documents.parquet").select(col("doc_id")).collect()
      .map(_.getLong(0)).sorted

  /** Encodes the kept paragraphs (vec_id dense from 0 in key order) and
    * writes the `embeddings` table the index layers read.
    */
  def encode(dir: String, pids: Array[Long], req: Long): Unit = encoderSpan(req) {
    val ids = pids.toSeq.zipWithIndex.map { case (p, i) => (p, i.toLong) }.toDF("pid", "vec_id")
    val chunks = spark.read.parquet(s"$dir/para/documents.parquet")
      .join(broadcast(ids), col("doc_id") === col("pid"))
      .select(expr("pid div 4096").as("doc_id"), col("vec_id").as("chunk_id"), col("text").as("chunk"))
    Encoder.encodeChunks(spark, chunks, enc, BatchSize)
      .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id").cast("int").as("label"))
      .write.parquet(s"$dir/data/embeddings.parquet")
  }

  /** Encodes texts keyed by (doc, chunk) and brings the vectors back. */
  def encodeRows(rows: Seq[(Long, Long, String)], req: Long): Array[Row] = encoderSpan(req) {
    val r = Encoder.encodeChunks(spark, rows.toDF("doc_id", "chunk_id", "chunk"), enc, BatchSize).collect()
    tr.rows(r.length); r
  }

  def indexWrite(dir: String, tag: String, req: Long): (DataFrame, DataFrame) =
    tr.span("indexbuilder", req) {
      IndexBuilder.write(spark, s"$dir/data", s"$dir/index", table = s"pb_chunks_$tag")
    }

  def buildHnsw(data: String, req: Long): Unit = tr.span("ann.build", req) {
    tr.rows(Ann.hnswGraph(spark, data).count())
  }

  def publishHnsw(data: String, req: Long): Unit = tr.span("ann.publish", req) {
    tr.rows(Ann.writtenHnswGen(spark, data).count())
  }

  /** Builds and publishes the serving generations [[loadGens]] reads:
    * the flat one under the artifact root, the layered one under `dir`.
    */
  def publishServing(dir: String): Unit = {
    val data = s"$dir/data"
    Ann.writtenGraphGen(spark, data)
    Ann.publishHnswGen(spark, Graft.embeddings(spark, data), Ann.hnswGraph(spark, data), s"$dir/hnsw_gen")
  }

  /** Folds encoded delta rows (doc_id, chunk_id = vec_id, embedding)
    * into the layered graph and the MAIN/CHUNKS index. Returns the
    * merged edge frame.
    */
  def insert(dir: String, delta: Array[Row], req: Long): DataFrame = {
    val data = s"$dir/data"
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(delta.map(r => Row(r.getLong(1), r.getSeq[Float](2), r.getLong(0).toInt)): _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
        StructField("doc_key", IntegerType))))
    val merged = tr.span("ann.insert", req) {
      val m = Ann.hnswInsertBatch(Graft.embeddings(spark, data), Ann.hnswGraph(spark, data),
        batch.select(col("vec_id"), col("embedding"))).localCheckpoint(true)
      tr.rows(m.count()); m
    }
    tr.span("indexbuilder", req) {
      IndexBuilder.upsert(spark, s"$dir/index",
        batch.select(col("doc_key"), col("vec_id").as("chunk_id"), col("embedding")), s"$dir/index_v2")
    }
    merged
  }

  /** Loads the published generations a serving tier starts from: the
    * flat adjacency + entry set (`Ann.writtenGraphGen`'s layout) and the
    * layered adjacency + entry set (`Ann.publishHnswGen`'s layout), each
    * persisted so walk rounds probe memory.
    */
  def loadGens(serving: String, req: Long): Gens = tr.span("ann.publish", req) {
    def load(path: String) = {
      val df = spark.read.parquet(path).persist()
      tr.rows(df.count()); df
    }
    val flat = s"$serving/artifacts/graft_gen/${serving.replaceAll("[^A-Za-z0-9]", "_")}_data"
    val hEntry = load(s"$serving/hnsw_gen/entry")
    Gens(load(s"$flat/adjacency"), load(s"$flat/entry"), load(s"$serving/hnsw_gen/adjacency"),
      hEntry.select(col("node"), col("nv")), hEntry.select(max(col("level"))).head().getLong(0))
  }

  /** One walk over an encoded query frame, off the loaded generations:
    * `flat` (`Ann.beamSearchBatch`), `layered` (the layered descent) and
    * `filtered` (the layered walk under the ~20% label filter of
    * `Ann.GraphSearchFilterMod`). Batches above `distThreshold` take the
    * distributed route; the layered one walks the live index of `data`.
    * The span names the route.
    */
  def walk(g: Gens, data: String, op: String, queries: DataFrame, nq: Int, req: Long,
           distThreshold: Int = Ann.GraphSearchDistQ): Array[Row] = {
    val dist = nq > distThreshold
    tr.span(if (dist) "ann.walk_dist" else "ann.walk_driver", req) {
      val df = op match {
        case "flat" =>
          Ann.beamSearchBatch(spark, g.flatAdj, g.flatEntry, queries, K, Beam, Rounds, distThreshold)
        case "layered" if dist =>
          Ann.hnswSearchBatch(spark, data, Ann.hnswGraph(spark, data), "hnsw_search_index", queries,
            K, Beam, Rounds, distThreshold)
        case "layered" =>
          Ann.hnswWalkDriverOver(spark, g.hAdj, g.hEntry, g.maxLevel, queries, K, Beam, Rounds)
        case "filtered" =>
          Ann.hnswWalkFilteredDriver(spark, data, g.hAdj, queries, K, Beam, Rounds,
            Ann.GraphSearchFilterMod, Ann.GraphSearchFilterRes, entryOverride = Some((g.hEntry, g.maxLevel)))
      }
      val r = df.collect()
      tr.rows(r.length); r
    }
  }

  /** Query frame (q_id, qv) from encoder output rows. */
  def queryFrame(rows: Array[Row]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.getLong(0), r.getSeq[Float](2))): _*),
      StructType(Seq(StructField("q_id", LongType), StructField("qv", ArrayType(FloatType)))))
}

/** Loaded serving generations (see [[Lifecycle.loadGens]]). */
final case class Gens(flatAdj: DataFrame, flatEntry: DataFrame, hAdj: DataFrame, hEntry: DataFrame,
                      maxLevel: Long)

/** Plain-Scala exact search over the corpus vectors: the reference the
  * walks' recall is measured against. Scores use the walks' formula
  * (double dot, cosine rounded to 6 places, ties by lower id).
  */
final class Exact(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int]) {
  private val norms = vecs.map(v => math.sqrt(Exact.dot(v, v)))
  def label(id: Long): Int = labels(id.toInt)

  def top(q: Array[Float], k: Int, filter: Option[(Long, Long)]): Seq[Long] = {
    val qn = math.sqrt(Exact.dot(q, q))
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    var i = 0
    while (i < ids.length) {
      if (filter.forall { case (m, r) => Math.floorMod(labels(i).toLong, m) == r }) {
        val s = math.round(Exact.dot(vecs(i), q) / (norms(i) * qn) * 1e6) / 1e6
        heap.enqueue((s, ids(i)))
        if (heap.size > k) heap.dequeue()
      }
      i += 1
    }
    heap.toSeq.sortBy(t => (-t._1, t._2)).map(_._2)
  }
}

object Exact {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def load(spark: SparkSession, data: String): Exact = {
    val rows = spark.read.parquet(s"$data/embeddings.parquet").orderBy(col("vec_id")).collect()
    require(rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i }, "vec_ids are not dense from 0")
    new Exact(rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray), rows.map(_.getInt(2)))
  }
}
