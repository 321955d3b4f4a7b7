package graft.perfbench

import graft.Graft
import graft.operators.Encoder
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.control.NonFatal

import PerfBench._

/** The three workloads. Each sets up once, from session start, then
  * runs its ops in a closed loop for `seconds` of op time, in whole
  * cycles or whole rounds of every op type, checking every op's output
  * outside the timed region. Traced runs trace the set-up and run their
  * rounds in pairs on the same inputs, one traced and one untraced,
  * which gives the tracing overhead.
  */
object Workloads {

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def rotation(ops: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(ops)

  /** Size of the cached and checkpointed data, memory plus disk. Block
    * manager usage would also count broadcast blocks, whose cleanup
    * waits on the garbage collector.
    */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def safe(dir: String) = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Whether round `i` of a traced run is traced. Rounds 2k and 2k+1 run
    * the same inputs, one traced and one not; the traced one goes first
    * in even pairs and second in odd ones, so warm-up drift cancels.
    */
  private def tracedRound(i: Int): Boolean = (i % 2 == 0) != ((i / 2) % 2 == 1)

  /** Mean over op types of the median traced-minus-untraced latency over
    * the complete pairs of [[tracedRound]]; 0 without a complete pair.
    * Keys are (op, pair, traced).
    */
  private def traceOverhead(pairMs: collection.Map[(String, Int, Boolean), Double]): Double = {
    val perOp = pairMs.toSeq.collect { case ((op, k, true), t) if pairMs.contains((op, k, false)) =>
      op -> (t - pairMs((op, k, false)))
    }.groupBy(_._1).values.map(d => median(d.map(_._2)))
    if (perOp.isEmpty) 0.0 else perOp.sum / perOp.size
  }

  // ---------------------------------------------------------------- ingest

  final case class Cycle(kept: Array[Long], curated: Int, dups: Set[Long], main: DataFrame,
                         chunks: DataFrame, merged: DataFrame, buildMs: Double, insertMs: Double)

  /** Steps 1-6 (load, keep-decision, encode, MAIN/CHUNKS write, layered
    * build, publish + load) on a fresh dir, then the insert op.
    */
  def cycle(lc: Lifecycle, corpus: Corpus, dir: String, tag: String, req: Long): Cycle = {
    val tb = System.nanoTime()
    lc.load(dir, req)
    val (kept, curated, dups) = lc.keep(dir, req)
    lc.encode(dir, kept, req)
    val (main, chunks) = lc.indexWrite(dir, tag, req)
    lc.buildHnsw(s"$dir/data", req)
    lc.publishHnsw(s"$dir/data", req)
    val buildMs = ms(tb)
    val ti = System.nanoTime()
    val n = kept.length.toLong
    val delta = lc.encodeRows(corpus.delta.zipWithIndex.map { case ((doc, text), i) =>
      (doc.toLong, n + i, text) }, req)
    val merged = lc.insert(dir, delta, req)
    Cycle(kept, curated, dups, main, chunks, merged, buildMs, ms(ti))
  }

  private def checkCycle(spark: SparkSession, corpus: Corpus, c: Cycle, dir: String,
                         res: Result, seed: Long): Unit = {
    val expected = corpus.expectedKept.map(_.pid).sorted
    res.check("keep_decision", c.kept.toSeq == expected,
      s"kept ${c.kept.length} paragraphs, expected ${expected.size}")
    val mainRows = c.main.count()
    res.check("main_rows", mainRows == corpus.keptArticles, s"$mainRows != ${corpus.keptArticles}")
    val chunkRows = c.chunks.count()
    res.check("chunks_rows", chunkRows == c.kept.length, s"$chunkRows != ${c.kept.length}")
    // doc_vec = mean of the doc's chunk vectors, on a seeded sample
    val keys = new scala.util.Random(seed).shuffle(c.kept.map(p => (p / 4096).toInt).distinct.toSeq).take(5)
    val docVecs = c.main.filter(col("doc_key").isin(keys: _*)).select("doc_key", "doc_vec").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val chunkVecs = c.chunks.filter(col("doc_key").isin(keys: _*)).select("doc_key", "embedding").collect()
      .groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(_.getSeq[Float](1).toArray) }
    for (k <- keys) {
      val vs = chunkVecs.getOrElse(k, Array.empty[Array[Float]])
      val mean = Array.tabulate(64)(d => vs.map(_(d).toDouble).sum / math.max(vs.length, 1))
      val got = docVecs.getOrElse(k, Array.empty[Double])
      res.check("doc_vec_mean", got.length == 64 && vs.nonEmpty &&
        got.indices.forall(d => math.abs(got(d) - mean(d)) <= 1e-9), s"doc_key $k")
    }
    val n = c.kept.length.toLong
    val inserted = (n until n + corpus.delta.size).toSet
    val nodes = c.merged.filter(col("src") >= n).select("src").distinct().collect().map(_.getLong(0)).toSet
    res.check("inserted_nodes", nodes == inserted, s"${nodes.size} of ${inserted.size} inserted ids in graph")
    val upserted = spark.read.parquet(s"$dir/index_v2/main").count()
    res.check("upsert_rows", upserted == corpus.keptArticles + corpus.delta.size,
      s"$upserted != ${corpus.keptArticles + corpus.delta.size}")
  }

  /** No set-up beyond the session: every cycle ingests raw JSONL on a
    * fresh dir, the first one in a fresh JVM, as a batch ingest job runs.
    */
  def ingest(spark: SparkSession, lc: Lifecycle, tr: Tracer, corpus: Corpus, res: Result,
             runDir: String, seconds: Int, traced: Boolean, t0: Long): Unit = {
    res.setups += ms(t0) / 1000
    res.ops = Seq("build", "insert")
    val pairMs = mutable.Map.empty[(String, Int, Boolean), Double]
    var i = 0
    var total = 0.0
    while (total < seconds * 1000.0 || i == 0) {
      val dir = s"$runDir/cycle$i"
      corpus.writeJsonl(s"$dir/articles.jsonl", clean = false)
      Graft.releaseCaches()
      if (traced) tr.on = tracedRound(i)
      res.attempted += 2
      val tc = System.nanoTime()
      try {
        val c = cycle(lc, corpus, dir, s"c$i", i)
        res.sample("build", c.buildMs)
        res.sample("insert", c.insertMs)
        res.items += corpus.paragraphs.size + corpus.delta.size
        total += c.buildMs + c.insertMs
        if (traced) pairMs(("cycle", i / 2, tr.on)) = c.buildMs + c.insertMs
        tr.on = false
        if (i == 0) {
          res.cachedMb = storageMb(spark)
          res.indexMb = dirMb(s"$dir/index/main") + dirMb(s"$dir/index/chunks") +
            dirMb(s"${Graft.artifactRoot}/graft_hnsw_gen/${safe(s"$dir/data")}")
          res.dataDir = dir
          res.extra("textanalysis.kept_frac") = c.curated.toDouble / corpus.paragraphs.size
          res.extra("dedup.kept_frac") = 1.0 - c.dups.size.toDouble / corpus.articles.size
        }
        checkCycle(spark, corpus, c, dir, res, corpus.seed + i)
      } catch {
        case NonFatal(e) =>
          res.failed += 2
          total += ms(tc)
          System.err.println(s"[perfbench] cycle $i failed: $e")
      }
      i += 1
    }
    res.wallMs = total
    if (traced) res.extra("trace.overhead_ms") = traceOverhead(pairMs)
  }

  // ------------------------------------------------------ serve, batch_serve

  /** Serving starts from the generations `prepare` published for the
    * serving corpus: set-up loads them, as a restarted serving replica
    * does, and (Q=20 only) warms up one request per op on batch 0, which
    * the first measured round repeats.
    */
  def serve(spark: SparkSession, lc: Lifecycle, tr: Tracer, corpus: Corpus, res: Result,
            serving: String, seed: Long, seconds: Int, traced: Boolean, t0: Long,
            batch: Boolean): Unit = {
    val ops = rotation(if (batch) Seq("flat", "layered") else Seq("flat", "layered", "filtered"), seed)
    res.ops = ops
    val pool: Vector[Vector[String]] =
      if (batch) Vector(corpus.queries(seed, BatchQ))
      else Vector.tabulate(ServePool)(b => corpus.queries(seed * ServePool + b, ServeQ))
    val data = s"$serving/data"
    val gens = lc.loadGens(serving, -1L)

    def request(op: String, texts: Vector[String], b: Int, req: Long,
                threshold: Int = graft.operators.Ann.GraphSearchDistQ): Array[Row] = {
      val base = QueryIdBase + b * 1000000L
      val enc = lc.encodeRows(texts.zipWithIndex.map { case (t, j) => (base + j, 0L, t) }, req)
      lc.walk(gens, data, op, lc.queryFrame(enc), texts.size, req, threshold)
    }

    val warm = if (batch) Nil else ops.map(op => op -> request(op, pool(0), 0, -1L))
    res.setups += ms(t0) / 1000
    res.cachedMb = storageMb(spark)
    res.indexMb = dirMb(s"$serving/hnsw_gen") + dirMb(s"$serving/artifacts/graft_gen")
    res.dataDir = serving

    // exact answers in plain Scala, from the same stand-in encoder
    val exact = Exact.load(spark, data)
    val qvecs = pool.map(ts => Encoder.standIn(64)(ts).toVector)
    val truth = mutable.Map.empty[(Int, Boolean), Vector[Seq[Long]]]
    def verify(op: String, rows: Array[Row], b: Int): Unit = {
      val filtered = op == "filtered"
      val want = truth.getOrElseUpdate((b, filtered),
        qvecs(b).map(q => exact.top(q, lc.K, if (filtered) Some(Filter) else None)))
      val base = QueryIdBase + b * 1000000L
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
      res.check("result_ids", got.keySet.forall(q => q >= base && q < base + want.size) &&
        got.values.forall(_.length <= lc.K), s"$op batch $b")
      for (j <- want.indices)
        res.recall += got.getOrElse(base + j, Array.empty[Long]).count(want(j).contains).toDouble / lc.K
      if (filtered)
        res.check("filter_predicate",
          rows.forall(r => Math.floorMod(exact.label(r.getLong(2)).toLong, Filter._1) == Filter._2))
      res.digest(s"$op/$b", rows)
    }
    for ((op, rows) <- warm) verify(op, rows, 0)

    val pairMs = mutable.Map.empty[(String, Int, Boolean), Double]
    // whole rounds only, so every run weighs the op types alike; traced
    // Q=20 runs also end on a whole pair of rounds
    val unit = ops.size * (if (traced && !batch) 2 else 1)
    var i = 0
    var total = 0.0
    while (total < seconds * 1000.0 || i % unit != 0) {
      val round = i / ops.size
      val op = ops(i % ops.size)
      // a traced run gives both rounds of a pair the same batch
      val b = (if (traced) round / 2 else round) % pool.size
      if (traced) tr.on = tracedRound(round)
      res.attempted += 1
      val tq = System.nanoTime()
      try {
        val rows = request(op, pool(b), b, i)
        val t = ms(tq)
        res.sample(op, t)
        if (traced) pairMs((op, round / 2, tr.on)) = t
        total += t
        res.items += pool(b).size
        val on = tr.on
        tr.on = false
        verify(op, rows, b)
        tr.on = on
      } catch {
        case NonFatal(e) =>
          res.failed += 1
          total += ms(tq)
          System.err.println(s"[perfbench] request $i ($op) failed: $e")
      }
      i += 1
    }
    res.wallMs = total
    val recall = if (res.recall.isEmpty) 0.0 else res.recall.sum / res.recall.size
    res.check("recall_floor", recall >= RecallFloor, f"recall@4 $recall%.3f < $RecallFloor")
    // traced Q=20 runs also time the distributed flat walk loop once,
    // forced onto that route at a small batch, for the walk_dist layer
    if (traced && !batch) {
      tr.on = true
      request("flat", corpus.queries(1000000L + seed, WarmQ), ServePool, -2L, threshold = 0)
    }
    if (traced) res.extra("trace.overhead_ms") = traceOverhead(pairMs)
  }
}
