package graft.perfbench

import graft.{Bench, Graft}
import graft.operators.Ann
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Seeded lifecycle benchmark of graft: `ingest`, `serve` and
  * `batch_serve`, one client in a closed loop, run in a fresh JVM per
  * workload. Usage (normally through perfbench/run.py):
  *
  * {{{
  * graft.perfbench.PerfBench prepare <serving dir>
  * graft.perfbench.PerfBench <workload> <seed> <seconds> <trace 0|1> <run dir> <result file> <serving dir>
  * }}}
  *
  * `prepare` ingests the fixed serving corpus and publishes its flat and
  * layered generations, once per build. A workload run prints
  * human-readable metric lines to stdout and writes the result JSON to
  * `<result file>`; with trace 1 the spans go to `<run dir>/spans.jsonl`.
  */
object PerfBench {

  val WorkloadNames: Seq[String] = Seq("ingest", "serve", "batch_serve")

  /** The ingest corpus: 400 paragraphs, 8% of articles near-duplicates,
    * 12% of paragraphs boilerplate, and a 20-paragraph insert delta.
    * perfbench/NOTES.md gives the basis of each size and share.
    */
  def ingestCorpus(seed: Long): Corpus = new Corpus(seed, 400, 0.08, 0.12, 20)

  /** The serving corpus: ~2000 clean paragraphs (no boilerplate, no
    * near-duplicates), so the index holds ~2k vectors. It is fixed, so
    * the build step can publish its generations; the run's seed picks
    * the queries.
    */
  def servingCorpus: Corpus = new Corpus(0L, 2000, 0.0, 0.0, 0)

  /** Q=20 requests cycle through a pool of seeded query batches. */
  val ServeQ: Int = Ann.GraphSearchQueryCount
  val ServePool = 4
  /** The filter of the `filtered` op, label % mod == res. */
  val Filter: (Long, Long) = (Ann.GraphSearchFilterMod, Ann.GraphSearchFilterRes)
  /** Batch size of batch_serve: a fixed margin above the distributed-walk
    * threshold, so every batch takes the distributed route.
    */
  val BatchQ: Int = Ann.GraphSearchDistQ + 64
  /** Batch of the forced-distributed walks of traced Q=20 runs. */
  val WarmQ = 64
  /** Recall below this fails the run: the walks measure 0.60-0.68 here. */
  val RecallFloor = 0.5
  val QueryIdBase: Long = 1L << 40

  private def session(runDir: String): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Graft.configure(SparkSession.builder().master(s"local[$nproc]"))
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Ingests the serving corpus and publishes its generations, then runs
    * one ingest cycle so the JVM has loaded every class the workloads
    * use: run.py archives them for class-data sharing at exit.
    */
  def prepare(dir: String): Unit = {
    servingCorpus.writeJsonl(s"$dir/articles.jsonl", clean = true)
    val spark = session(dir)
    val lc = new Lifecycle(spark, new Tracer(spark.sparkContext))
    lc.load(dir, -1L)
    lc.encode(dir, lc.allPids(dir), -1L)
    lc.publishServing(dir)
    val warm = s"$dir/ingest"
    ingestCorpus(0L).writeJsonl(s"$warm/articles.jsonl", clean = false)
    Workloads.cycle(lc, ingestCorpus(0L), warm, "prepare", -1L)
    Graft.releaseCaches()
    spark.stop()
  }

  final class Result {
    /** The workload's op types; each needs a successful sample. */
    var ops: Seq[String] = Nil
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    val digests = mutable.Map.empty[String, String]
    val recall = mutable.ArrayBuffer.empty[Double]
    val setups = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    var items = 0L
    var wallMs = 0.0
    var indexMb, cachedMb = 0.0
    var dataDir = ""
    val extra = mutable.LinkedHashMap.empty[String, Double]

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      checks(name) = checks.getOrElse(name, true) && ok
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
    def sample(op: String, ms: Double): Unit = lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
    def digest(key: String, rows: Array[Row]): Unit = {
      val d = sha(rows.map(_.toString).sorted.mkString("\n"))
      digests.get(key) match {
        case Some(prev) => check("digest_repeat", prev == d, s"$key $prev != $d")
        case None => digests(key) = d
      }
    }
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Highest whole percentile with at least ten samples above it. */
  def tailPct(n: Int): Option[Int] =
    (99 to 1 by -1).find(p => n - math.ceil(n * p / 100.0) >= 10)

  def dirMb(path: String): Double = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(path)) / 1e6
  }

  /** (steal, total) jiffies from /proc/stat, zeros where unreadable:
    * the share of CPU time the host gave to other guests.
    */
  def cpuSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    if (args(0) == "prepare") { prepare(args(1)); return }
    val Array(workload, seedS, secondsS, traceS, runDir, resultFile, serving) = args
    require(WorkloadNames.contains(workload), s"unknown workload $workload (one of ${WorkloadNames.mkString(", ")})")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = Bench.runnableNow()
    val stealBefore = cpuSteal()

    val corpus = if (workload == "ingest") ingestCorpus(seed) else servingCorpus
    println(s"corpus workload=$workload seed=$seed corpus_seed=${corpus.seed} ${corpus.stats}")

    val t0 = System.nanoTime()
    val spark = session(runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark.sparkContext)
    if (traced) spark.sparkContext.addSparkListener(tr)
    tr.on = traced
    // the session span is recorded after the fact: the tracer needs the session
    if (traced) {
      val sp = new Span(tr.spans.size, "graft.session", -1, -1L, tr.nowUs - (sessionS * 1e6).toLong)
      sp.endUs = tr.nowUs
      tr.spans += sp
    }
    val lc = new Lifecycle(spark, tr)
    val res = new Result
    try {
      workload match {
        case "ingest" => Workloads.ingest(spark, lc, tr, corpus, res, runDir, seconds, traced, t0)
        case "serve" => Workloads.serve(spark, lc, tr, corpus, res, serving, seed, seconds, traced, t0, batch = false)
        case "batch_serve" => Workloads.serve(spark, lc, tr, corpus, res, serving, seed, seconds, traced, t0, batch = true)
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        res.check("run_completed", ok = false, e.toString)
    }
    tr.on = traced
    val kernels =
      if (traced && res.dataDir.nonEmpty) Kernels.probe(spark, tr, res.dataDir) else Map.empty[String, Double]
    val loadAfter = Bench.runnableNow()
    val stealAfter = cpuSteal()
    val stealShare = (stealAfter._1 - stealBefore._1).toDouble / math.max(stealAfter._2 - stealBefore._2, 1L)

    val conf = spark.conf
    val stamps = Seq(
      "seed" -> seed.toString, "nproc" -> nproc.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "spark" -> spark.version,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "runnable_before" -> loadBefore.toString, "runnable_after" -> loadAfter.toString,
      "cpu_steal" -> f"$stealShare%.3f")
    println("stamp " + stamps.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val out = Report.build(workload, res, lc, tr, traced, kernels)
    if (traced) tr.write(s"$runDir/spans.jsonl")
    Graft.releaseCaches()
    spark.stop()
    val w = new java.io.PrintWriter(resultFile, "UTF-8")
    try w.println(out) finally w.close()
  }
}
