package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A span recorded by benchmark code around one call into a layer. */
final class Span(val id: Int, val name: String, val parent: Int, val req: Long,
                 val startUs: Long) {
  var endUs: Long = 0L
  var rows: Long = 0L
  def durUs: Long = endUs - startUs
}

/** One Spark job as the listener saw it, tagged with the span that was
  * open on the submitting thread.
  */
final class JobRec(val span: Int, val submitMs: Long) {
  var firstTaskMs: Long = Long.MaxValue
  var endMs: Long = 0L
  var tasks: Long = 0L
  var shuffleBytes: Long = 0L
  var spillBytes: Long = 0L
  var written: Long = 0L
}

/** Spans from benchmark code plus a listener that attributes Spark
  * jobs, stages and tasks to them through the `perfbench.span` local
  * property. Local properties are inheritable, so jobs submitted from
  * threads a layer spawns (`Graft.inParallel`) land on the same span.
  * Everything stays in memory until [[write]].
  *
  * Times are epoch microseconds from one nanoTime base, so span bounds
  * line up with the listener's millisecond event times.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Spans are recorded only while on; the listener stays attached. */
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), req, nowUs)
      spans += sp
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, sp.id.toString)
      stack = sp :: stack
      try body
      finally {
        sp.endUs = nowUs
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Rows the innermost open span's layer produced. */
  def rows(n: Long): Unit = stack.headOption.foreach(_.rows += n)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { sid =>
      jobs(e.jobId) = new JobRec(sid.toInt, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.written += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Per-layer totals divided by the layer's call count: busy (self
    * time), jobs, tasks, gap (span time with no job of the span
    * running), wait (job submit to first task launch), shuffle written,
    * spill, and rows out (rows the call reported plus rows its jobs wrote).
    */
  def layerStats(layer: String): Map[String, Double] = {
    // drain outside the lock: the bus thread needs it to deliver events
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(stats(layer))
  }

  private def stats(layer: String): Map[String, Double] = {
    val mine = spans.filter(_.name == layer)
    val n = mine.size.toDouble
    def per(x: Double) = if (n == 0) 0.0 else x / n
    val kids = spans.groupBy(_.parent)
    val byJob = jobs.values.groupBy(_.span)
    var busy, gap, wait, nJobs, tasks, shuffle, spill, rows = 0.0
    for (sp <- mine) {
      busy += sp.durUs - kids.getOrElse(sp.id, Nil).map(_.durUs).sum
      val js = byJob.getOrElse(sp.id, Nil).toSeq
      nJobs += js.size
      tasks += js.map(_.tasks).sum
      shuffle += js.map(_.shuffleBytes).sum
      spill += js.map(_.spillBytes).sum
      wait += js.filter(_.firstTaskMs != Long.MaxValue).map(j => (j.firstTaskMs - j.submitMs) * 1000.0).sum
      gap += sp.durUs - covered(js.map(j => (j.submitMs * 1000L, math.max(j.endMs, j.submitMs) * 1000L)),
        sp.startUs, sp.endUs)
      rows += sp.rows + js.map(_.written).sum
    }
    Map("busy_ms" -> per(busy) / 1000, "jobs" -> per(nJobs), "tasks" -> per(tasks),
      "gap_ms" -> per(gap) / 1000, "wait_ms" -> per(wait) / 1000,
      "shuffle_mb" -> per(shuffle) / 1e6, "spill_mb" -> per(spill) / 1e6, "rows_out" -> per(rows))
  }

  /** Length of the union of `iv` clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, cur = 0L
    var curEnd = Long.MinValue
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, lo); val b = math.min(b0, hi)
      if (b > a) {
        if (a > curEnd) { total += math.max(curEnd - cur, 0L); cur = a; curEnd = b }
        else curEnd = math.max(curEnd, b)
      }
    }
    total + math.max(curEnd - cur, 0L)
  }

  /** Writes every span, one JSON object per line, with its own jobs. */
  def write(path: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(writeSpans(path))
  }

  private def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    val byJob = jobs.values.groupBy(_.span)
    try spans.foreach { sp =>
      val js = byJob.getOrElse(sp.id, Nil)
      w.println(s"""{"id":${sp.id},"name":"${sp.name}","parent":${sp.parent},"req":${sp.req},""" +
        s""""start_us":${sp.startUs},"end_us":${sp.endUs},"rows":${sp.rows},"jobs":${js.size},""" +
        s""""tasks":${js.map(_.tasks).sum},"shuffle_bytes":${js.map(_.shuffleBytes).sum},""" +
        s""""spill_bytes":${js.map(_.spillBytes).sum},"rows_written":${js.map(_.written).sum}}""")
    } finally w.close()
  }
}
