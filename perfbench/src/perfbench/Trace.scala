package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into a layer: `name` is `<layer>.<Object>.<method>`. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** The Spark-side record of one job, filled by the tracer's listener. */
final class JobRec(val jobId: Int, val spanProp: Int, val startMs: Long,
    val stages: Seq[Int], val listing: Boolean) {
  var endMs: Long = -1L
  var span: Int = -1
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var failed = 0
}

/**
 * Spans around the benchmark's calls into the engine, kept in memory and
 * written once at the end. Jobs are attributed to the span whose id the
 * benchmark set as a local property when the job was submitted; a job
 * whose property names a span that had already ended (a streaming
 * micro-batch inherits the property of the call that started its query)
 * goes to the innermost span open when it started. With `enabled` false
 * every method is a pass-through and no listener is attached.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean,
    outputRoot: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val jobsLock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobsLock.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(s => stageJob(s) = e.jobId)
      // file-index partition discovery runs as its own job, described
      // "Listing leaf files and directories for N paths: ..."
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, prop, e.time, ids,
        desc.startsWith("Listing leaf files"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsLock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (e.jobResult != JobSucceeded) j.failed = 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobsLock.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress += ((System.currentTimeMillis(), d))
      }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span. Exceptions count as `failed` and rethrow. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      val before = listFiles()
      try body
      catch { case e: Throwable => s.add("failed", 1); throw e }
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.add("files_written", (listFiles() -- before).size)
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Traced run only: materialize a lazy layer output at the span boundary
    * so its work lands in the span that produced it; counts `rows_out`. */
  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist()
      held += p
      add("rows_out", p.count().toDouble)
      p
    }

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Drop the caches [[materialize]] made (call once a batch is done). */
  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  /** Add to a counter of the innermost open span (traced run only). */
  def add(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.add(key, v))

  private def listFiles(): Set[String] = Gen.dataFiles(outputRoot).map(_.toString).toSet

  /** The straggler ratio (max ÷ median task time) of the stage, among the
    * jobs attributed to spans named `name`, with the most task time. */
  def stragglerRatio(name: String): Double = {
    resolve()
    val ids = spans.filter(_.name == name).map(_.id).toSet
    val mine = jobs.values.filter(j => subtreeOf(j.span, ids))
    val stages = mine.flatMap(_.stages).flatMap(s => stageTaskMs.get(s).map(s -> _))
    if (stages.isEmpty) 0.0
    else {
      val (_, ms) = stages.maxBy(_._2.sum)
      val sorted = ms.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
  }

  private def subtreeOf(spanId: Int, roots: Set[Int]): Boolean = {
    var cur = spanId
    while (cur >= 0) {
      if (roots.contains(cur)) return true
      cur = spans(cur).parent
    }
    false
  }

  /** Wait for the listener bus, then attribute every job to a span. */
  private def resolve(): Unit = {
    org.apache.spark.perfbench.BusShim.drain(sc)
    jobsLock.synchronized {
      jobs.values.foreach { j =>
        val direct = if (j.spanProp >= 0 && j.spanProp < spans.size) {
          val s = spans(j.spanProp)
          if (s.endMs < 0 || j.startMs <= s.endMs) j.spanProp else -1
        } else -1
        j.span = if (direct >= 0) direct else innermostAt(j.startMs)
      }
    }
  }

  private def innermostAt(t: Long): Int = {
    val open = spans.filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs))
    if (open.isEmpty) -1 else open.maxBy(_.startNs).id
  }

  /** Per-span-name aggregates (summed over calls) and the span list. */
  def report(windowStartMs: Long, windowEndMs: Long): (Map[String, Double], Seq[Map[String, Any]]) = {
    resolve()
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.values.groupBy(_.span)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    def jobsUnder(s: Span): Seq[JobRec] = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))
    def covered(js: Iterable[JobRec], lo: Long, hi: Long): Long =
      unionMs(js.filter(_.endMs >= 0).map(j => (j.startMs.max(lo), j.endMs.min(hi)))
        .filter { case (a, b) => b > a })

    val agg = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = agg(k) = agg.getOrElse(k, 0.0) + v
    val records = spans.map { s =>
      val js = jobsUnder(s)
      val childWall = children.getOrElse(s.id, Nil).map(_.wallS).sum
      val m = mutable.LinkedHashMap[String, Double](
        "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - childWall).max(0.0),
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "driver_gap_s" -> ((s.endMs - s.startMs) - covered(js, s.startMs, s.endMs)).max(0L) / 1e3,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> js.map(_.spill).sum.toDouble,
        "bytes_written" -> js.map(_.bytesWritten).sum.toDouble,
        "files_written" -> 0.0,
        "rows_out" -> 0.0,
        "failed" -> js.map(_.failed).sum.toDouble,
        "listing_tasks" -> js.filter(_.listing).map(_.tasks).sum.toDouble)
      s.counters.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      m.foreach { case (k, v) => put(s"${s.name}.$k", v) }
      put(s"${s.name}.calls", 1)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "metrics" -> m.toMap)
    }
    // layer totals over the top-level spans of each layer
    val totals = Seq("wall_s", "self_s", "jobs", "tasks", "task_cpu_s", "driver_gap_s")
    records.filter(_("parent") == -1).foreach { r =>
      val layer = r("name").toString.takeWhile(_ != '.')
      val m = r("metrics").asInstanceOf[Map[String, Double]]
      totals.foreach(k => put(s"$layer.total.$k", m(k)))
    }
    // engine totals: every job of the measured window
    val all = jobs.values.filter(j => j.startMs >= windowStartMs && j.startMs <= windowEndMs)
    val wall = (windowEndMs - windowStartMs) / 1e3
    agg("engine.run.wall_s") = wall
    agg("engine.run.jobs") = all.size
    agg("engine.run.tasks") = all.map(_.tasks).sum.toDouble
    agg("engine.run.task_cpu_s") = all.map(_.cpuNs).sum / 1e9
    agg("engine.run.driver_gap_s") = wall - covered(all, windowStartMs, windowEndMs) / 1e3
    agg("engine.run.shuffle_write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    agg("engine.run.spill_bytes") = all.map(_.spill).sum.toDouble
    agg("engine.run.bytes_written") = all.map(_.bytesWritten).sum.toDouble
    agg("engine.run.failed") = all.map(_.failed).sum.toDouble
    // streaming micro-batch phases from the query listener
    val prog = progress.synchronized(progress.toList)
    for (k <- Seq("addBatch", "queryPlanning", "walCommit", "triggerExecution")) {
      agg(s"streaming.progress.${k}_s") = prog.map(_._2.getOrElse(k, 0L)).sum / 1e3
    }
    agg("streaming.progress.batches") = prog.size
    (agg.toMap, records.toSeq)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of [a, b) intervals. */
  def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
