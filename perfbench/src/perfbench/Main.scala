package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The measured window of a run: opened once the inputs are on disk,
  * closed once every output is committed and readable, before the checks. */
final class Window {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  var endMs: Long = -1L
  var seconds: Double = Double.NaN
  def close(): Unit = {
    seconds = (System.nanoTime() - t0) / 1e9
    endMs = System.currentTimeMillis()
  }
}

/** What a workload hands the harness: the measured window (`run_s`, and the
  * span of the `engine.run.*` totals), the named sample lists the end-to-end
  * medians come from, and the traced counters only a workload can compute. */
final case class RunResult(window: Window, samples: Map[String, Seq[Double]],
    scalars: Map[String, Double], layerCounters: Map[String, Double])

/** Operation and check accounting shared by every workload: an exception
  * or a failed check counts as a failed operation, never as a success. */
final class Meter {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Time one closed-loop operation; returns its wall seconds. A thrown
    * exception is recorded as a failure and the loop goes on. */
  def op(kind: String)(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Record one output check. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $detail")
    }
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail.take(600)))
  }
}

/** Everything a workload run gets from the harness. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long,
    cores: Int, tracer: Tracer, meter: Meter) {
  def in(p: String): String = s"$dir/in/$p"
  def out(p: String): String = s"$dir/out/$p"
}

trait Workload {
  def name: String
  /** Write every input under `ctx.in`, before any timing; returns the
    * generated properties (sizes, shares, skew) for the record. */
  def generate(ctx: Ctx): Map[String, Any]
  /** The measured closed loop plus its output checks. */
  def run(ctx: Ctx): RunResult
  /** Counters derived from the traced run's span aggregates. */
  def derive(layers: Map[String, Double]): Map[String, Double] = Map.empty
}

object Main {
  val workloads: Map[String, Workload] = Seq[Workload](
    WeeklyRoster, FuzzyBacklog, IndexChurn, CurationReport)
    .map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = a("dir")
    val spark = Session.build(cores, dir)
    Session.trivialJob(spark)
    println("PERFBENCH_READY")
    System.out.flush()

    val meter = new Meter
    val tracer = new Tracer(spark, trace, s"$dir/out")
    val ctx = Ctx(spark, dir, seed, cores, tracer, meter)
    val g0 = System.nanoTime()
    val props = workload.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9

    val res = workload.run(ctx)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "generate_s" -> genS, "inputs" -> props,
      "env" -> env(spark, cores),
      "attempted" -> meter.attempted, "failed" -> meter.failed,
      "errors" -> meter.errors.toSeq, "checks" -> meter.checks.toSeq,
      "run_s" -> res.window.seconds,
      "samples" -> res.samples,
      "scalars" -> res.scalars)
    if (trace) {
      val (layers, spans) = tracer.report(res.window.startMs, res.window.endMs)
      val all = layers ++ res.layerCounters
      record("layers") = all ++ workload.derive(all)
      Files.writeString(Paths.get(a("spans")), json(Map(
        "workload" -> workload.name, "seed" -> seed, "run_id" -> a("run_id"),
        "spans" -> spans, "streaming_progress" -> tracer.progress.map {
          case (t, d) => Map("time_ms" -> t, "duration_ms" -> d) })))
    }
    Files.writeString(Paths.get(a("record")), json(record))
    spark.stop()
  }

  /** The record as JSON; a non-finite number is written as null. */
  private def json(v: Any): String = {
    def finite(x: Any): Any = x match {
      case d: Double if d.isNaN || d.isInfinite => null
      case m: scala.collection.Map[_, _] => m.map { case (k, y) => k.toString -> finite(y) }.toMap
      case xs: Iterable[_] => xs.map(finite).toSeq
      case other => other
    }
    Serialization.write(finite(v).asInstanceOf[AnyRef])(DefaultFormats)
  }

  private def env(spark: SparkSession, cores: Int): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_flags" -> rt.getInputArguments.toArray.toSeq
        .filterNot(_.toString.startsWith("--add-opens")),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "broadcast_threshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
  }
}
