package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.pipelines.Curation
import graft.sources.SnapshotStore

/**
 * The text-curation chain end to end: `Curation.run` (quality gate, line
 * dedup, one-shot minhash near-dup, decontamination against a held-out
 * eval set, token-budget mixture) over a seeded multi-source corpus, then
 * `publishRun` and `vacuumRuns`. The same corpus is curated `Passes`
 * times; the output must hash identically every time.
 */
object CurationReport extends Workload {
  val name = "curation_report"

  val Docs = 6000
  val EvalDocs = 200
  val Passes = 2
  val Sources = Seq("web" -> 0.6, "books" -> 0.25, "code" -> 0.15)
  val Weights = Seq("web" -> 0.5, "books" -> 0.3, "code" -> 0.2)
  /** Planted document kinds and their shares. */
  val Kinds = Seq("keep" -> 0.70, "too_short" -> 0.05, "non_english" -> 0.05,
    "low_alpha" -> 0.03, "repetitive" -> 0.03, "pii" -> 0.04, "near_dup" -> 0.06,
    "boilerplate" -> 0.03, "contaminated" -> 0.01)
  val En = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
  val Es = Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las")

  private var budget = 0L

  def generate(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.seed, 4)
    val vocab = IndexedSeq.fill(5000)(g.name(3, 9).toLowerCase)
    def words(n: Int, stop: Seq[String]): String = Seq.fill(n)(
      if (g.rnd.nextInt(3) == 0) g.pick(stop) else vocab(g.rnd.nextInt(vocab.size))).mkString(" ")
    val boiler = words(24, En)
    val evalTexts = IndexedSeq.fill(EvalDocs)(words(g.between(30, 60), En))
    val docs = mutable.ArrayBuffer.empty[(Long, String, String)]
    val kindCount = mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until Docs).foreach { i =>
      val src = Sources(g.share(Sources.map(_._2)))._1
      val kind = Kinds(g.share(Kinds.map(_._2)))._1
      val n = g.between(40, 160)
      val text = kind match {
        case "too_short" => words(g.between(2, 8), En)
        case "non_english" => Seq.fill(n)(
          if (g.rnd.nextBoolean()) g.pick(Es) else vocab(g.rnd.nextInt(vocab.size))).mkString(" ")
        case "low_alpha" => Seq.fill(n)(
          if (g.rnd.nextInt(4) == 0) g.pick(En) else g.rnd.nextInt(100000).toString).mkString(" ")
        case "repetitive" => Seq.fill(n / 2)("buy now").mkString(" ")
        case "pii" => words(n, En) + s" contact user${i}@example.com or 555-01${g.between(10, 99)}-${g.between(1000, 9999)}"
        case "near_dup" if docs.nonEmpty =>
          val base = docs(g.rnd.nextInt(docs.size))._3.split(" ")
          base.updated(g.rnd.nextInt(base.length), vocab(g.rnd.nextInt(vocab.size))).mkString(" ")
        case "boilerplate" => words(n, En) + " " + boiler
        case "contaminated" =>
          words(n / 2, En) + " " + evalTexts(g.rnd.nextInt(EvalDocs)).split(" ").take(12).mkString(" ")
        case _ => words(n, En)
      }
      kindCount(kind) += 1
      docs += ((i.toLong, src, text))
    }
    val tokens = docs.map(_._3.split(" ").length.toLong).sum
    budget = tokens * 6 / 10
    docs.toSeq.toDF("doc_id", "source", "text").repartition(ctx.cores)
      .write.parquet(ctx.in("corpus"))
    evalTexts.zipWithIndex.map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(ctx.in("eval"))
    Map("docs" -> Docs, "eval_docs" -> EvalDocs, "tokens" -> tokens,
      "budget_tokens" -> budget, "passes" -> Passes,
      "source_shares" -> Sources.toMap, "mixture_weights" -> Weights.toMap,
      "planted_kinds" -> kindCount.toMap)
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val m = ctx.meter
    val store = new SnapshotStore(spark, ctx.out("state"))
    val train = spark.read.parquet(ctx.in("corpus"))
    val evalDocs = spark.read.parquet(ctx.in("eval"))
    val weights = Weights.toDF("source", "weight")
    val cfg = Curation.CurationConfig(budgetTokens = budget)
    val batchS = mutable.ArrayBuffer.empty[Double]
    val probeS = mutable.ArrayBuffer.empty[Double]
    var maintS = 0.0
    val hashes = mutable.ArrayBuffer.empty[Long]
    val reports = mutable.ArrayBuffer.empty[Seq[(String, Long)]]
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    val window = new Window
    for (p <- 0 until Passes) {
      batchS += m.op(s"curate $p") {
        t.span("pipelines.Curation.run") {
          val res = Curation.run(train, evalDocs, weights, "text", "doc_id", "source", cfg,
            onStage = (stage, s) => stageS(stage) = stageS.getOrElse(stage, 0.0) + s)
          t.span("pipelines.Curation.publishRun") { Curation.publishRun(store, res) }
        }
      }
      probeS += m.op(s"probe $p") {
        t.span("sources.SnapshotStore.read") {
          val rep = store.read("curation_report").orderBy("stage_order")
            .select("stage", "n_docs").as[(String, Long)].collect().toSeq
          val corpus = store.read("curation_corpus")
          val r = corpus.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L)))
            .head()
          reports += rep :+ ("corpus_rows" -> r.getLong(0))
          hashes += r.getLong(1)
          t.add("rows_out", r.getLong(0).toDouble)
        }
      }
      maintS += m.op(s"vacuum $p") {
        t.span("pipelines.Curation.vacuumRuns") { Curation.vacuumRuns(store, keepReports = 1) }
      }
    }
    window.close()

    // checks: per-stage accounting, the gate against an independent
    // disposition count, and a stable output hash
    reports.zipWithIndex.foreach { case (rep, p) =>
      val stages = rep.init
      val n = stages.map(_._2)
      m.check(s"pass${p}_stages_never_grow", n.zip(n.drop(1)).forall { case (a, b) => b <= a },
        stages.toString)
      m.check(s"pass${p}_corpus_equals_mixture_row",
        stages.lastOption.exists(_._2 == rep.last._2), rep.toString)
    }
    val dropped = Curation.withDisposition(train, "text")
      .filter(col("disposition") =!= "keep").count()
    val rep0 = reports.headOption.map(_.toMap).getOrElse(Map.empty)
    m.check("quality_gate_kept_plus_dropped_equals_in",
      rep0.get("quality_gate").exists(_ + dropped == rep0.getOrElse("ingest", -1L)),
      s"kept ${rep0.get("quality_gate")} dropped $dropped in ${rep0.get("ingest")}")
    m.check("output_hash_stable", hashes.distinct.size == 1 && reports.distinct.size == 1,
      s"hashes $hashes")

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (t.enabled) {
      stageS.foreach { case (s, v) => layer(s"pipelines.Curation.$s.wall_s") = v }
      val order = Seq("ingest", "quality_gate", "line_dedup", "near_dup", "decontaminate", "mixture")
      val r = rep0
      order.zip(order.drop(1)).foreach { case (in, out) =>
        layer(s"pipelines.Curation.$out.rows_in") = r.getOrElse(in, 0L).toDouble
        layer(s"pipelines.Curation.$out.rows_out") = r.getOrElse(out, 0L).toDouble
      }
    }
    val live = store.read("curation_corpus").count() + store.read("curation_report").count()
    RunResult(window, Map("batch_s" -> batchS.toSeq, "probe_s" -> probeS.toSeq),
      Map("maint_s" -> maintS,
        "stored_bytes_per_row" -> Gen.bytesUnder(ctx.out("state")).toDouble / live.max(1)),
      layer.toMap)
  }
}
