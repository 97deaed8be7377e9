package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.{AnnIndex, Dedup}
import graft.streaming.Streams

/**
 * Index writes beside reads: a minhash text index fed by
 * `Streams.dedupIngest` and an IVF-PQ vector index fed by
 * `Streams.annIngestIvfPq`, one file per micro-batch. Each cycle after
 * the training batch: one micro-batch per stream, a ~5% takedown on both
 * indexes, then one maintenance verb (vacuum, then compact), with a probe
 * batch on both indexes before and after the verb. The streams stay
 * running but idle while the closed loop deletes, maintains and probes.
 */
object IndexChurn extends Workload {
  val name = "index_churn"

  val Cycles = 2
  val FirstDocs = 600
  val DocsPerBatch = 300
  val FirstVecs = 1500
  val VecsPerBatch = 400
  val Dim = 32
  val TakedownShare = 0.05
  val Probes = 40
  val DupShare = 0.1
  val Verbs = Seq("vacuum", "compact")
  /** Probe every cell and re-rank 64 candidates per query. */
  val ProbeCells = 64
  val OverFetch = 64

  private def batches = 1 + Cycles

  // generator state the checks read
  private var docs: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var vecs: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var takedowns: IndexedSeq[(Seq[Long], Seq[Long])] = IndexedSeq.empty
  private var docProbes: IndexedSeq[Seq[(Long, String)]] = IndexedSeq.empty
  private var vecProbes: IndexedSeq[Seq[(Long, Array[Float], Long)]] = IndexedSeq.empty

  def canon(s: String): String = s.toLowerCase.trim.replaceAll(" +", " ")

  def generate(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.seed, 3)
    val vocab = IndexedSeq.fill(3000)(g.name(3, 8).toLowerCase)
    def text(): String = Seq.fill(g.between(30, 80))(vocab(g.rnd.nextInt(vocab.size))).mkString(" ")
    // a planted near-duplicate: same words, other case and spacing
    def variant(s: String): String = s.split(" ").map(w =>
      if (g.rnd.nextBoolean()) w.toUpperCase else w).mkString(if (g.rnd.nextBoolean()) "  " else " ")
    def unit(): Array[Float] = {
      val v = Array.fill(Dim)(g.rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val d = mutable.ArrayBuffer.empty[(Long, String)]
    val v = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var nextId = 0L
    val docBatches = (0 until batches).map { b =>
      val n = if (b == 0) FirstDocs else DocsPerBatch
      (0 until n).map { _ =>
        nextId += 1
        val t = if (d.nonEmpty && g.rnd.nextDouble() < DupShare) variant(d(g.rnd.nextInt(d.size))._2)
          else text()
        d += ((nextId, t)); (nextId, t)
      }
    }
    val vecBatches = (0 until batches).map { b =>
      val n = if (b == 0) FirstVecs else VecsPerBatch
      (0 until n).map { _ =>
        nextId += 1
        val x = if (v.nonEmpty && g.rnd.nextDouble() < DupShare) {
          val src = v(g.rnd.nextInt(v.size))._2
          val y = src.map(_ + 0.05f * g.rnd.nextGaussian().toFloat)
          val n = math.sqrt(y.map(a => a * a).sum).toFloat
          y.map(_ / n)
        } else unit()
        v += ((nextId, x)); (nextId, x)
      }
    }
    docs = d.toIndexedSeq
    vecs = v.toIndexedSeq
    // per cycle: the takedown ids (from what is ingested and still live)
    // and the probe batches (copies of ingested items, some taken down)
    val deadDocs = mutable.Set.empty[Long]
    val deadVecs = mutable.Set.empty[Long]
    val tk = mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    val dp = mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    val vp = mutable.ArrayBuffer.empty[Seq[(Long, Array[Float], Long)]]
    var probeId = 9000000L
    for (c <- 0 until Cycles) {
      val upTo = c + 2
      val liveD = docBatches.take(upTo).flatten.map(_._1).filterNot(deadDocs)
      val liveV = vecBatches.take(upTo).flatten.map(_._1).filterNot(deadVecs)
      val kd = g.rnd.shuffle(liveD).take((liveD.size * TakedownShare).toInt)
      val kv = g.rnd.shuffle(liveV).take((liveV.size * TakedownShare).toInt)
      deadDocs ++= kd; deadVecs ++= kv
      tk += ((kd, kv))
      val ingestedD = docBatches.take(upTo).flatten
      val ingestedV = vecBatches.take(upTo).flatten
      dp += (0 until Probes).map { i =>
        probeId += 1
        if (i < Probes * 3 / 4) (probeId, variant(ingestedD(g.rnd.nextInt(ingestedD.size))._2))
        else (probeId, text())
      }
      // half the vector probes copy a just-deleted vector
      vp += (0 until Probes).map { i =>
        probeId += 1
        val src = if (i % 2 == 0 && kv.nonEmpty) kv(g.rnd.nextInt(kv.size))
          else ingestedV(g.rnd.nextInt(ingestedV.size))._1
        (probeId, vecs.find(_._1 == src).get._2, src)
      }
    }
    takedowns = tk.toIndexedSeq
    docProbes = dp.toIndexedSeq
    vecProbes = vp.toIndexedSeq
    // one parquet file per micro-batch, staged until its turn
    docBatches.zipWithIndex.foreach { case (rows, b) =>
      rows.toDF("id", "text").coalesce(1).write.parquet(ctx.in(s"staged/docs/b$b"))
    }
    vecBatches.zipWithIndex.foreach { case (rows, b) =>
      rows.map { case (i, x) => (i, x.toSeq) }.toDF("id", "vec").coalesce(1)
        .write.parquet(ctx.in(s"staged/vecs/b$b"))
    }
    Map("micro_batches_per_stream" -> batches, "docs" -> docs.size, "vectors" -> vecs.size,
      "dim" -> Dim, "near_duplicate_share" -> DupShare, "delete_share" -> TakedownShare,
      "cycles" -> Cycles, "verbs" -> Verbs, "probes_per_batch" -> Probes,
      "docs_deleted" -> deadDocs.size, "vectors_deleted" -> deadVecs.size)
  }

  /** Write amplification and listing cost per probe, per index. */
  override def derive(l: Map[String, Double]): Map[String, Double] = {
    def g(k: String) = l.getOrElse(k, 0.0)
    Seq(("minhash", "Dedup", "incrementalNearDupPairs",
        Seq("vacuumMinhashTombstones", "compactMinhashIndex")),
      ("ivfpq", "AnnIndex", "ivfPqKnnJoin", Seq("vacuumTombstones", "compactIndex")))
      .flatMap { case (ix, obj, probe, verbs) =>
        val written = verbs.map(v => g(s"operators.$obj.$v.bytes_written")).sum
        Seq(s"index.$ix.rewrite_amp" -> written / g(s"index.$ix.live_bytes").max(1),
          s"index.$ix.listing_tasks_per_probe" ->
            g(s"operators.$obj.$probe.listing_tasks") / g(s"operators.$obj.$probe.calls").max(1))
      }.toMap
  }

  private def drop(ctx: Ctx, kind: String, b: Int): Unit = {
    val dest = Paths.get(ctx.in(s"src/$kind"))
    Files.createDirectories(dest)
    Gen.dataFiles(ctx.in(s"staged/$kind/b$b")).filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.move(f, dest.resolve(f"b$b%03d.parquet")))
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val m = ctx.meter
    val mh = ctx.out("minhash_index")
    val ann = ctx.out("ivfpq_index")
    drop(ctx, "docs", 0)
    drop(ctx, "vecs", 0)
    val docSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType, containsNull = false))))
    val docStream = spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
      .parquet(ctx.in("src/docs"))
    val vecStream = spark.readStream.schema(vecSchema).option("maxFilesPerTrigger", 1)
      .parquet(ctx.in("src/vecs"))

    val batchS = mutable.ArrayBuffer.empty[Double]
    val probeS = mutable.ArrayBuffer.empty[Double]
    var maintS = 0.0
    val dead = (mutable.Set.empty[Long], mutable.Set.empty[Long])
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
    // what each cycle answered, checked once the measured window is closed
    final case class Answers(verb: String, deadDocs: Set[Long], deadVecs: Set[Long],
        before: (Set[(Long, Long)], Map[Long, Long]), after: (Set[(Long, Long)], Map[Long, Long]))
    val answers = mutable.ArrayBuffer.empty[Answers]

    val window = new Window
    var qDocs: StreamingQuery = null
    var qVecs: StreamingQuery = null
    batchS += m.op("start streams") {
      qDocs = t.span("streaming.Streams.dedupIngest") {
        val q = Streams.dedupIngest(docStream, "text", "id", mh, ctx.out("pairs"),
          ctx.out("ckpt_docs"))
        q.processAllAvailable(); q
      }
      qVecs = t.span("streaming.Streams.annIngestIvfPq") {
        val q = Streams.annIngestIvfPq(vecStream, "vec", "id", ann, ctx.out("ckpt_vecs"))
        q.processAllAvailable(); q
      }
    }
    def ingested(c: Int) = (
      docs.take(FirstDocs + (c + 1) * DocsPerBatch),
      vecs.take(FirstVecs + (c + 1) * VecsPerBatch))

    /** Both probe batches; returns (minhash pairs, ann top-1 per query). */
    def probe(c: Int): (Set[(Long, Long)], Map[Long, Long]) = {
      var pairs = Set.empty[(Long, Long)]
      var top = Map.empty[Long, Long]
      probeS += m.op(s"probe minhash $c") {
        pairs = t.span("operators.Dedup.incrementalNearDupPairs") {
          Dedup.incrementalNearDupPairs(docProbes(c).toDF("id", "text"), "text", "id", mh)
            .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        }
      }
      probeS += m.op(s"probe ivfpq $c") {
        top = t.span("operators.AnnIndex.ivfPqKnnJoin") {
          val corpus = spark.read.parquet(ctx.in("src/vecs"))
          val q = vecProbes(c).map { case (i, x, _) => (i, x.toSeq) }.toDF("id", "vec")
          AnnIndex.ivfPqKnnJoin(spark, ann, q, corpus, "vec", "id", k = 1,
            nProbe = ProbeCells, overFetch = OverFetch)
            .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
        }
      }
      (pairs, top)
    }

    for (c <- 0 until Cycles) {
      val b = 1 + c
      drop(ctx, "docs", b)
      batchS += m.op(s"docs batch $b") {
        t.span("streaming.Streams.dedupIngest") { qDocs.processAllAvailable() }
      }
      drop(ctx, "vecs", b)
      batchS += m.op(s"vecs batch $b") {
        t.span("streaming.Streams.annIngestIvfPq") { qVecs.processAllAvailable() }
      }
      val (kd, kv) = takedowns(c)
      maintS += m.op(s"takedown $c") {
        t.span("operators.Dedup.deleteFromMinhashIndex") {
          Dedup.deleteFromMinhashIndex(spark, mh, kd.toDF("id"), "id")
        }
        t.span("operators.AnnIndex.deleteIds") {
          AnnIndex.deleteIds(spark, ann, kv.toDF("id"), "id")
        }
      }
      // every verb makes the earlier cycles' tombstones physical, so the
      // index holds what was ingested minus those, with this cycle's
      // takedown still as tombstones
      if (t.enabled) {
        val (ingD, ingV) = ingested(c)
        put("index.minhash.tombstone_ratio", kd.size.toDouble / (ingD.size - dead._1.size) / Cycles)
        put("index.ivfpq.tombstone_ratio", kv.size.toDouble / (ingV.size - dead._2.size) / Cycles)
      }
      dead._1 ++= kd; dead._2 ++= kv
      val before = probe(c)
      val verb = Verbs(c)
      if (t.enabled) {
        put("index.minhash.live_bytes", Gen.bytesUnder(mh).toDouble)
        put("index.ivfpq.live_bytes", Gen.bytesUnder(ann).toDouble)
      }
      maintS += m.op(s"$verb $c") {
        if (verb == "vacuum") {
          t.span("operators.Dedup.vacuumMinhashTombstones") { Dedup.vacuumMinhashTombstones(spark, mh) }
          t.span("operators.AnnIndex.vacuumTombstones") { AnnIndex.vacuumTombstones(spark, ann) }
        } else {
          t.span("operators.Dedup.compactMinhashIndex") { Dedup.compactMinhashIndex(spark, mh) }
          t.span("operators.AnnIndex.compactIndex") { AnnIndex.compactIndex(spark, ann) }
        }
      }
      if (t.enabled) {
        put("index.minhash.files", Gen.dataFiles(mh).size.toDouble / Cycles)
        put("index.ivfpq.files", Gen.dataFiles(ann).size.toDouble / Cycles)
      }
      val after = probe(c)
      answers += Answers(verb, dead._1.toSet, dead._2.toSet, before, after)
    }
    qDocs.stop()
    qVecs.stop()
    window.close()

    // checks, per cycle: brute force over the live rows, no tombstoned id,
    // and the same answers before and after the maintenance verb
    var recallHit = 0
    var recallN = 0
    answers.zipWithIndex.foreach { case (Answers(verb, deadD, deadV, before, after), c) =>
      val live = ingested(c)._1.filterNot(x => deadD(x._1))
      val byCanon = live.groupBy(x => canon(x._2)).map { case (k, xs) => k -> xs.map(_._1) }
      val probes = docProbes(c)
      val want = probes.flatMap { case (pid, txt) =>
        byCanon.getOrElse(canon(txt), Nil).map(i => (pid min i, pid max i))
      }.toSet ++ probes.combinations(2).collect {
        case Seq((a, x), (b, y)) if canon(x) == canon(y) => (a min b, a max b)
      }
      m.check(s"cycle${c}_minhash_equals_brute_force", before._1 == want,
        s"missing ${(want -- before._1).take(5)} extra ${(before._1 -- want).take(5)}")
      m.check(s"cycle${c}_minhash_same_after_$verb", after._1 == before._1,
        s"before ${before._1.size} after ${after._1.size}")
      val deadHit = (before._1 ++ after._1).flatMap(p => Seq(p._1, p._2)).filter(deadD) ++
        (before._2.values ++ after._2.values).filter(deadV)
      m.check(s"cycle${c}_no_tombstoned_id_returned", deadHit.isEmpty, s"${deadHit.take(5)}")
      val liveQ = vecProbes(c).filterNot(q => deadV(q._3))
      val hits = liveQ.count(q => before._2.get(q._1).contains(q._3))
      recallHit += hits; recallN += liveQ.size
      m.check(s"cycle${c}_ivfpq_top1_equals_brute_force", hits == liveQ.size,
        s"$hits of ${liveQ.size} live-source queries answered with their source")
      m.check(s"cycle${c}_ivfpq_same_after_$verb", after._2 == before._2,
        s"${(before._2.toSet -- after._2.toSet).take(5)}")
    }

    val liveRows = docs.size - dead._1.size + vecs.size - dead._2.size
    val bytes = Gen.bytesUnder(mh) + Gen.bytesUnder(ann)
    if (t.enabled) {
      put("index.ivfpq.probe_recall", recallHit.toDouble / recallN.max(1))
      put("index.stored_bytes", bytes.toDouble)
    }
    RunResult(window, Map("batch_s" -> batchS.drop(1).toSeq, "probe_s" -> probeS.toSeq),
      Map("maint_s" -> maintS, "stored_bytes_per_row" -> bytes.toDouble / liveRows),
      layer.toMap)
  }
}
