package perfbench

import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.operators.FuzzyJoin
import graft.pipelines.FuzzyMatch
import graft.sources.SnapshotStore

/**
 * One large fuzzy re-match: a backlog of demographic submissions against
 * the flattened case table, blocked on birth year. Birth years are
 * heavy-headed (a few cohort years carry most rows) and the broadcast
 * threshold sits below half of both sides, so the shuffled, salted
 * FuzzyJoin path runs. The backlog is re-matched `Passes` times in one
 * session (a re-run after each WDRS refresh); every pass must give the
 * same answer.
 */
object FuzzyBacklog extends Workload {
  val name = "fuzzy_backlog"

  val Submissions = 2000
  val Cases = 20000
  val PlantedShare = 0.25
  val Passes = 2
  /** Below half of both sides' size, so neither side broadcasts. */
  val BroadcastThreshold = 32 * 1024L
  val Years: Seq[Int] = 1930 to 2015

  /** (rowid, case_id, distance) the pipeline must return. */
  private var expected: Set[(Long, Long, Int)] = Set.empty
  private var planted = 0
  private var pairMass = 0L
  private var bandPairs = 0L

  private final case class Person(first: String, last: String, dob: LocalDate)

  def generate(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
    val g = new Gen(ctx.seed, 2)
    // Zipf(1.5)-weighted birth years in a seeded order: a few cohort
    // years carry most rows, and the hottest block outgrows one task
    val yearW = g.rnd.shuffle(Years.toList).zipWithIndex
      .map { case (y, i) => y -> math.pow(i + 1, -1.5) }.toMap
    val years = Years.toIndexedSeq
    def person(): Person = {
      val y = years(g.share(years.map(yearW)))
      Person(g.name(3, 12), g.name(3, 14), LocalDate.of(y, 1, 1).plusDays(g.rnd.nextInt(365)))
    }
    val start = LocalDate.of(2022, 6, 1)
    val cases = mutable.ArrayBuffer.empty[(Long, Person, LocalDate)]
    (0 until Cases).foreach(i => cases += ((i.toLong, person(), g.date(start, 200))))
    val subs = (0 until Submissions).map { i =>
      val p = person()
      val coll = g.date(start, 200)
      if (g.rnd.nextDouble() < PlantedShare) {
        planted += 1
        val flipped = g.rnd.nextInt(4) == 0
        val dist = g.between(0, if (flipped) 2 else 3)
        var first = p.first
        var ok = false
        while (!ok) {
          first = g.perturb(p.first, dist min p.first.length)
          ok = Gen.osa(s"${p.first}_${p.last}", s"${first}_${p.last}") == (dist min p.first.length)
        }
        val cp = if (flipped) Person(p.last, first, p.dob) else Person(first, p.last, p.dob)
        val off = if (g.rnd.nextInt(5) == 0) g.between(20, 60) else g.between(-10, 10)
        cases += ((Cases + i.toLong, cp, coll.plusDays(off)))
      }
      (i.toLong, p, coll)
    }
    // expected matches: naive OSA over every same-DOB pair, then the
    // pipeline's ±14-day window with closest-date add-back
    val byDob = cases.groupBy(_._2.dob)
    expected = subs.flatMap { case (rid, p, coll) =>
      val cands = byDob.getOrElse(p.dob, Nil).flatMap { case (cid, c, wc) =>
        val straight = Gen.osa(s"${p.first}_${p.last}", s"${c.first}_${c.last}")
        val flip = Gen.osa(s"${p.first}_${p.last}", s"${c.last}_${c.first}")
        val d = Seq(straight).filter(_ <= 3) ++ Seq(flip).filter(_ <= 2)
        if (d.isEmpty) None
        else Some((cid, d.min, math.abs(java.time.temporal.ChronoUnit.DAYS.between(coll, wc))))
      }
      val inWin = cands.filter(_._3 <= 14)
      val keep = if (inWin.nonEmpty) inWin
        else if (cands.isEmpty) Nil
        else cands.filter(_._3 == cands.map(_._3).min)
      keep.map { case (cid, d, _) => (rid, cid, d) }
    }.toSet
    // pair mass per birth-year block and pairs inside the length bound
    def nameLen(p: Person) = p.first.length + 1 + p.last.length
    val lBlocks = subs.groupBy(_._2.dob.getYear).map { case (y, xs) => y -> xs.map(x => nameLen(x._2)) }
    val rBlocks = cases.groupBy(_._2.dob.getYear).map { case (y, xs) => y -> xs.map(x => nameLen(x._2)) }
    pairMass = lBlocks.map { case (y, l) => l.size.toLong * rBlocks.get(y).fold(0)(_.size) }.sum
    bandPairs = lBlocks.map { case (y, l) =>
      val rh = rBlocks.getOrElse(y, Nil).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      l.map(a => (a - 3 to a + 3).map(b => rh.getOrElse(b, 0L)).sum).sum
    }.sum
    val hottest = lBlocks.map { case (y, l) => l.size.toLong * rBlocks.get(y).fold(0)(_.size) }.max

    subs.map { case (rid, p, coll) =>
      (rid, p.first, p.last, java.sql.Date.valueOf(p.dob), java.sql.Date.valueOf(coll))
    }.toDF("rowid", "first_name", "last_name", "dob", "collection_date")
      .repartition(ctx.cores).write.parquet(ctx.in("submissions"))
    cases.toSeq.map { case (cid, p, wc) =>
      (cid, p.first, p.last, java.sql.Date.valueOf(p.dob), java.sql.Date.valueOf(wc))
    }.toDF("case_id", "first_name", "last_name", "dob", "wdrs_collection")
      .withColumn("alt_first_name", lit(null).cast("string"))
      .withColumn("alt_last_name", lit(null).cast("string"))
      .repartition(ctx.cores).write.parquet(ctx.in("cases"))
    Map("submissions" -> Submissions, "cases" -> cases.size, "planted_matches" -> planted,
      "expected_matches" -> expected.size, "pair_mass" -> pairMass,
      "band_pairs" -> bandPairs, "hottest_block_share" -> hottest.toDouble / pairMass,
      "broadcast_threshold" -> BroadcastThreshold, "passes" -> Passes)
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val m = ctx.meter
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
    val store = new SnapshotStore(spark, ctx.out("state"))
    val subs = spark.read.parquet(ctx.in("submissions"))
    val target = spark.read.parquet(ctx.in("cases"))
    val batchS = mutable.ArrayBuffer.empty[Double]
    val probeS = mutable.ArrayBuffer.empty[Double]
    var maintS = 0.0
    val answers = mutable.ArrayBuffer.empty[Set[(Long, Long, Int)]]
    var conserved = true
    val window = new Window
    for (p <- 0 until Passes) {
      batchS += m.op(s"rematch $p") {
        val (bad, matched, unmatched) = t.span("pipelines.FuzzyMatch.run") {
          FuzzyMatch.run(subs, target)
        }
        t.span("sources.SnapshotStore.publish") {
          store.publish("fuzzy_matched", matched.select(col("rowid"), col("case_id"),
            col("distance").cast("int").as("distance"), col("tier"), col("QA_COLLECT_DATE")))
          store.publish("fuzzy_unmatched", unmatched.select(col("rowid")))
          store.publish("fuzzy_bad", bad.select(col("rowid")))
        }
      }
      probeS += m.op(s"probe $p") {
        t.span("sources.SnapshotStore.read") {
          val got = store.read("fuzzy_matched").select("rowid", "case_id", "distance")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
          val rest = store.read("fuzzy_unmatched").count() + store.read("fuzzy_bad").count()
          answers += got
          conserved &&= got.map(_._1).size + rest == Submissions
          t.add("rows_out", (got.size + rest).toDouble)
        }
      }
      maintS += m.op(s"maintain $p") {
        t.span("sources.SnapshotStore.vacuum") {
          Seq("fuzzy_matched", "fuzzy_unmatched", "fuzzy_bad").foreach(store.vacuum(_, keep = 1))
        }
      }
    }
    window.close()

    // checks: the exact planted set at the planted distances, every pass
    answers.zipWithIndex.foreach { case (got, p) =>
      m.check(s"pass${p}_matches_equal_naive_osa", got == expected,
        s"missing ${(expected -- got).take(5)} extra ${(got -- expected).take(5)}")
    }
    m.check("passes_identical", answers.distinct.size == 1, s"${answers.map(_.size)}")
    m.check("every_rowid_in_exactly_one_output", conserved, "bad + matched + unmatched != submissions")

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (t.enabled) {
      val (l, r) = saltFrames(subs, target)
      val plan = t.span("operators.FuzzyJoin.planSalts") {
        FuzzyJoin.planSalts(l, r, "block")
      }
      val matches = answers.lastOption.fold(0)(_.size).toDouble
      layer ++= Seq(
        "operators.FuzzyJoin.pair_mass" -> pairMass.toDouble,
        "operators.FuzzyJoin.band_pairs" -> bandPairs.toDouble,
        "operators.FuzzyJoin.matches" -> matches,
        "operators.FuzzyJoin.match_yield" -> matches / bandPairs.max(1),
        "operators.FuzzyJoin.salts" -> plan.salts.toDouble,
        "operators.FuzzyJoin.hot_blocks" -> plan.hotBlocks.size.toDouble,
        "operators.FuzzyJoin.straggler_ratio" -> t.stragglerRatio("pipelines.FuzzyMatch.run"))
    }
    val live = Seq("fuzzy_matched", "fuzzy_unmatched", "fuzzy_bad").map(store.read(_).count()).sum
    RunResult(window, Map("batch_s" -> batchS.toSeq, "probe_s" -> probeS.toSeq),
      Map("maint_s" -> maintS,
        "stored_bytes_per_row" -> Gen.bytesUnder(ctx.out("state")).toDouble / live.max(1)),
      layer.toMap)
  }

  /** The two frames FuzzyMatch blocks on, for the traced salt-plan call. */
  private def saltFrames(subs: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame) = (
    subs.withColumn("block", year(col("dob")))
      .select(col("rowid"), col("block"), col("first_name").as("l_first"),
        col("last_name").as("l_last")),
    FuzzyMatch.multiplyAlternates(target).withColumn("block", year(col("dob")))
      .select(col("case_id"), col("block"), col("first_name").as("r_first"),
        col("last_name").as("r_last")))
}
