package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas
import graft.pipelines.{Elr, FuzzyMatch, KeepNaRefresh, Phl, RosterCompile, TemplateSubmitters}
import graft.qa.FileValidation
import graft.sinks.RosterSink
import graft.sources.{FileCommit, SnapshotStore, StringCsv}

/**
 * The paper's own traffic: M/W/F batches in one long-lived session. Each
 * batch ingests template CSVs from ~25 labs, a cumulative PHL extract and
 * an ELR increment, matches them against the WDRS snapshot and the
 * rostered history, retries keep_na and the fuzzy saved rows, and
 * uploads a 17-column roster in <=500-row files.
 */
object WeeklyRoster extends Workload {
  val name = "weekly_roster"

  val Batches = 5
  val PerBatch = 400
  val WdrsFill = 30000
  val HistoryRows = 10000
  val SeededKeepNa = 60
  val RetentionDays = 60
  val Start: LocalDate = LocalDate.of(2022, 1, 3) // a Monday

  def runDate(b: Int): LocalDate = Start.plusDays(7L * (b / 3) + Seq(0, 2, 4)(b % 3))

  /** Shares of all records by submitter that BASELINE.md gives (the
    * by-lab counts of the reference's frozen pipeline output). */
  val SourcedLabShares: Seq[(String, Double)] = Seq(
    "UW Virology" -> 0.40, "PHL" -> 0.19, "Labcorp" -> 0.15, "NW Genomics" -> 0.11)
  /** ASSUMED, not in BASELINE.md, which does not break down the other 15%:
    * it is split evenly over 20 more template labs and the ELR feed, so a
    * batch has ~25 submitters. Helix, Aegis and Quest are named because
    * their GISAID ids and ELR accessions have formats of their own. */
  val OtherLabs: Seq[String] = Seq("Helix", "Aegis", "Quest") ++ (1 to 17).map(i => f"Lab$i%02d")
  val OtherShare: Double = (1.0 - SourcedLabShares.map(_._2).sum) / (OtherLabs.size + 1)
  val PhlShare: Double = SourcedLabShares.toMap.apply("PHL")
  val ElrShare: Double = OtherShare
  val templateLabs: Seq[(String, Double)] =
    SourcedLabShares.filter(_._1 != "PHL") ++ OtherLabs.map(_ -> OtherShare)
  /** ASSUMED: 1 in 20 template records is FAILED, and 3 in 4 fuzzy
    * records find a case within the OSA bounds (the rest are saved for
    * retry). */
  val FailedOneIn = 20
  val FuzzyMatchedPart = 0.75
  /** Template-record dispositions, scaled so the shares over ALL records
    * follow BASELINE.md: 96.2% matched, 3.3% keep_na, 0.33% fuzzy (matched
    * or saved), 0.13% review. */
  val kinds: Seq[(String, Double)] = {
    val t = 1.0 - PhlShare - ElrShare
    val keep = 0.0332 / t
    val fuzzy = 0.0033 * FuzzyMatchedPart / t
    val saved = 0.0033 * (1 - FuzzyMatchedPart) / t
    val review = 0.0013 / t
    Seq("keep_na" -> keep, "fuzzy" -> fuzzy, "saved" -> saved,
      "review" -> review, "roster" -> (1 - keep - fuzzy - saved - review))
  }
  val lineages = Seq("B.1.1.7", "BA.1", "BA.2", "BA.5", "XBB.1.5", "BQ.1.1")
  val reasons = Seq("SENTINEL SURVEILLANCE", "OUTBREAK", "CLINICAL", "OTHER")

  def dirName(lab: String): String = lab.replace(" ", "_")

  /** Ground truth per batch, written by the generator. */
  final case class Truth(roster: Int, review: Int, fuzzy: Int, keepNa: Int,
      saved: Int)

  private var truth: IndexedSeq[Truth] = IndexedSeq.empty
  private var submitted: Map[String, String] = Map.empty // key -> disposition

  def generate(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val g = new Gen(ctx.seed, 1)
    val entire = mutable.ArrayBuffer.empty[(Long, String, String, String, String, String)]
    val cases = mutable.ArrayBuffer.empty[(Long, String, String, java.sql.Date, java.sql.Date)]
    def d(x: LocalDate) = java.sql.Date.valueOf(x)
    // WDRS filler: cases unrelated to this run's submissions
    (0 until WdrsFill).foreach { i =>
      val coll = g.date(LocalDate.of(2021, 1, 1), 500)
      val dob = g.date(LocalDate.of(1930, 1, 1), 85 * 365)
      val (f, l) = (g.name(), g.name())
      entire += ((10000000L + i, s"W$i", coll.toString, f, l, dob.toString))
      cases += ((10000000L + i, f, l, d(dob), d(coll)))
    }
    // rostered/processed history: accessions that ELR replays and PHL lists
    val history = (0 until HistoryRows).map { i =>
      (s"H$i", d(g.date(LocalDate.of(2021, 1, 1), 360)))
    }
    val casesByDob = cases.groupBy(_._4.toString)

    val files = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Any]]]
    val phlAll = mutable.ArrayBuffer.empty[(Int, Seq[Any])]
    val redcap = mutable.ArrayBuffer.empty[Seq[Any]]
    val epi = mutable.ArrayBuffer.empty[Seq[Any]]
    val elrRows = Array.fill(Batches)(mutable.ArrayBuffer.empty[Seq[Any]])
    val gisaid = mutable.ArrayBuffer.empty[Seq[Any]]
    val counts = Array.fill(Batches)(mutable.Map.empty[String, Int].withDefaultValue(0))
    val subm = mutable.LinkedHashMap.empty[String, String]
    var r = 0
    for (b <- 0 until Batches; _ <- 0 until PerBatch) {
      r += 1
      val rd = runDate(b)
      val coll = rd.minusDays(g.between(3, 20))
      val dob = g.date(LocalDate.of(1930, 1, 1), 85 * 365)
      val (first, last) = (g.name(), g.name())
      val src = g.share(templateLabs.map(_._2) ++ Seq(PhlShare, ElrShare))
      val lin = g.pick(lineages)
      if (src == templateLabs.size) { // PHL extract
        val sid = s"PHL$r"
        entire += ((20000000L + r, sid, coll.plusDays(g.between(-5, 5)).toString,
          first, last, dob.toString))
        phlAll += ((b, Seq(sid, s"PA$r", if (g.rnd.nextBoolean()) "COMPLETE" else "Completed",
          if (g.rnd.nextInt(4) == 0) "SURV" else "OTHER", lin, first, last, dob.toString)))
        if (g.rnd.nextInt(10) == 0) redcap += Seq(sid, "sentinel")
        if (g.rnd.nextInt(4) == 0) epi += Seq(sid, first, last, dob.toString)
        counts(b)("roster") += 1
        subm(sid) = "roster"
      } else if (src == templateLabs.size + 1) { // ELR increment
        val acc = s"E$r"
        val (sub, raw) = g.rnd.nextInt(3) match {
          case 0 => ("aegis", s"ASC$r")
          case 1 => ("helix", s"$r")
          case _ => ("quest", s"hCoV-19/USA/WA-Q$r/2022")
        }
        elrRows(b) += Seq(acc, coll.toString, sub, raw,
          s"SARS-CoV-2 $lin lineage detected", 30000000L + r)
        // ASSUMED: one replayed, already-rostered row per new one
        val (hAcc, hColl) = history(g.rnd.nextInt(HistoryRows))
        elrRows(b) += Seq(hAcc, hColl.toString, "quest", s"hCoV-19/USA/WA-$hAcc/2021",
          s"SARS-CoV-2 $lin lineage detected", 40000000L + r)
        counts(b)("roster") += 1
        subm(acc) = "roster"
      } else {
        val lab = templateLabs(src)._1
        val kind = kinds(g.share(kinds.map(_._2)))._1
        val complete = g.rnd.nextInt(FailedOneIn) != 0
        val gid = if (!complete) null else lab match {
          case "Aegis" => s"ASC$r-B1"
          case "Helix" => s"USA/WA-CDC-STM-$r/2022"
          case "Labcorp" => s"LC$r"
          case other => s"USA/WA-${other.filter(_.isLetter).toUpperCase}$r/2022"
        }
        val acc = kind match {
          case "keep_na" => s"K$r"
          case "fuzzy" | "saved" => s"F$r"
          case _ => s"T$r"
        }
        var f = first
        var l = last
        kind match {
          case "roster" | "review" =>
            val off = if (kind == "roster") g.between(-10, 10) else g.between(20, 40)
            entire += ((20000000L + r, acc, coll.plusDays(off).toString, f, l, dob.toString))
            if (complete && g.rnd.nextBoolean()) gisaid += Seq(gid, s"EPI_ISL_$r")
          case "fuzzy" =>
            // a WDRS case for the same person under a misspelled name,
            // straight (distance 0-3) or with first and last flipped (0-2)
            val flipped = g.rnd.nextInt(4) == 0
            val dist = g.between(0, if (flipped) 2 else 3)
            var cf = ""
            var cl = ""
            var ok = false
            while (!ok) {
              cf = g.perturb(f, dist min f.length)
              cl = l
              val got = Gen.osa(s"${f}_$l", s"${cf}_$cl")
              ok = got <= 3 && got == (dist min f.length)
            }
            val (tf, tl) = if (flipped) (cl, cf) else (cf, cl)
            cases += ((50000000L + r, tf, tl, d(dob), d(coll.plusDays(g.between(-10, 10)))))
          case "saved" =>
            // no WDRS case within reach: redraw the name until no case
            // of the same DOB is within the match distances
            while (casesByDob.getOrElse(dob.toString, Nil).exists(c =>
              Gen.osa(s"${f}_$l", s"${c._2}_${c._3}") <= 3 ||
                Gen.osa(s"${f}_$l", s"${c._3}_${c._2}") <= 2)) {
              f = g.name(); l = g.name()
            }
          case _ =>
        }
        val named = kind != "keep_na"
        files.getOrElseUpdate(s"Submissions/${dirName(lab)}/${dirName(lab)}_b$b.csv",
          mutable.ArrayBuffer.empty) += Seq(acc, gid, coll.toString, lab,
          g.pick(reasons), if (complete) "COMPLETE" else "FAILED", lin,
          if (named) f else null, if (named) l else null, null,
          if (named) dob.toString else null, null)
        val disp = if (kind == "fuzzy" || kind == "saved") kind
          else if (kind == "review") "for_review" else kind
        counts(b)(disp) += 1
        subm(acc) = disp
      }
    }
    // keep_na carried in from earlier runs: some graduate on the first
    // refresh (their case has landed in WDRS), the rest age out at 60 days
    val seeded = (0 until SeededKeepNa).map { i =>
      val firstSeen = Start.minusDays(g.between(52, 66))
      val coll = firstSeen.minusDays(g.between(3, 10))
      val grad = i % 6 == 0
      if (grad) entire += ((60000000L + i, s"KS$i", coll.plusDays(2).toString,
        g.name(), g.name(), "1970-01-01"))
      (s"KS$i", coll, firstSeen, grad)
    }
    // expected dispositions per batch
    var keepPending = seeded.filterNot(_._4).map(_._3)
    var savedSoFar = 0
    truth = (0 until Batches).map { b =>
      val rd = runDate(b)
      val grads = if (b == 0) seeded.count(_._4) else 0
      keepPending = keepPending.filterNot(fs => fs.isBefore(rd.minusDays(RetentionDays))) ++
        Seq.fill(counts(b)("keep_na"))(rd)
      savedSoFar += counts(b)("saved")
      Truth(counts(b)("roster") + grads, counts(b)("for_review"), counts(b)("fuzzy"),
        keepPending.size, savedSoFar)
    }
    submitted = subm.toMap

    // ---- write everything
    // each batch's lab drops wait in staging until their run day
    files.foreach { case (p, rows) =>
      val b = p.split("_b").last.stripSuffix(".csv")
      Gen.writeCsv(ctx.in(s"staging/b$b/$p"), Schemas.templateColumns, rows)
    }
    (0 until Batches).foreach { b =>
      Gen.writeCsv(ctx.in(s"phl/dashboard_b$b.csv"),
        Seq("specimen_id", "accession_id", "status", "reason", "lineage",
          "first_name", "last_name", "dob"),
        phlAll.filter(_._1 <= b).map(_._2))
      Gen.writeCsv(ctx.in(s"elr/elr_b$b.csv"),
        Seq("accession", "collection_date", "submitter", "raw_id", "test_result", "case_id"),
        elrRows(b))
    }
    Gen.writeCsv(ctx.in("phl/redcap.csv"), Seq("specimen_id", "project"), redcap)
    Gen.writeCsv(ctx.in("phl/epi.csv"), Seq("specimen_id", "first_name", "last_name", "dob"), epi)
    Gen.writeCsv(ctx.in("ref/gisaid.csv"), Seq("virus_name", "epi_isl"), gisaid)
    entire.toSeq.toDF(Schemas.entireColumns: _*)
      .withColumn("CASE_ID", col("CASE_ID").cast("long"))
      .repartition(ctx.cores).write.parquet(ctx.in("wdrs_entire"))
    cases.toSeq.toDF("case_id", "first_name", "last_name", "dob", "wdrs_collection")
      .withColumn("alt_first_name", lit(null).cast("string"))
      .withColumn("alt_last_name", lit(null).cast("string"))
      .repartition(ctx.cores).write.parquet(ctx.in("cases"))
    history.toDF("accession", "collection_date").repartition(ctx.cores)
      .write.parquet(ctx.in("history_rostered"))
    val store = new SnapshotStore(spark, ctx.out("state"))
    store.publish("keep_na", seeded.map { case (k, coll, fs, _) =>
      (k, null.asInstanceOf[String], coll.toString, "UW Virology", "OTHER",
        null.asInstanceOf[String], null.asInstanceOf[String], d(fs))
    }.toDF(keepNaCols: _*).coalesce(1))

    Map("batches" -> Batches, "records_per_batch" -> PerBatch,
      "records" -> subm.size, "wdrs_rows" -> entire.size, "case_rows" -> cases.size,
      "history_rows" -> HistoryRows, "template_files" -> files.size,
      "labs" -> (templateLabs.size + 2), "seeded_keep_na" -> SeededKeepNa,
      "disposition_shares" -> Seq("roster", "for_review", "fuzzy", "saved", "keep_na")
        .map(k => k -> subm.values.count(_ == k).toDouble / subm.size).toMap,
      "baseline_shares" -> Map("matched" -> 0.9622, "keep_na" -> 0.0332,
        "fuzzy" -> 0.0033, "for_review" -> 0.0013),
      "baseline_lab_shares" -> SourcedLabShares.toMap,
      "assumed" -> Map("other_submitter_share_each" -> OtherShare,
        "other_submitters" -> (OtherLabs :+ "ELR"), "failed_share" -> 1.0 / FailedOneIn,
        "fuzzy_matched_part" -> FuzzyMatchedPart, "elr_replays_per_new_row" -> 1),
      "truth" -> truth.map(t => Map("roster" -> t.roster, "for_review" -> t.review,
        "fuzzy" -> t.fuzzy, "keep_na" -> t.keepNa, "saved" -> t.saved)))
  }

  val keepNaCols = Seq("SEQUENCE_CLINICAL_ACCESSION", "CASE_ID",
    "SEQUENCE_SPECIMEN_COLLECTION_DATE", "SEQUENCE_LAB", "SEQUENCE_REASON",
    "SEQUENCE_STATUS", "SEQUENCE_ACCESSION", "first_seen")

  /** A 17-column roster frame from named columns; the rest are null. */
  private def roster17(df: DataFrame, cols: Map[String, Column]): DataFrame =
    df.select(Schemas.rosterColumns.map(c =>
      cols.getOrElse(c, lit(null).cast("string")).cast("string").as(c)): _*)

  private val routes = Seq("Aegis" -> Seq("Aegis", "NW_Genomics"), "Helix" -> Seq("Helix"),
    "Labcorp" -> Seq("Labcorp"), "UW_Virology" -> Seq("UW_Virology"))

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val m = ctx.meter
    val store = new SnapshotStore(spark, ctx.out("state"))
    val manifest = ctx.out("manifest.txt")
    val labDirs = templateLabs.map(l => ctx.in(s"Submissions/${dirName(l._1)}"))
    val allStr = StringCsv.allStringSchema _
    val phlSchema = allStr(Seq("specimen_id", "accession_id", "status", "reason",
      "lineage", "first_name", "last_name", "dob"))
    val entire = spark.read.parquet(ctx.in("wdrs_entire"))
    val cases = spark.read.parquet(ctx.in("cases"))
    val history = spark.read.parquet(ctx.in("history_rostered"))
    val gisaidRef = StringCsv.read(spark, allStr(Seq("virus_name", "epi_isl")),
      Seq(ctx.in("ref/gisaid.csv"))).drop("_provenance")
    val redcap = StringCsv.read(spark, allStr(Seq("specimen_id", "project")),
      Seq(ctx.in("phl/redcap.csv")))
    val epi = StringCsv.read(spark, allStr(Seq("specimen_id", "first_name", "last_name", "dob")),
      Seq(ctx.in("phl/epi.csv")))
    val reasonMap = Seq(("SURV", "SENTINEL SURVEILLANCE")).toDF("input", "output")
    val lineageDf = lineages.toDF("lineage")
    val labDefaults = templateLabs.map(l => (l._1, "SENTINEL SURVEILLANCE"))
      .toDF("lab", "default_reason")
    val wdrsKeys = entire.select(col("CASE_ID").as("case_id"),
      col("FILLER__ORDER__NUM").as("wdrs_key"))
    val wdrsIds = entire.select(col("FILLER__ORDER__NUM").as("SEQUENCE_CLINICAL_ACCESSION"),
      col("FILLER__ORDER__NUM").as("SPECIMEN__ID__ACCESSION__NUM__MANUAL"))
    val cdcRef = gisaidRef.select(col("virus_name").as("gisaid_name"))
    val wdrsEnt = entire.select(col("FILLER__ORDER__NUM").as("SEQUENCE_CLINICAL_ACCESSION"),
      col("CASE_ID").cast("string").as("CASE_ID"),
      to_date(col("SPECIMEN__COLLECTION__DTTM")).as("COLLECTION_DATE"))
    val labValues = templateLabs.map(_._1)

    val batchS = mutable.ArrayBuffer.empty[Double]
    val probeS = mutable.ArrayBuffer.empty[Double]
    var maintS = 0.0
    val seen = mutable.ArrayBuffer.empty[Map[String, Long]]
    // frames a batch reads more than once are cached for the batch, as a
    // user of the engine would
    val reused = mutable.ArrayBuffer.empty[DataFrame]
    def reuse(df: DataFrame): DataFrame = { reused += df; df.persist() }
    val window = new Window
    for (b <- 0 until Batches) {
      val rd = runDate(b)
      dropLabFiles(ctx, b)
      val rdCol = lit(java.sql.Date.valueOf(rd))
      batchS += m.op(s"batch $b") {
        val files = t.span("sources.FileCommit.pendingFiles") {
          FileCommit.pendingFiles(labDirs, manifest)
        }
        val raw = t.span("sources.StringCsv.read") {
          t.materialize(StringCsv.read(spark, Schemas.templateSchema, files))
        }
        val valid = t.span("qa.FileValidation.validate") {
          val headers = FileValidation.headerCheck(spark, files, Schemas.templateColumns)
          val verdicts = FileValidation.validate(raw, labValues = labValues,
            reasonValues = Schemas.sequenceReasons, statusValues = Schemas.sequenceStatuses,
            lineageValues = lineages)
            // the two reads name a file differently (file:/// vs file:/)
            .withColumn("__path", regexp_replace(col("_provenance"), "^file:/+", "/"))
            .join(headers.select(regexp_replace(col("_provenance"), "^file:/+", "/")
              .as("__path"), col("format_ok")), Seq("__path"), "left")
            .drop("__path")
            .withColumn("valid", col("valid") && coalesce(col("format_ok"), lit(false)))
          t.materialize(FileValidation.route(raw, verdicts)._1)
        }
        val routed = t.span("pipelines.TemplateSubmitters.run") {
          t.materialize(reuse(TemplateSubmitters.run(valid, entire)))
        }
        val templRoster = TemplateSubmitters.toRoster(
          routed.filter(col("disposition") === "roster"), rdCol)
        val review = routed.filter(col("disposition") === "for_review")
          .select(col("accession").as("key"), lit(b).as("batch"))
        val fuzzySubs = routed.filter(col("disposition") === "fuzzy")
          .select(col("LAB_ACCESSION_ID").as("rowid"), col("FIRST_NAME").as("first_name"),
            col("LAST_NAME").as("last_name"), col("dob"), col("collection_date"))
        val keepNew = routed.filter(col("disposition") === "keep_na")
          .select(col("accession").as("SEQUENCE_CLINICAL_ACCESSION"),
            lit(null).cast("string").as("CASE_ID"),
            col("SPECIMEN_COLLECTION_DATE").as("SEQUENCE_SPECIMEN_COLLECTION_DATE"),
            col("SUBMITTING_LAB").as("SEQUENCE_LAB"), col("SEQUENCE_REASON"),
            col("SEQUENCE_STATUS"), col("gisaid_id").as("SEQUENCE_ACCESSION"),
            rdCol.as("first_seen"))
        val processed = store.readOrEmpty("processed",
          StructType(Seq(StructField("accession", StringType)))).unionByName(
          history.select("accession"))
        val phlRoster = t.span("pipelines.Phl.run") {
          val dash = StringCsv.read(spark, phlSchema, Seq(ctx.in(s"phl/dashboard_b$b.csv")))
          t.materialize(Phl.run(dash, redcap, epi, wdrsKeys, reasonMap,
            processed.select(col("accession").as("specimen_id"))))
        }
        val elrNew = t.span("pipelines.Elr.run") {
          val elr = StringCsv.read(spark, allStr(Seq("accession", "collection_date",
            "submitter", "raw_id", "test_result", "case_id")), Seq(ctx.in(s"elr/elr_b$b.csv")))
            .withColumn("collection_date", to_date(col("collection_date")))
          t.materialize(Elr.extractLineage(Elr.synthesizeAccession(
            Elr.newRecords(elr, history, processed)), lineageDf))
        }
        val matched = t.span("pipelines.FuzzyMatch.runWithSavedRows") {
          t.materialize(FuzzyMatch.runWithSavedRows(fuzzySubs, cases, store)._2)
        }
        val (graduated, pendingNa) = t.span("pipelines.KeepNaRefresh.refreshCaseId") {
          val pending = store.read("keep_na").unionByName(keepNew)
          val (grad, still) = KeepNaRefresh.split(
            reuse(KeepNaRefresh.refreshCaseId(pending, wdrsEnt)))
          (t.materialize(grad), t.materialize(still))
        }
        val roster = t.span("pipelines.RosterCompile.run") {
          t.materialize(reuse(RosterCompile.run(Seq(
            templRoster,
            roster17(phlRoster, Map("CASE_ID" -> col("case_id"),
              "SEQUENCE_CLINICAL_ACCESSION" -> col("specimen_id"),
              "SEQUENCE_LAB" -> lit("PHL"), "SEQUENCE_STATUS" -> col("status"),
              "SEQUENCE_REASON" -> col("reason"),
              "SEQUENCE_VARIANT_OPEN_TEXT" -> col("lineage"),
              "SEQUENCE_REPOSITORY" -> col("repository"))),
            roster17(elrNew, Map("CASE_ID" -> col("case_id"),
              "SEQUENCE_CLINICAL_ACCESSION" -> col("accession"),
              "SEQUENCE_ACCESSION" -> col("gisaid_id"),
              "SEQUENCE_VARIANT_OPEN_TEXT" -> col("lineage"),
              "SEQUENCE_STATUS" -> lit("COMPLETE"))),
            roster17(graduated, Map("CASE_ID" -> col("CASE_ID"),
              "SEQUENCE_CLINICAL_ACCESSION" -> col("SEQUENCE_CLINICAL_ACCESSION"),
              "SEQUENCE_LAB" -> col("SEQUENCE_LAB"), "SEQUENCE_REASON" -> col("SEQUENCE_REASON")))),
            gisaidRef, labDefaults).drop("_chunk")))
        }
        t.span("sinks.RosterSink.writeChunked") {
          RosterSink.writeChunked(roster, ctx.out(s"roster/batch=$b"), Seq("CASE_ID"))
        }
        t.span("sources.SnapshotStore.publish") {
          store.publish("keep_na", pendingNa)
          store.publish("for_review", store.readOrEmpty("for_review", review.schema)
            .unionByName(review))
          store.publish("fuzzy_review", store.readOrEmpty("fuzzy_review",
            StructType(Seq(StructField("key", StringType), StructField("batch", IntegerType),
              StructField("case_id", LongType), StructField("distance", IntegerType))))
            .unionByName(matched.select(col("rowid").as("key"), lit(b).as("batch"),
              col("case_id").cast("long").as("case_id"),
              col("distance").cast("int").as("distance"))))
          store.publish("processed", store.readOrEmpty("processed",
            StructType(Seq(StructField("accession", StringType))))
            .unionByName(roster.select(col("SEQUENCE_CLINICAL_ACCESSION").as("accession"))))
        }
        t.span("sources.FileCommit.commitProcessed") {
          FileCommit.commitProcessed(files, ctx.out("completed"), routes, "Other", manifest)
        }
        reused.foreach(_.unpersist())
        reused.clear()
        t.release()
      }
      // retention: keep_na records past 60 days are archived with the
      // reasons they never rostered, then old state versions are dropped
      maintS += m.op(s"maintain $b") {
        t.span("pipelines.KeepNaRefresh.annotateExpiry") {
          val pending = store.read("keep_na")
          val old = col("first_seen") < date_sub(rdCol, RetentionDays)
          val expired = KeepNaRefresh.annotateExpiry(pending.filter(old), wdrsIds,
            gisaidRef, cdcRef, Seq("CDC"))
          store.publish("keep_na_expired", store.readOrEmpty("keep_na_expired", expired.schema)
            .unionByName(expired))
          store.publish("keep_na", pending.filter(!old))
        }
        t.span("sources.SnapshotStore.vacuum") {
          FileCommit.sweepLeftovers(manifest)
          Seq("keep_na", "keep_na_expired", "for_review", "fuzzy_review", "processed",
            "fuzzy_saved_rows").foreach(store.vacuum(_, keep = 2))
        }
      }
      // read side: the batch's upload files and the state it left
      probeS += m.op(s"probe $b") {
        t.span("sources.SnapshotStore.read") {
          val got = Map(
            "roster" -> spark.read.option("header", "true")
              .csv(ctx.out(s"roster/batch=$b")).count(),
            "keep_na" -> store.read("keep_na").count(),
            "saved" -> store.read("fuzzy_saved_rows").count())
          seen += got
          t.add("rows_out", got.values.sum.toDouble)
        }
      }
    }
    window.close()
    check(ctx, store, seen.toSeq)

    val live = Seq("keep_na", "keep_na_expired", "for_review", "fuzzy_review",
      "processed", "fuzzy_saved_rows").map(tb => store.read(tb).count()).sum +
      spark.read.option("header", "true").csv(ctx.out("roster")).count()
    val bytes = Gen.bytesUnder(ctx.out("state")) + Gen.bytesUnder(ctx.out("roster"))
    RunResult(window, Map("batch_s" -> batchS.toSeq, "probe_s" -> probeS.toSeq),
      Map("maint_s" -> maintS, "stored_bytes_per_row" -> bytes.toDouble / live.max(1)),
      Map.empty)
  }

  /** The labs' drop for batch `b`: move its files from staging into the
    * submission folders (not timed — it happens before the run starts). */
  private def dropLabFiles(ctx: Ctx, b: Int): Unit = {
    val from = Paths.get(ctx.in(s"staging/b$b"))
    Gen.dataFiles(from.toString).foreach { f =>
      val dest = Paths.get(ctx.in("")).resolve(from.relativize(f))
      Files.createDirectories(dest.getParent)
      Files.move(f, dest)
    }
  }

  private def check(ctx: Ctx, store: SnapshotStore, seen: Seq[Map[String, Long]]): Unit = {
    val spark = ctx.spark
    val m = ctx.meter
    // roster contract: 17 columns in order, <=500 rows per upload file
    val rosterFiles = Gen.dataFiles(ctx.out("roster")).filter(_.toString.endsWith(".csv"))
    val headerBad = rosterFiles.filter { f =>
      val first = scala.util.Using.resource(Files.newBufferedReader(f))(_.readLine())
      first != Schemas.rosterColumns.mkString(",")
    }
    m.check("roster_17_columns_in_order", rosterFiles.nonEmpty && headerBad.isEmpty,
      s"${headerBad.size} of ${rosterFiles.size} files: ${headerBad.take(2)}")
    val chunkRows = rosterFiles.groupBy(_.getParent).map { case (dir, fs) =>
      dir -> fs.map(f => Files.lines(f).count() - 1).sum }
    m.check("roster_chunks_le_500_rows", chunkRows.values.forall(_ <= 500),
      chunkRows.filter(_._2 > 500).take(3).toString)
    // per-batch disposition counts against the generator's truth
    val review = store.read("for_review").groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fuzzy = store.read("fuzzy_review").groupBy("batch")
      .agg(countDistinct("key")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bad = (0 until Batches).flatMap { b =>
      val tr = truth(b)
      val got = seen.lift(b).getOrElse(Map.empty[String, Long]).withDefaultValue(-1L) ++ Map(
        "for_review" -> review.getOrElse(b, 0L),
        "fuzzy" -> fuzzy.getOrElse(b, 0L))
      val want = Map("roster" -> tr.roster, "for_review" -> tr.review, "fuzzy" -> tr.fuzzy,
        "keep_na" -> tr.keepNa, "saved" -> tr.saved)
      want.collect { case (k, v) if got(k) != v.toLong => s"batch $b $k: got ${got(k)} want $v" }
    }
    m.check("dispositions_equal_truth", bad.isEmpty, bad.take(5).mkString("; "))
    // every submitted record lands in exactly one disposition
    import spark.implicits._
    val where = Seq(
      "roster" -> spark.read.option("header", "true").csv(ctx.out("roster"))
        .select(col("SEQUENCE_CLINICAL_ACCESSION")),
      "for_review" -> store.read("for_review").select("key"),
      "fuzzy" -> store.read("fuzzy_review").select("key").distinct(),
      "keep_na" -> store.read("keep_na").select("SEQUENCE_CLINICAL_ACCESSION"),
      "saved" -> store.read("fuzzy_saved_rows").select("rowid"))
      .flatMap { case (d, df) => df.as[String].collect().map(_ -> d) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val wrong = submitted.toSeq.filter { case (k, d) => where.get(k).forall(_ != Seq(d)) }
    m.check("each_record_in_exactly_one_disposition", wrong.isEmpty,
      s"${wrong.size} records: ${wrong.take(5).map { case (k, d) => s"$k want $d got ${where.get(k)}" }}")
  }
}
