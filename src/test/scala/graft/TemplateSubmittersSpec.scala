package graft

import graft.model.Schemas
import graft.pipelines.TemplateSubmitters
import graft.sinks.RosterSink
import graft.sources.StringCsv
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * End-to-end slice (SURVEY §7.2, FIXTURES.md §1): reference-shaped template
 * CSV fixtures in → normalize → J1 match vs an ENTIRE snapshot → Q1 QA →
 * disposition → 17-column positional roster out. Expected dispositions
 * derived by manual trace of the R logic (SURVEY §5#2).
 */
class TemplateSubmittersSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("graft_fixture").toFile
    val csv = new java.io.File(dir, "lab_a.csv")
    val rows = Seq(
      Schemas.templateColumns.mkString(","),
      // clean matched row: US date — expect roster
      "ACC1,hCoV-19/USA/WA-X1/2021,3/15/2021,LabA,SENTINEL SURVEILLANCE,COMPLETE,B.1.1.7,JOHN,SMITH,,1/2/1980,",
      // matched, ISO + Excel-serial dates, but bad status — expect for_review
      "ACC2,USA/WA-X2/2021,2021-03-16,LabA,OTHER,BOGUS_STATUS,B.1.2,JANE,DOE,,44197,",
      // unmatched WITH demographics — expect fuzzy
      "ACC3,USA/WA-X3/2021,3/17/2021,LabA,OTHER,COMPLETE,B.1.617.2,AMY,POND,,5/5/1990,",
      // unmatched, NO demographics — expect keep_na
      "ACC4,USA/WA-X4/2021,3/18/2021,LabA,OTHER,COMPLETE,AY.4,,,,NA,",
      // near-empty row (1 non-null cell) — dropped by P2
      ",,,,,,,,,,,")
    Files.write(csv.toPath, rows.mkString("\n").getBytes)
    csv.getAbsolutePath
  }

  private val entire = Seq(
    (101L, "ACC1", "2021-03-20"),
    (102L, "ACC2", "2021-03-16"))
    .toDF("CASE_ID", "FILLER__ORDER__NUM", "SPECIMEN__COLLECTION__DTTM")
    .select(col("CASE_ID"), col("FILLER__ORDER__NUM"),
      col("SPECIMEN__COLLECTION__DTTM").cast("timestamp"))

  test("template submitters happy path: ingest, route, roster") {
    val path = writeFixture()
    val raw = StringCsv.read(spark, Schemas.templateSchema, Seq(path))
    assert(raw.count() === 5)

    val nonEmpty = StringCsv.dropEmptyRows(raw, Schemas.templateColumns)
    assert(nonEmpty.count() === 4)

    val routed = TemplateSubmitters.run(nonEmpty, entire).cache()
    val byAcc = routed.select(col("LAB_ACCESSION_ID"), col("disposition"))
      .as[(String, String)].collect().toMap
    assert(byAcc === Map(
      "ACC1" -> "roster", "ACC2" -> "for_review",
      "ACC3" -> "fuzzy", "ACC4" -> "keep_na"))

    // partition is total & disjoint: 4 rows, one disposition each
    assert(routed.count() === 4)
    assert(routed.groupBy("disposition").count()
      .as[(String, Long)].collect().toMap.values.sum === 4L)

    // roster build: 17 columns, positional order, canonical date format
    val roster = TemplateSubmitters.toRoster(
      routed.filter(col("disposition") === "roster"), to_date(lit("2021-04-01")))
    assert(roster.columns.toSeq === Schemas.rosterColumns)
    val r = roster.collect().head
    assert(r.getString(0) === "101")
    assert(r.getString(8) === "USA/WA-X1/2021")            // prefix stripped
    assert(r.getString(12) === "03/15/2021")               // MM/dd/yyyy
    assert(r.getString(13) === "04/01/2021")               // injected run date
    assert(r.getString(14) ===
      "Lineage identified as B.1.1.7 on 4/1/2021. Lineage assignments may change over time.")

    // multi-format dates all parsed: ACC2's Excel serial DOB 44197 = 2021-01-01
    val dob = routed.filter(col("LAB_ACCESSION_ID") === "ACC2")
      .select(col("dob").cast("string")).as[String].head()
    assert(dob === "2021-01-01")
  }

  test("QA_COLLECT_DATE flags >14-day mismatch vs WDRS; within-window clean") {
    val path = writeFixture()
    val raw = StringCsv.dropEmptyRows(
      StringCsv.read(spark, Schemas.templateSchema, Seq(path)),
      Schemas.templateColumns)
    // move WDRS collection for ACC1 to 40 days later -> QA flag -> for_review
    val entireShifted = Seq((101L, "ACC1", "2021-04-25"))
      .toDF("CASE_ID", "FILLER__ORDER__NUM", "SPECIMEN__COLLECTION__DTTM")
      .select(col("CASE_ID"), col("FILLER__ORDER__NUM"),
        col("SPECIMEN__COLLECTION__DTTM").cast("timestamp"))
    val routed = TemplateSubmitters.run(raw, entireShifted)
    val acc1 = routed.filter(col("LAB_ACCESSION_ID") === "ACC1")
      .select(col("QA_COLLECT_DATE"), col("disposition"))
      .as[(Int, String)].head()
    assert(acc1 === ((1, "for_review")))
  }

  test("chunked sink: ≤500 rows per chunk, NA as empty string") {
    val dir = Files.createTempDirectory("graft_chunks").toFile.getAbsolutePath
    val big = spark.range(1201).select(
      col("id").cast("string").as("CASE_ID"),
      lit(null).cast("string").as("SEQUENCE_NOTES"))
    RosterSink.writeChunked(big, dir, Seq("CASE_ID"), maxRows = 500)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() === 1201)
    val chunks = new java.io.File(dir).listFiles().filter(_.getName.startsWith("_chunk="))
    assert(chunks.length === 3) // 500+500+201
    // null came back as empty -> read as null again under default parsing
    assert(back.filter(col("SEQUENCE_NOTES").isNull).count() === 1201)
  }

  test("distributed chunk ids: ≤maxRows per chunk, all rows kept, no shuffle") {
    val big = spark.range(0, 2201, 1, 8)
      .select(col("id").cast("string").as("CASE_ID"))
    val chunked = RosterSink.withChunkIdDistributed(big, maxRows = 100)
    // zero exchanges: the assignment must not introduce a shuffle or sort
    val plan = chunked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no exchange:\n$plan")
    val counts = chunked.groupBy("_chunk").count()
    assert(counts.agg(max(col("count"))).head().getLong(0) <= 100)
    assert(counts.agg(sum(col("count"))).head().getLong(0) === 2201)
  }

  test("writeChunked switches to distributed ids above the threshold") {
    val dir = Files.createTempDirectory("graft_chunks_dist").toFile.getAbsolutePath
    val big = spark.range(0, 1201, 1, 4).select(
      col("id").cast("string").as("CASE_ID"),
      lit(null).cast("string").as("SEQUENCE_NOTES"))
    RosterSink.writeChunked(big, dir, Seq("CASE_ID"), maxRows = 500,
      distributedAbove = 1000)
    val back = spark.read.option("header", "true")
      .option("basePath", dir).csv(dir)
    assert(back.count() === 1201)
    // every chunk directory respects the row cap
    val perChunk = back.groupBy("_chunk").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(perChunk <= 500)
  }

  test("append sink conservation check") {
    val dir = Files.createTempDirectory("graft_state").toFile.getAbsolutePath + "/keep_na"
    val d1 = Seq(("1", "a"), ("2", "b")).toDF("id", "v")
    assert(RosterSink.appendWithCheck(d1, dir) === 2L)
    val d2 = Seq(("3", "c")).toDF("id", "v")
    assert(RosterSink.appendWithCheck(d2, dir) === 3L)
  }

  test("append sink runs its delta once: the count rides the append write") {
    val dir = Files.createTempDirectory("graft_state_once").toFile.getAbsolutePath + "/keep_na"
    val acc = spark.sparkContext.longAccumulator("append_rows")
    val seen = udf { (_: Long) => acc.add(1L); true }.asNondeterministic()
    val delta = spark.range(0, 30, 1, 3).filter(seen(col("id")))
      .select(col("id").cast("string").as("id"))
    assert(RosterSink.appendWithCheck(delta, dir) === 30L)
    assert(acc.value === 30L)
  }

  test("append sink: unreadable state surfaces instead of passing as empty") {
    // an empty directory is NOT a missing state table — schema inference
    // fails on it, and the narrowed catch must let that surface rather
    // than treating it as a zero-row baseline (the conservation check
    // would otherwise pass against a state it never actually read)
    val emptyDir = Files.createTempDirectory("graft_state_bad").toFile.getAbsolutePath
    val d = Seq(("1", "a")).toDF("id", "v")
    intercept[org.apache.spark.sql.AnalysisException] {
      RosterSink.appendWithCheck(d, emptyDir)
    }
  }

  test("capstone: ingest -> match -> QA -> roster -> compile -> chunked CSV") {
    val path = writeFixture()
    val raw = StringCsv.dropEmptyRows(
      StringCsv.read(spark, Schemas.templateSchema, Seq(path)),
      Schemas.templateColumns)
    val routed = TemplateSubmitters.run(raw, entire)
    val roster = TemplateSubmitters.toRoster(
      routed.filter(col("disposition") === "roster"), to_date(lit("2021-04-01")))
    val gisaid = Seq(("USA/WA-X1/2021", "EPI_ISL_777")).toDF("virus_name", "epi_isl")
    val labDefaults = Seq(("LabA", "OTHER")).toDF("lab", "default_reason")
    val compiled = graft.pipelines.RosterCompile.run(
      Seq(roster), gisaid, labDefaults, maxRows = 500)

    val outDir = Files.createTempDirectory("graft_e2e").toString
    graft.sinks.RosterSink.writeChunked(
      compiled.drop("_chunk"), outDir, Seq("CASE_ID"), maxRows = 500)
    val back = spark.read.option("header", "true").csv(outDir)
    assert(back.count() === 1)
    val row = back.collect().head
    assert(row.getAs[String]("CASE_ID") === "101")
    assert(row.getAs[String]("SEQUENCE_EPI_ISL") === "EPI_ISL_777")
    assert(row.getAs[String]("SEQUENCE_SPECIMEN_COLLECTION_DATE") === "03/15/2021")
  }

  test("S3: gzipped TSV ingest (codec transparent, custom separator)") {
    val dir = Files.createTempDirectory("graft_tsv").toFile
    val gz = new java.io.File(dir, "feed.tsv.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write((Schemas.templateColumns.mkString("\t") +
      "\nACC9\tg\t3/1/2021\tLabZ\tOTHER\tCOMPLETE\tB.1\tA\tB\t\t1/1/1990\t\n").getBytes)
    out.close()
    val df = StringCsv.read(spark, Schemas.templateSchema,
      Seq(gz.getAbsolutePath), sep = "\t")
    assert(df.count() === 1)
    val r = df.select("LAB_ACCESSION_ID", "SUBMITTING_LAB").as[(String, String)].head()
    assert(r === (("ACC9", "LabZ")))
  }

  test("file stats flag empty files for the invalid channel") {
    val dir = Files.createTempDirectory("graft_files").toFile
    val good = new java.io.File(dir, "good.csv")
    Files.write(good.toPath,
      (Schemas.templateColumns.mkString(",") + "\nACC9,g,3/1/2021,L,OTHER,COMPLETE,B.1,A,B,,1/1/1990,\n").getBytes)
    val empty = new java.io.File(dir, "empty.csv")
    Files.write(empty.toPath, (Schemas.templateColumns.mkString(",") + "\n").getBytes)
    val raw = StringCsv.read(spark, Schemas.templateSchema,
      Seq(good.getAbsolutePath, empty.getAbsolutePath))
    val stats = StringCsv.fileStats(raw, Schemas.templateColumns)
      .select(col("_provenance"), col("valid")).as[(String, Boolean)]
      .collect().toMap
    assert(stats.size === 1) // empty file contributes no rows at all
    assert(stats.keys.head.contains("good.csv") && stats.values.head)
  }
}
