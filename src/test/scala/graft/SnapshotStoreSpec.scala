package graft

import graft.operators.Joins
import graft.sources.SnapshotStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Versioned state store: publish/flip/read-back, crash isolation,
  * vacuum; plus the snapshot-diff operator over two published versions. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  test("publish flips _CURRENT atomically; readers see whole versions") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new SnapshotStore(spark, root)
    assert(store.currentVersion("keep_na").isEmpty)

    val v0 = store.publish("keep_na", Seq(("k1", 1), ("k2", 2)).toDF("key", "v"))
    assert(v0 === 0L)
    assert(store.read("keep_na").count() === 2)

    val v1 = store.publish("keep_na",
      store.read("keep_na").unionByName(Seq(("k3", 3)).toDF("key", "v")))
    assert(v1 === 1L)
    assert(store.read("keep_na").count() === 3)
    assert(store.versions("keep_na") === Seq(0L, 1L))

    store.vacuum("keep_na", keep = 1)
    assert(store.versions("keep_na") === Seq(1L))
    assert(store.read("keep_na").count() === 3)
  }

  test("readOrEmpty yields typed empty frame before first publish") {
    val root = Files.createTempDirectory("graft_store2").toString
    val store = new SnapshotStore(spark, root)
    val schema = Seq(("x", 1)).toDF("key", "v").schema
    assert(store.readOrEmpty("nothing", schema).count() === 0)
    assert(store.readOrEmpty("nothing", schema).schema === schema)
  }

  /** Jobs `body` starts on this thread. A marker job run afterwards
    * drains the listener bus: once its start is seen, so are all earlier
    * ones. */
  private def jobsIn(body: => Unit): Int = {
    val group = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener bus did not drain")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("publish runs its input plan once: the row count rides the write") {
    val root = Files.createTempDirectory("graft_store_once").toString
    val store = new SnapshotStore(spark, root)
    val acc = spark.sparkContext.longAccumulator("publish_rows")
    val seen = udf { (_: Long) => acc.add(1L); true }.asNondeterministic()
    val v = store.publish("t", spark.range(0, 100, 1, 4).toDF().filter(seen(col("id"))))
    assert(v === 0L)
    assert(acc.value === 100L)
    assert(store.read("t").count() === 100L)
  }

  test("read/readOrEmpty/readVersion return exactly what inference reads") {
    val root = Files.createTempDirectory("graft_store_schema").toString
    val store = new SnapshotStore(spark, root)
    val schema = StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType),
      StructField("d", DateType),
      StructField("dec", DecimalType(12, 3), nullable = false),
      StructField("arr", ArrayType(StringType, containsNull = false)),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType))), nullable = false)))
    val rows = Seq(
      Row("x", 1, 10L, java.sql.Date.valueOf("2021-04-01"),
        new java.math.BigDecimal("1.250"), Seq("p", "q"), Row(7, "b")),
      Row("y", 2, null, null, new java.math.BigDecimal("-3.000"), null, Row(8, null)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    store.publish("t", df)
    store.publish("t", store.read("t").limit(1))
    for (v <- Seq(0L, 1L)) {
      val inferred = spark.read.parquet(s"$root/t/v=$v")
      def same(got: DataFrame): Unit = {
        assert(got.schema === inferred.schema)
        assert(rowsOf(got) === rowsOf(inferred))
      }
      val fresh = new SnapshotStore(spark, root)
      for (s <- Seq(store, fresh)) {
        same(s.readVersion("t", v))
        if (v == 1L) { same(s.read("t")); same(s.readOrEmpty("t", schema)) }
      }
    }
    // the publishing store reads its own versions without an inference
    // job; a store that did not publish them still infers
    assert(jobsIn(store.read("t")) === 0)
    assert(jobsIn(store.readVersion("t", 0L)) === 0)
    assert(jobsIn(new SnapshotStore(spark, root).read("t")) > 0)
  }

  test("publishing an empty frame gives a 0-row version with its schema") {
    val root = Files.createTempDirectory("graft_store_empty").toString
    val store = new SnapshotStore(spark, root)
    val schema = Seq(("k", 1L)).toDF("key", "n").schema
    // the emptyRDD shape readOrEmpty returns before the first publish
    store.publish("e", store.readOrEmpty("e", schema))
    // a filter that removes every row
    store.publish("f", Seq(("a", 1L), ("b", 2L)).toDF("key", "n")
      .filter(col("n") > 5L))
    store.publish("g", spark.range(0, 50, 1, 4).select(
      col("id").cast("string").as("key"), col("id").as("n"))
      .filter(col("n") < 0L))
    for (t <- Seq("e", "f", "g")) {
      val got = store.read(t)
      assert(got.count() === 0L, t)
      assert(got.schema === spark.read.parquet(s"$root/$t/v=0").schema, t)
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        schema.map(f => (f.name, f.dataType)), t)
    }
  }

  test("snapshotDiff classifies added/removed/changed between versions") {
    val root = Files.createTempDirectory("graft_store3").toString
    val store = new SnapshotStore(spark, root)
    store.publish("wdrs", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val yesterday = store.read("wdrs")
    store.publish("wdrs", Seq((1, "a"), (2, "B"), (4, "d")).toDF("id", "v"))
    val today = store.read("wdrs")

    val diff = Joins.snapshotDiff(today, yesterday, Seq("id"))
      .select("id", "diff_kind").as[(Int, String)].collect().toSet
    assert(diff === Set(
      (2, "added_changed"), (2, "removed_changed"),  // id 2 changed value
      (4, "added"), (3, "removed")))
  }

  test("snapshotDiffCauses: roster, merge, lineage, unexpected arms") {
    // columns: case id / accession (stable) / lineage (mutable) — one
    // scenario per cause, in the reference's precedence order
    val prev = Seq(
      ("C1", "A1", "B.1"),    // case-id merge: same attrs, new id C1N
      ("C2", "A2", "B.2"),    // lineage update: same row except lineage
      ("C3", "A3", "B.3"),    // unexpected: accession AND lineage changed
      ("C4", "A4", "B.4"),    // removed, no counterpart -> unexpected
      ("C6", "A6", "B.6"))    // unchanged (also in current)
      .toDF("case_id", "acc", "lineage")
    val current = Seq(
      ("C1N", "A1", "B.1"),
      ("C2", "A2", "B.2.1"),
      ("C3", "A3x", "B.3x"),
      ("C5", "A5", "B.5"),    // added by roster upload -> expected
      ("C6", "A6", "B.6"))
      .toDF("case_id", "acc", "lineage")
    // roster columns are a SUBSET of the snapshot columns (any_of, with
    // null-fill on the way back out): C5 uploaded fine; C9 never appeared
    // as a new diff -> upload problem
    val roster = Seq(("C5", "A5"), ("C9", "A9")).toDF("case_id", "acc")

    val out = Joins.snapshotDiffCauses(current, prev, "case_id",
        Seq("lineage"), Some(roster))
      .select("case_id", "diff_side", "cause")
      .as[(String, String, String)].collect().toSet
    assert(out === Set(
      ("C5", "current", "roster_expected"),
      ("C9", "roster", "roster_missing"),
      ("C1N", "current", "case_id_merge"),
      ("C1", "prev", "case_id_merge"),
      ("C2", "current", "lineage_update"),
      ("C2", "prev", "lineage_update"),
      ("C3", "current", "unexpected"),
      ("C3", "prev", "unexpected"),
      ("C4", "prev", "unexpected")))
  }

  test("snapshotDiffCauses without a roster still classifies merges") {
    val prev = Seq(("C1", "A1"), ("C2", "A2")).toDF("case_id", "acc")
    val current = Seq(("C1N", "A1"), ("C2", "A2")).toDF("case_id", "acc")
    val out = Joins.snapshotDiffCauses(current, prev, "case_id",
        Seq.empty, None)
      .select("case_id", "cause").as[(String, String)].collect().toSet
    assert(out === Set(
      ("C1N", "case_id_merge"), ("C1", "case_id_merge")))
  }
}
