package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The publish commit step — footer conservation check, `_CURRENT` flip,
  * schema record — driven against hand-made version directories. */
class SnapshotStoreCommitSpec extends SparkSpec {
  import spark.implicits._

  private def partFiles(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
    }

  /** v=0 published with 3 rows in one part file, and a copy of its
    * directory as the unpublished v=1. */
  private def storeWithCopy(prefix: String): (SnapshotStore, Path) = {
    val root = Files.createTempDirectory(prefix)
    val store = new SnapshotStore(spark, root.toString)
    store.publish("t", Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("key", "n").coalesce(1))
    val v1 = Files.createDirectories(root.resolve("t/v=1"))
    scala.util.Using.resource(Files.list(root.resolve("t/v=0"))) { s =>
      s.iterator().asScala.foreach(f => Files.copy(f, v1.resolve(f.getFileName)))
    }
    (store, v1)
  }

  test("footerRows sums committed part files and skips _ and . names") {
    val (_, v1) = storeWithCopy("graft_commit_sum")
    assert(Files.exists(v1.resolve("_SUCCESS")))
    // a left-over task attempt under a hidden directory is not committed
    val attempt = Files.createDirectories(v1.resolve("_temporary/0"))
    Files.copy(partFiles(v1).head, attempt.resolve("part-00000.snappy.parquet"))
    assert(SnapshotStore.footerRows(v1)._1 === 3L)
    assert(SnapshotStore.footerRows(v1)._2.map(_.fieldNames.toSeq) ===
      Some(Seq("key", "n")))
  }

  test("a stray extra part file fails the check and leaves _CURRENT") {
    val (store, v1) = storeWithCopy("graft_commit_stray")
    val part = partFiles(v1).head
    Files.copy(part, v1.resolve("part-99999-stray.snappy.parquet"))
    assert(SnapshotStore.footerRows(v1)._1 === 6L)
    val e = intercept[IllegalStateException](store.flip("t", 1L, 3L))
    assert(e.getMessage.contains("wrote 3, read 6"))
    assert(store.currentVersion("t") === Some(0L))
    assert(store.read("t").count() === 3L)
  }

  test("a truncated part file fails the check and leaves _CURRENT") {
    val (store, v1) = storeWithCopy("graft_commit_trunc")
    val part = partFiles(v1).head
    val bytes = Files.readAllBytes(part)
    Files.write(part, bytes.take(bytes.length / 2))
    val e = intercept[IllegalStateException](store.flip("t", 1L, 3L))
    assert(e.getMessage.contains("unreadable footer"))
    assert(store.currentVersion("t") === Some(0L))
    assert(store.read("t").count() === 3L)
  }

  test("a failed flip records no schema: the overwritten v=n reads fresh") {
    val (store, v1) = storeWithCopy("graft_commit_stale")
    // crash-left v=1 with another schema, refused by the check
    Seq((1.5, "z")).toDF("x", "y").coalesce(1)
      .write.mode("overwrite").parquet(v1.toString)
    intercept[IllegalStateException](store.flip("t", 1L, 99L))
    // another instance on the same root publishes over it
    val other = new SnapshotStore(spark, v1.getParent.getParent.toString)
    assert(other.publish("t", Seq((7, true)).toDF("id", "ok")) === 1L)
    val got = store.read("t")
    assert(got.schema === spark.read.parquet(v1.toString).schema)
    assert(got.as[(Int, Boolean)].collect().toSeq === Seq((7, true)))
  }

  test("vacuum and dropVersion evict the schemas of versions they delete") {
    val root = Files.createTempDirectory("graft_commit_evict")
    val store = new SnapshotStore(spark, root.toString)
    (0 to 3).foreach(i => store.publish("t", Seq(("k", i.toLong)).toDF("key", "n")))
    store.vacuum("t", keep = 2)
    store.dropVersion("t", 2L)
    assert(store.versions("t") === Seq(3L))
    // recreate the deleted versions with another schema: a left-over
    // entry would read them with the old one
    for (v <- Seq(0L, 1L, 2L)) {
      val dir = root.resolve(s"t/v=$v").toString
      Seq((v.toDouble, "z")).toDF("x", "y").write.parquet(dir)
      val got = store.readVersion("t", v)
      assert(got.schema === spark.read.parquet(dir).schema, s"v$v")
      assert(got.as[(Double, String)].collect().toSeq === Seq((v.toDouble, "z")))
    }
  }
}
