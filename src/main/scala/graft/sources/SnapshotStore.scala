package graft.sources

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Try

/**
 * Versioned parquet state tables with atomic swap (SURVEY §7.4#4): the
 * reference's read-modify-write running files (keep_na.csv, processed
 * lists, saved_rows, pins) ported as immutable versioned snapshots —
 * each write lands a NEW version directory, then a pointer file flips to
 * it. Readers always see a complete version; a crashed writer leaves no
 * torn state (the reference's conservation checks + holding-folder
 * diversions become a version that simply never gets published).
 *
 * Layout: <root>/<table>/v=<n>/part-*.parquet + <root>/<table>/_CURRENT
 * (text file holding the published version number).
 *
 * Conservation check (S8): [[publish]] compares the rows the write job
 * saw (an `observe()` count riding the write, so the input plan runs
 * once) against the rows in the committed part files' parquet footers
 * (read on the driver, no job). A mismatch or an unreadable footer
 * throws before the `_CURRENT` flip.
 *
 * Schema reuse: published versions never change, so the footer schema of
 * every version this instance flips to is kept, keyed by (table,
 * version), and [[read]] / [[readOrEmpty]] / [[readVersion]] pass it to
 * the reader instead of running a schema-inference job. An entry is
 * recorded only after its flip succeeds and is evicted when
 * [[dropVersion]] (or [[vacuum]]) deletes the version; versions this
 * instance did not publish (another instance, a fresh JVM) are read with
 * inference.
 */
class SnapshotStore(spark: SparkSession, root: String) {

  private val schemas = new ConcurrentHashMap[(String, Long), StructType]()

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def versionDir(name: String, v: Long): Path = tableDir(name).resolve(s"v=$v")
  private def currentFile(name: String): Path = tableDir(name).resolve("_CURRENT")

  /** Published version of a table, if any. */
  def currentVersion(name: String): Option[Long] = {
    val f = currentFile(name)
    if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
  }

  private def readDir(name: String, v: Long): DataFrame =
    Option(schemas.get((name, v))).fold(spark.read)(spark.read.schema)
      .parquet(versionDir(name, v).toString)

  /** Read the published snapshot. */
  def read(name: String): DataFrame = {
    val v = currentVersion(name).getOrElse(
      throw new IllegalStateException(s"state table $name has no published version"))
    readDir(name, v)
  }

  /** Read the published snapshot or an empty frame with the given schema. */
  def readOrEmpty(name: String, schema: StructType): DataFrame =
    currentVersion(name) match {
      case Some(v) => readDir(name, v)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /**
   * Publish a new version: write parquet to v=<n+1> counting its rows on
   * the write, check that count against the committed footers (the
   * reference's conservation check, S8), then flip _CURRENT. Returns the
   * published version.
   */
  def publish(name: String, df: DataFrame): Long = {
    val next = currentVersion(name).getOrElse(-1L) + 1
    // the write replaces whatever a crashed publish left at v=<next>
    schemas.remove((name, next))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(versionDir(name, next).toString)
    // AQE's empty-relation propagation can drop the CollectMetrics node
    // of a provably-empty input: an absent metric is 0 rows, and the
    // footer check below still fails closed if the files hold any
    val expected = obs.get.get("n").fold(0L)(_.asInstanceOf[Long])
    flip(name, next, expected)
  }

  /** Check v=<v> against `expected` rows, then flip _CURRENT to it and
    * record its schema. */
  private[sources] def flip(name: String, v: Long, expected: Long): Long = {
    val (actual, schema) =
      try SnapshotStore.footerRows(versionDir(name, v))
      catch {
        case scala.util.control.NonFatal(e) => throw new IllegalStateException(
          s"conservation check failed publishing $name v$v: unreadable footer", e)
      }
    if (actual != expected)
      throw new IllegalStateException(
        s"conservation check failed publishing $name v$v: wrote $expected, read $actual")
    // atomic flip: write sidecar then move over _CURRENT
    val tmp = tableDir(name).resolve(s"_CURRENT.tmp$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, currentFile(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    schema.foreach(schemas.put((name, v), _))
    v
  }

  /** Read a specific on-disk version (day-over-day comparisons read the
    * published version AND its predecessor). */
  def readVersion(name: String, v: Long): DataFrame = {
    if (!Files.exists(versionDir(name, v)))
      throw new IllegalArgumentException(s"state table $name has no version $v")
    readDir(name, v)
  }

  /** All versions on disk (for retention/audit). */
  def versions(name: String): Seq[Long] = {
    val d = tableDir(name)
    if (!Files.exists(d)) Seq.empty
    else scala.util.Using.resource(Files.list(d)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
        .toSeq.sorted
    }
  }

  /** Drop all but the newest `keep` versions (never the published one). */
  def vacuum(name: String, keep: Int = 2): Unit = {
    val cur = currentVersion(name)
    versions(name).dropRight(keep).filterNot(cur.contains)
      .foreach(v => dropVersion(name, v))
  }

  /** Delete one on-disk version. Refuses the published version — that
    * would leave `_CURRENT` dangling for every reader. */
  def dropVersion(name: String, v: Long): Unit = {
    require(!currentVersion(name).contains(v),
      s"dropVersion: v$v is the published version of $name")
    schemas.remove((name, v))
    val dir = versionDir(name, v)
    if (Files.exists(dir)) {
      scala.util.Using.resource(Files.walk(dir)) { stream =>
        stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
  }
}

object SnapshotStore {

  /** Spark's footer key for the schema of the written rows. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /**
   * Rows in the parquet part files of one version directory, summed from
   * their footers on the driver (no job), plus the Spark schema the
   * footers carry (what schema inference would read back). Files are
   * listed recursively and any path with a component starting with `_` or
   * `.` is skipped, as Spark's file index does. Throws on a file whose
   * footer cannot be read.
   */
  private[sources] def footerRows(dir: Path): (Long, Option[StructType]) = {
    def visible(f: Path): Boolean = dir.relativize(f).iterator().asScala
      .map(_.toString).forall(n => !n.startsWith("_") && !n.startsWith("."))
    val files = scala.util.Using.resource(Files.walk(dir)) { stream =>
      stream.iterator().asScala
        .filter(f => Files.isRegularFile(f) && visible(f)).toSeq.sortBy(_.toString)
    }
    val footers = files.map { f =>
      scala.util.Using.resource(ParquetFileReader.open(new LocalInputFile(f))) { r =>
        (r.getRecordCount,
          Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
      }
    }
    val schema = footers.headOption.flatMap(_._2)
      .flatMap(j => Try(DataType.fromJson(j)).toOption)
      .collect { case st: StructType => st }
    (footers.map(_._1).sum, schema)
  }
}
