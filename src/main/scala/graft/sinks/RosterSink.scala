package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Roster sinks (SURVEY §2.1): S7 CSV with NA-as-empty, S9 chunked ≤500-row
 * files (the WDRS upload limit, docs/notebooks/ROSTER_COMPILE.Rmd:396-432),
 * S8 append with conservation check.
 */
object RosterSink {

  /**
   * S9 chunk assignment: global row_number over a deterministic order,
   * then chunk id = ceil(rn / maxRows). The global row_number is a single
   * total order — fine for roster-sized outputs (≤ ~millions of rows on
   * one task); above that use [[withChunkIdDistributed]].
   */
  def withChunkId(roster: DataFrame, orderCols: Seq[String],
      maxRows: Int = 500): DataFrame =
    roster.withColumn("_chunk",
      ceil(row_number().over(
        Window.orderBy(orderCols.map(col): _*)) / lit(maxRows.toDouble))
        .cast("int"))

  /**
   * S9 chunk assignment without a global sort: chunk ids derive from
   * `monotonically_increasing_id` (partition ordinal in the high 33 bits,
   * per-partition offset in the low bits), so `mid / maxRows` groups
   * maxRows CONSECUTIVE rows of one partition per chunk and distinct
   * partitions occupy disjoint id ranges — zero shuffle, no single-task
   * order. Trade-offs vs [[withChunkId]]: chunk ids are sparse (not
   * 1..K), the chunk at each partition edge may hold < maxRows rows, and
   * the assignment depends on the incoming partition layout rather than
   * a sort order. The ≤ maxRows contract — the part WDRS enforces —
   * holds unconditionally.
   */
  def withChunkIdDistributed(roster: DataFrame, maxRows: Int = 500): DataFrame =
    // `div`, not `/`: Spark's Divide is double-precision, and mid packs
    // the partition ordinal into the high 33 bits — above ~2^20 partitions
    // mid exceeds 2^53, the division rounds, and a boundary row could land
    // in the adjacent chunk, breaking the ≤ maxRows contract by one row.
    // IntegralDivide is exact for all 64-bit ids.
    roster.withColumn("_chunk",
      expr(s"monotonically_increasing_id() div $maxRows"))

  /**
   * S7: write CSV with null→empty (write_csv(..., na="")) partitioned by
   * chunk — each chunk lands as its own directory of ≤maxRows files.
   * Outputs up to `distributedAbove` rows get the deterministic
   * globally-ordered chunk ids; larger outputs switch to the zero-shuffle
   * per-partition assignment (the one-task global sort is the scale
   * ceiling, not the write).
   */
  def writeChunked(roster: DataFrame, path: String, orderCols: Seq[String],
      maxRows: Int = 500, distributedAbove: Long = 1000000L): Unit = {
    // global path: repartition by chunk so each chunk is one file.
    // distributed path: chunks are already contiguous within their task's
    // partition — repartitioning would just re-add the shuffle the variant
    // exists to avoid, so write directly (partitionBy splits per value).
    //
    // The strategy probe counts AT MOST distributedAbove+1 rows (limit
    // before count): a full count() would execute the entire upstream
    // pipeline a second time precisely for the large outputs the
    // distributed path exists for. Clamp BEFORE the +1: a sentinel like
    // Long.MaxValue (callers pin the global path with it — the s7 oracle
    // row does) would overflow to Long.MinValue and probe limit(0),
    // choosing "small" by accident of the degenerate comparison.
    val probe = (math.min(distributedAbove, Int.MaxValue - 1L) + 1).toInt
    val small = roster.limit(probe).count() <= distributedAbove
    val chunked =
      if (small) withChunkId(roster, orderCols, maxRows).repartition(col("_chunk"))
      else withChunkIdDistributed(roster, maxRows)
    chunked
      .write.mode("overwrite")
      .partitionBy("_chunk")
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(path)
  }

  /**
   * S8 append-with-conservation: append `delta` to the state table at
   * `path`, then verify the re-read row count grew by exactly the rows
   * the append wrote (template_submitters.Rmd:961-985). Returns the
   * post-append count; throws on conservation failure (the reference
   * diverts to a holding folder — callers catch and route).
   */
  def appendWithCheck(delta: DataFrame, path: String): Long = {
    val spark = delta.sparkSession
    val before =
      try spark.read.option("header", "true").csv(path).count()
      catch {
        // ONLY "state table doesn't exist yet" maps to an empty baseline.
        // Any other read failure (corrupt/unreadable state, empty
        // directory, storage errors) must propagate: mapping it to 0 would
        // let the conservation check pass against a state it never read.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => 0L
      }
    // the delta's row count rides the append write (observe()), so its
    // plan runs once; an absent metric is an AQE-collapsed empty delta
    val obs = org.apache.spark.sql.Observation()
    delta.observe(obs, count(lit(1)).as("n"))
      .write.mode("append").option("header", "true")
      .option("emptyValue", "").option("nullValue", "").csv(path)
    val expected = obs.get.get("n").fold(0L)(_.asInstanceOf[Long])
    val after = spark.read.option("header", "true").csv(path).count()
    if (after != before + expected)
      throw new IllegalStateException(
        s"conservation check failed: $before + $expected != $after")
    after
  }
}
