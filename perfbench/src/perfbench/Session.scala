package perfbench

import org.apache.spark.sql.SparkSession

/** The one way the benchmark builds its session: `local[cores]` with the
  * engine's extensions, every scratch path inside the work directory. */
object Session {

  def build(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up ends with one trivial job: the first job pays scheduler and
    * codegen start-up that every later job reuses. */
  def trivialJob(spark: SparkSession): Long = spark.range(0, 1000, 1, 1).count()
}

/** A set-up-only process: build the session, run the trivial job, report,
  * stop. The launcher times it from spawn to the READY line. */
object Setup {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val spark = Session.build(cores, args(1))
    Session.trivialJob(spark)
    println("PERFBENCH_READY")
    System.out.flush()
    spark.stop()
  }
}
