package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main, the test suites'
  * shared session and the scale harness start from [[builder]], so the
  * settings below cannot drift apart between entry points; a call site adds
  * only the settings that are its own (Verify's parquet timestamp type, the
  * test session's fixed width and warehouse dir). */
object GraftSession {
  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A builder carrying the shared settings: `local[cpus]` with as many
    * shuffle partitions, UTC session time, no UI, TIMESTAMP(NANOS) parquet
    * read as raw long (`Tables.events` dispatches on it), reclaimed
    * reliable-checkpoint files (the pins under a checkpoint dir, see
    * [[graft.queries.Exprs.pinShared]]) and the native function surface. */
  def builder(cpus: Int = envCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")

  /** `b.getOrCreate()` with the driver log level set. */
  def start(b: SparkSession.Builder = builder(),
            logLevel: String = "ERROR"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
