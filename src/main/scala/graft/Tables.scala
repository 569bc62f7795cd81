package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md, FIXTURES.md §A).
  *
  * Parquet carries its own schema, but resolving it costs a one-stage Spark
  * job plus driver-side footer work on every `spark.read.parquet`. A base
  * table stored as one regular file is therefore inferred once and read
  * afterwards with that schema: the memo is keyed on the path, the file's
  * size+mtime [[GraftFs.fingerprint]] and the session confs that change
  * parquet inference, so a file rewritten in place or a flipped conf infers
  * afresh. A directory-form table (or any path that is not one regular
  * file) infers on every load, as Spark does. Explicit StructTypes are
  * reserved for the text-format ingest paths in [[graft.etl]] where they are
  * mandatory (TPC-DI sources are header-less delimited / fixed-width text).
  *
  * At cluster scale these reads are partition-parallel columnar scans; filters and
  * projections applied downstream push into the scan (verified via
  * `explain`: `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change the schema parquet inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[String]), StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val fs = GraftFs.default
    if (!fs.isFile(path)) return spark.read.parquet(path)
    val key = (path, fs.fingerprint(path), inferenceConfs.map(spark.conf.get))
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        // concurrent first loads may both infer; they store the same schema
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")

  /** events.parquet stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects outright. Read it as a raw long (requires the session conf
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which [[GraftSession]]
    * sets for every session — NOT here: loaders stay pure) and
    * convert to a microsecond TimestampType with exact integer division —
    * double division would lose precision above 2^53 ns.
    *
    * Cross-engine note (SURVEY.md §5.3): `ts div 1000` floors ns→µs; DuckDB
    * reads the same column natively as TIMESTAMP_NS, and its CAST(ts AS
    * TIMESTAMP) also floors to µs — oracles that output or compare `ts`
    * rely on that equivalence (the driver data is µs-aligned, verified). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // TIMESTAMP_NTZ, matching how Spark 4 reads the other tables' naive
    // timestamps (inferTimestampNTZ) and how DuckDB sees them — keeping every
    // timestamp in the engine timezone-free (SURVEY.md §5.3).
    //
    // Generation-robust: early testdata drops stored ts as TIMESTAMP(NANOS)
    // (surfacing as a raw long under nanosAsLong=true — floor-divide ns→µs);
    // the round-9 regeneration stores TIMESTAMP(MICROS), which Spark reads
    // natively. Dispatch on the loaded type so both keep working.
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
