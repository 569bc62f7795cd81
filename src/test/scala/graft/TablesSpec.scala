package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.load]]'s schema memo is an equivalence: a memoized load reads
  * the same schema and rows as a fresh `spark.read.parquet`, starts no
  * Spark job once warm, and infers afresh whenever the file is rewritten,
  * an inference conf flips, or the table is a directory. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.sfDir

  /** `body`'s result and the Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    assert(GraftSqlBridge.drainListenerBus(sc, 60000L), "listener bus did not drain")
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      assert(GraftSqlBridge.drainListenerBus(sc, 60000L), "listener bus did not drain")
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Writes `df` as ONE parquet file at `dst` (replacing it): the
    * single-file shape of the testdata tables. */
  private def writeSingleFile(df: DataFrame, dst: String): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage").resolve("out").toString
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every base table: memoized load = spark.read.parquet (schema, rows)") {
    for (name <- Tables.names) {
      Tables.load(spark, sfDir, name)
      val memo = Tables.load(spark, sfDir, name)
      val fresh = spark.read.parquet(s"$sfDir/$name.parquet")
      // StructType equality covers names, types, nullability and metadata
      assert(memo.schema === fresh.schema, s"$name: schema")
      assert(memo.schema.json === fresh.schema.json, s"$name: schema json")
      assert(sameRows(memo, fresh), s"$name: rows")
    }
  }

  test("a repeat load starts no Spark job; the first load of a file infers") {
    val dir = Files.createTempDirectory("graft_tables_jobs").toString
    Files.copy(Paths.get(s"$sfDir/nation.parquet"), Paths.get(s"$dir/nation.parquet"))
    val (_, cold) = jobsDuring(Tables.load(spark, dir, "nation").schema)
    assert(cold >= 1, s"first load should run the inference job, ran $cold")
    val (_, warm) = jobsDuring(Tables.load(spark, dir, "nation").schema)
    assert(warm === 0, s"repeat load ran $warm Spark jobs")
  }

  test("a single-file table overwritten in place loads its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_overwrite").toString
    val path = s"$dir/t.parquet"
    val a = Seq((1, "a"), (2, "b")).toDF("a", "b")
    writeSingleFile(a, path)
    assert(Tables.load(spark, dir, "t").schema === spark.read.parquet(path).schema)
    assert(sameRows(Tables.load(spark, dir, "t"), a))

    val b = Seq((10L, 1.5, "x", true), (20L, 2.5, "y", false)).toDF("x", "y", "z", "w")
    writeSingleFile(b, path)
    val after = Tables.load(spark, dir, "t")
    assert(after.schema === spark.read.parquet(path).schema)
    assert(after.columns.toSeq === Seq("x", "y", "z", "w"))
    assert(sameRows(after, b))
  }

  test("flipping an inference conf loads the freshly inferred schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    def tsType: org.apache.spark.sql.types.DataType =
      Tables.load(spark, sfDir, "events").schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(tsType === TimestampNTZType)
      spark.conf.set(key, "false")
      assert(tsType === TimestampType)
      assert(Tables.load(spark, sfDir, "events").schema ===
        spark.read.parquet(s"$sfDir/events.parquet").schema)
      spark.conf.set(key, "true")
      assert(tsType === TimestampNTZType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a directory-form table infers on every load") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_dirform").toString
    val path = s"$dir/t.parquet"
    Seq((1, "a")).toDF("a", "b").write.parquet(path)
    Tables.load(spark, dir, "t")
    val (s1, jobs) = jobsDuring(Tables.load(spark, dir, "t").schema)
    assert(jobs >= 1, "a directory-form load should infer its schema")
    assert(s1 === spark.read.parquet(path).schema)

    // rewritten in place, as test fixtures do: the next load sees it
    Seq((7L, 0.5)).toDF("k", "v").write.mode("overwrite").parquet(path)
    val s2: StructType = Tables.load(spark, dir, "t").schema
    assert(s2.fieldNames.toSeq === Seq("k", "v"))
    assert(s2 === spark.read.parquet(path).schema)
  }
}
