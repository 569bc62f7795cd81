package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Exprs

/** [[GraftSqlBridge.withHashPartitioning]] declares a partitioning Spark
  * cannot check, so its contract is pinned here: a frame pinned after
  * `repartition(n, key)` and re-declared joins to exactly the rows of the
  * undeclared plan, with one exchange fewer; and the key must name ONE
  * column under the session's resolver. */
class GraftSqlBridgeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def shuffles(df: DataFrame): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  test("withHashPartitioning: same rows as the undeclared plan, one exchange fewer") {
    val n = 4
    val edges = spark.range(1000)
      .select((col("id") % 100).as("src"), (col("id") % 7).as("dst"))
    val declared = Exprs.pinPrePartitioned(edges.repartition(n, col("src")), "src", n)
    val plain = edges.repartition(n, col("src")).localCheckpoint(true)
    val frontier = spark.range(5000)
      .select((col("id") % 500).as("src"), (col("id") % 13).as("label"))
      .localCheckpoint(true)
    def probe(e: DataFrame) = e.join(frontier, "src")
      .groupBy("dst").agg(min("label").as("m"), count(lit(1)).as("c"))
    // sort-merge join on both sides, so the declared side's exchange is the
    // one that can go
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val got = probe(declared)
      val ref = probe(plain)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(got) === rows(ref))
      assert(rows(got) === rows(probe(edges)))
      assert(shuffles(got) === shuffles(ref) - 1,
        s"declared ${shuffles(got)} vs undeclared ${shuffles(ref)} exchanges")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("withHashPartitioning: the key resolves like any column name, and only uniquely") {
    val pinned = spark.range(10).select(col("id").as("src"), col("id").as("dst"))
      .repartition(2, col("src")).localCheckpoint(true)
    // case-insensitive session (the default): "SRC" names `src`
    val declared = GraftSqlBridge.withHashPartitioning(pinned, "SRC", 2)
    assert(declared.collect().length === 10)
    val twin = spark.range(10).select(col("id").as("src"), col("id").as("SRC"))
      .localCheckpoint(true)
    val err = intercept[IllegalArgumentException] {
      GraftSqlBridge.withHashPartitioning(twin, "src", 2)
    }
    assert(err.getMessage.contains("ambiguous"), err.getMessage)
    intercept[IllegalArgumentException] {
      GraftSqlBridge.withHashPartitioning(pinned, "nope", 2)
    }
  }
}
