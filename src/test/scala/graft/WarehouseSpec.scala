package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100-TB warehouse layout claim, demonstrated (SURVEY.md §4): facts are
  * written partitioned by a date-derived column; a join against a filtered
  * dimension must then prune fact partitions at RUNTIME via dynamic
  * partition pruning (Spark inserts a subquery filter on the partition
  * column from the dim side), so a month-scoped analysis reads months, not
  * the whole fact table. */
class WarehouseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("date-partitioned fact + filtered dim join plans dynamic partition pruning") {
    val whDir = Files.createTempDirectory("graft_wh").toString

    // fact: orders partitioned by order month (the date-partitioned layout)
    Tables.orders(spark, TestSpark.sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("o_month")
      .parquet(s"$whDir/orders_by_month")
    val fact = spark.read.parquet(s"$whDir/orders_by_month")

    // dim: month attributes; the filter selects a handful of months
    val dim = fact.select(col("o_month").as("m")).distinct()
      .withColumn("is_peak", col("m").endsWith("-12"))
    val joined = fact
      .join(dim.filter(col("is_peak")), fact("o_month") === dim("m"))
      .groupBy("o_month").agg(count(lit(1)).as("n"))

    val rows = joined.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0).endsWith("-12")),
      "only December partitions should survive")

    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$plan")

    // static pruning sanity too: a literal partition predicate reaches the
    // scan as a PartitionFilter, reading one directory not the table
    val one = fact.filter(col("o_month") === "1995-06")
    val scanPlan = one.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters"), s"no partition filters:\n$scanPlan")
    assert(one.count() > 0)
  }

  test("compaction collapses a fragmented dataset without changing its rows") {
    val dir = Files.createTempDirectory("graft_compact").resolve("frag").toString
    val orders = Tables.orders(spark, TestSpark.sfDir)
    orders.repartition(64).write.mode("overwrite").parquet(dir)
    def parquetFiles =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 64, "fixture should start fragmented")
    val before = spark.read.parquet(dir).orderBy("o_orderkey").collect()

    val written = graft.etl.Warehouse.compact(spark, dir, targetMB = 128)
    assert(written === 1 && parquetFiles === 1,
      s"small dataset should compact to one ~targetMB file, got $parquetFiles")
    val after = spark.read.parquet(dir).orderBy("o_orderkey").collect()
    assert(after.toSeq === before.toSeq, "compaction must be a pure rewrite")
  }

  test("manifest publish: atomic pointer commit, time travel, vacuum") {
    import graft.etl.Warehouse
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val v1 = Warehouse.publish(dir,
      d => Seq((1, "a"), (2, "b")).toDF("k", "v").write.mode("overwrite").parquet(d))
    // a reader that resolved the pointer BEFORE the republish keeps its
    // snapshot: the v1 dir is immutable, only the pointer moves
    val pinnedV1 = Warehouse.readCurrent(spark, dir)
    assert(Warehouse.currentVersion(dir) === v1)
    val v2 = Warehouse.publish(dir,
      d => Seq((1, "a2"), (3, "c")).toDF("k", "v").write.mode("overwrite").parquet(d))
    assert(Warehouse.currentVersion(dir) === v2)
    assert(Warehouse.readCurrent(spark, dir).collect().map(_.getString(1)).sorted
      === Array("a2", "c"), "current read must see the new snapshot")
    assert(pinnedV1.collect().map(_.getString(1)).sorted === Array("a", "b"),
      "pre-republish reader must still see its pinned snapshot (no mix, no window)")
    assert(Warehouse.readCurrent(spark, dir, Some(v1))
      .collect().map(_.getString(1)).sorted === Array("a", "b"), "time travel to v1")
    // the pointer file is never absent mid-commit: ATOMIC_MOVE replaces
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_CURRENT")))
    assert(Warehouse.vacuum(dir) === 1, "vacuum drops exactly the superseded snapshot")
    assert(Warehouse.readCurrent(spark, dir).count() === 2,
      "current snapshot survives vacuum")
  }

  test("bucketed tables co-locate the join: sort-merge with zero shuffle exchanges") {
    // The 100-TB co-located-join layout: both sides bucketed (and sorted) on
    // the join key at write time, so a key-equi join needs NO shuffle at
    // read time — the per-bucket files already agree on the partitioning.
    Tables.orders(spark, TestSpark.sfDir)
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    Tables.customer(spark, TestSpark.sfDir)
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must pick a partitioned strategy
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name")
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"scan did not report bucketed read:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("single-file sorted buckets: sort-merge join with zero exchanges AND zero sorts") {
    // The full co-located layout: pre-shuffling by the bucket hash before a
    // bucketBy+sortBy write leaves each bucket exactly ONE file (task i
    // holds precisely bucket i's rows — repartition and bucketing share the
    // Murmur3 hash), which is the condition under which the scan reports
    // its sortBy order. A key-equi SMJ then needs neither a shuffle nor a
    // sort on either side — the whole join cost is the merge. At 100 TB
    // that turns the nightly fact/dim join into a streaming zip of
    // pre-sorted bucket files.
    Tables.orders(spark, TestSpark.sfDir)
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt1")
    Tables.customer(spark, TestSpark.sfDir)
      .repartition(8, col("c_custkey"))
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt1")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_bkt1")
        .join(spark.table("customer_bkt1"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name")
      assert(j.count() > 0)
      val exec = j.queryExecution.executedPlan
      val plan = exec.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"single-file-bucket join must not shuffle:\n$plan")
      val sorts = exec.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty,
        s"single-file sorted buckets must satisfy the SMJ ordering without Sort nodes:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dynamic partition overwrite replaces only the loaded partitions") {
    // The incremental-batch load pattern [SPEC: incremental updates]: each
    // batch overwrites exactly the date partitions it carries; history
    // partitions are untouched — no read-modify-write of the whole table.
    val dir = Files.createTempDirectory("graft_dpo").resolve("fact").toString
    val orders = Tables.orders(spark, TestSpark.sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    orders.write.mode("overwrite").partitionBy("o_month").parquet(dir)
    val monthsBefore = spark.read.parquet(dir)
      .groupBy("o_month").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // batch: a corrected reload of one month with half the rows
      val target = monthsBefore.keys.min
      val batch = orders.filter(col("o_month") === target)
        .filter(col("o_orderkey") % 2 === 0)
      val expected = batch.count()
      batch.write.mode("overwrite").partitionBy("o_month").parquet(dir)

      val after = spark.read.parquet(dir)
        .groupBy("o_month").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after(target) === expected, "target partition not replaced")
      assert(after.removed(target) === monthsBefore.removed(target),
        "untouched partitions must survive a dynamic overwrite")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("selective join inserts a runtime bloom filter on the fact scan side") {
    // Runtime filtering, the shuffle-side complement to DPP: a selective dim
    // join plants a bloom filter built from the dim keys in front of the
    // fact scan, so most fact rows drop before the join shuffle. Thresholds
    // are lowered so the optimizer fires at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, TestSpark.sfDir)
      val sel = Tables.orders(spark, TestSpark.sfDir)
        .filter(col("o_totalprice") > 450000.0)
        .select("o_orderkey")
      val j = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom-filter probe on the fact-scan side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom-filter build from the dim keys:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("PIT join stays sort-merge when the dimension cannot broadcast") {
    // The 100-TB path of q_join_range_scd2 / Scd2.resolve: when the dim side
    // exceeds the broadcast threshold, the equi component (key) must carry
    // the join as SMJ with the interval test as residual — never a
    // BroadcastNestedLoopJoin over raw intervals. Disabling broadcast
    // entirely simulates the too-big-to-broadcast dimension.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.queries.Windows.qJoinRangeScd2(spark, TestSpark.sfDir)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"PIT join lost its SMJ:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"PIT join fell back to a nested loop:\n$plan")

      val orders = Tables.orders(spark, TestSpark.sfDir)
      val dim = graft.etl.Scd2.fromChangeLog(
        orders.select(col("o_custkey").as("k"), col("o_orderdate").as("eff")).distinct(),
        Seq("k"), "eff")
      val fact = orders.select(col("o_custkey").as("fk"), col("o_orderkey"),
        col("o_orderdate").as("t"))
      val resolved = graft.etl.Scd2.resolve(fact, dim, "fk", "k", "t")
      // collect, not count: a count() spawns its own query execution and
      // would leave this DataFrame's AQE plan un-finalized
      assert(resolved.collect().nonEmpty)
      val rplan = resolved.queryExecution.executedPlan.toString
      assert(rplan.contains("SortMergeJoin") && !rplan.contains("BroadcastNestedLoopJoin"),
        s"Scd2.resolve fell back to a nested loop:\n$rplan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime (isSkewJoin)") {
    // The automatic complement to q_skew_salt's manual salting: one hot key
    // dominates the left shuffle; AQE's skew-join rule must split that
    // partition into parallel sub-joins. Thresholds lowered to fire at test
    // scale; broadcast disabled so the join shuffles at all.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(0, 200000)
        .select(when(col("id") < 180000, 0L).otherwise(col("id")).as("k"),
                col("id").as("v"))
      val right = spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect, not count: count() would execute a different QueryExecution
      assert(joined.collect().length === 180000) // all matches land on hot key 0
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkewJoin=true") || plan.contains("skewed"),
        s"AQE did not mark the join as skew-handled:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("z-order layout clusters BOTH dimensions: per-partition span sums beat the single-key sort") {
    // The pruning proxy: a file's min/max stats can skip it for a range
    // predicate iff the file's span in that column is narrow. Sum of
    // per-partition spans = how much of the key space each layout exposes
    // to skipping. A z-ranged layout must bound BOTH dims; the single-key
    // layout leaves the other dim at (nearly) full span in every partition.
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val keyed = graft.queries.Relational.qZorderLayout(spark, TestSpark.sfDir)
      .select("o_orderkey", "xg", "yg", "zval")
    val nPart = 8
    def spanSums(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val spans = df
        .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy("pid")
        .agg((max(col("xg")) - min(col("xg"))).as("sx"),
             (max(col("yg")) - min(col("yg"))).as("sy"))
        .agg(sum(col("sx")).as("tx"), sum(col("sy")).as("ty"))
        .collect().head
      (spans.getLong(0), spans.getLong(1))
    }
    val (zx, zy) = spanSums(keyed.repartitionByRange(nPart, col("zval")))
    val (_, xy) = spanSums(keyed.repartitionByRange(nPart, col("xg")))
    // single-key layout: every partition spans ~the full month-grid range
    assert(zy < xy / 2,
      s"z-layout month-span sum $zy must beat the custkey-sort layout's $xy by 2x+")
    // and the z-layout must also keep the customer dim bounded: strictly
    // better than the worst case of nPart partitions at full span
    val fullX = keyed.agg((max(col("xg")) - min(col("xg"))).cast("long"))
      .collect().head.getLong(0)
    assert(zx < nPart * fullX,
      s"z-layout custkey spans $zx must stay below $nPart x full range $fullX")
  }

  test("z-ordered files SKIP at scan time: the 2-D box probe reads a fraction of the row groups") {
    // The end-to-end proof of what the span-sum test measures by proxy: the
    // z-sorted table lands as MULTIPLE parquet files, each carrying narrow
    // xg/yg min/max stats; the pushed 2-D range predicate then prunes whole
    // row groups at scan time, so the SCAN's own output-row metric — rows
    // actually materialized off disk — is a fraction of the table. The same
    // probe over a hash-shuffled layout (full-span stats in every file)
    // materializes everything and filters after the fact.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val keyed = graft.queries.Relational.qZorderLayout(spark, TestSpark.sfDir)
      .select("o_orderkey", "xg", "yg", "zval")
    val base = java.nio.file.Files.createTempDirectory("graft_zskip")
    val zDir = base.resolve("zorder").toString
    val rDir = base.resolve("shuffled").toString
    keyed.repartitionByRange(16, col("zval")).sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(zDir)
    keyed.repartition(16).write.mode("overwrite").parquet(rDir)
    val total = keyed.count()
    def probe(dir: String): (Long, Long, String) = {
      val n = spark.read.parquet(dir)
        .filter(col("xg").between(64, 191) && col("yg").between(32, 95))
        .count()
      // count() runs its own QueryExecution; run a fresh plan for metrics
      val df2 = spark.read.parquet(dir)
        .filter(col("xg").between(64, 191) && col("yg").between(32, 95))
      df2.collect()
      val plan = df2.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      (n, scan.metrics("numOutputRows").value,
        scan.metadata.getOrElse("PushedFilters", ""))
    }
    val (zN, zScanned, zPushed) = probe(zDir)
    val (rN, rScanned, _) = probe(rDir)
    assert(zN === rN, "both layouts must answer the probe identically")
    assert(zPushed.contains("GreaterThanOrEqual(xg") &&
           zPushed.contains("LessThanOrEqual(yg"),
      s"range predicates must reach the parquet scan, got: $zPushed")
    assert(rScanned > total / 2,
      s"shuffled layout must materialize most of the table ($rScanned of $total) — " +
        "otherwise the z-layout comparison below proves nothing")
    assert(zScanned < total / 2,
      s"z-ordered layout must SKIP most row groups: scanned $zScanned of $total")
    assert(zScanned < rScanned,
      s"z-ordered scan ($zScanned rows) must read less than shuffled ($rScanned)")
  }

  test("morton32 expression equals the 32-term power-of-two composition bit-for-bit") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val d = Tables.orders(spark, TestSpark.sfDir)
      .select(pmod(col("o_custkey"), lit(65536L)).cast("int").as("xk"),
              pmod(col("o_orderkey"), lit(65536L)).cast("int").as("yk"))
    val terms = (0 until 16).flatMap { i =>
      Seq(shiftleft(shiftright(col("xk"), i).bitwiseAND(1).cast("long"), 2 * i),
          shiftleft(shiftright(col("yk"), i).bitwiseAND(1).cast("long"), 2 * i + 1))
    }.reduce(_ + _)
    val rows = d.select(call_function("morton32", col("xk"), col("yk")).as("m"),
                        terms.as("c")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }
}
