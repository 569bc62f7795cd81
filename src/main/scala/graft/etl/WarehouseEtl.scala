package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.{GraftFs, Tables}
import graft.queries.Exprs.pinShared

/** The composed TPC-DI load as ONE declared query (`q_warehouse_etl`,
  * SURVEY.md §2.10 [SPEC: historical load]) — the reference's signature
  * workload shape, run end to end through the engine's own source, dim,
  * and fact machinery rather than stage by stage:
  *
  *   extract   the parquet tables are serialized into the THREE TPC-DI
  *             source formats (write-once per testdata fingerprint):
  *             pipe-CSV customers, a FINWIRE-style multi-record
  *             fixed-width file (CMP=supplier / SEC=part layouts plus
  *             unknown-tag records), and a CustomerMgmt-style XML action
  *             log of per-customer effective dates
  *   ingest    [[DelimitedSource.readWithRejects]] /
  *             [[FixedWidthSource.readTypedWithRejects]] /
  *             [[XmlSource.read]] — every reject channel stays accounted
  *   dims      clean CSV rows → DimCustomer; clean CMP rows →
  *             DimSupplier; XML actions → the SCD2 version table
  *             ([[Scd2.fromChangeLog]])
  *   fact      lineitem resolves its customer's version current at ship
  *             time (the `q_join_range_scd2` equi+interval shape) and
  *             enriches against both dims
  *   report    one DImessages-style funnel table: per-source line/reject
  *             counts, dim sizes, and input → resolved → loaded fact
  *             counts — the audit artifact every load run logs
  *
  * The extracts carry DETERMINISTIC corruption so the reject channels are
  * oracle-able: customers whose key ≡ 0 (mod 97) get an unparseable
  * nation field (CSV cast-failure reject), suppliers whose key ≡ 0
  * (mod 89) get a truncated FINWIRE record (short-line reject), and the
  * region names land under an undeclared `UNK` tag (unknown-tag channel).
  * Because the text round-trip is lossless for the remaining rows (keys,
  * names, dates — no floating-point field crosses the text boundary), the
  * DuckDB oracle restates the whole funnel directly over the original
  * parquet with the same modular rules.
  *
  * Scale shape: every stage is the declared operator it composes — the
  * sources are splittable line scans with single-pass reject capture, the
  * SCD2 build is one keyed window, the fact resolve keeps its equi
  * component (sort-merge, interval as residual; ≤1 version matches per
  * row, so the left join cannot fan out), the dim enrichments broadcast,
  * and the report reduces each branch to one aggregation row crossed into
  * a 13-row stack — no driver-side data loops anywhere. */
object WarehouseEtl {

  // ---- extract (write-once per testdata fingerprint) ----------------------

  /** Bump when the extract FORMAT changes — stale extracts from an older
    * serialization would otherwise survive the fingerprint check. */
  private val FormatVersion = 2

  /** Extract dir keyed by the source tables' size+mtime fingerprint: the
    * testdata can be regenerated in place, and a stale extract would
    * silently desynchronize the funnel from the oracle's parquet. */
  private def extractRoot(dir: String): Path = {
    val fp = s"v${FormatVersion}_" + Seq("customer", "supplier", "part", "orders", "region")
      .map(t => GraftFs.default.fingerprint(s"$dir/$t.parquet")).mkString("_")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    Paths.get(sys.props("java.io.tmpdir"), "graft-wh",
      s"${Paths.get(dir).getFileName}-$h")
  }

  private def pad(c: Column, n: Int): Column = rpad(c.cast("string"), n, " ")

  /** Serialize the source extracts if this fingerprint hasn't been written
    * yet (marker-file + atomic-rename protocol, same as the ANN index
    * builds — concurrent callers race benignly). */
  private def ensureExtracts(spark: SparkSession, dir: String): Path = synchronized {
    val target = extractRoot(dir)
    if (Files.exists(target.resolve("_READY"))) return target
    val tmp = target.getParent.resolve(target.getFileName.toString + ".tmp-" +
      java.util.UUID.randomUUID())
    Files.createDirectories(tmp)

    // pipe-CSV customers; mod-97 keys get an unparseable nation field
    Tables.customer(spark, dir)
      .select(concat_ws("|", col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 97 === 0, concat(lit("X"), col("c_nationkey")))
          .otherwise(col("c_nationkey").cast("string")),
        col("c_mktsegment")).as("value"))
      .write.text(tmp.resolve("customer_txt").toString)

    // FINWIRE multi-record fixed-width: CMP=supplier (mod-89 keys truncate
    // short of the layout extent), SEC=part, UNK=region (undeclared tag)
    val cmp = Tables.supplier(spark, dir).select(
      when(col("s_suppkey") % 89 === 0,
        concat(lit("CMP"), pad(col("s_suppkey"), 12)))
        .otherwise(concat(lit("CMP"), pad(col("s_suppkey"), 12),
          pad(col("s_name"), 25), pad(col("s_nationkey"), 4))).as("value"))
    val sec = Tables.part(spark, dir).select(
      concat(lit("SEC"), pad(col("p_partkey"), 12), pad(col("p_brand"), 10),
        pad(col("p_size"), 4)).as("value"))
    val unk = Tables.region(spark, dir).select(
      concat(lit("UNK"), pad(col("r_name"), 12)).as("value"))
    cmp.unionByName(sec).unionByName(unk)
      .write.text(tmp.resolve("finwire_txt").toString)

    // XML action log: one Action per distinct (customer, order date) — the
    // SCD2 change stream. Effective times travel as epoch-microsecond
    // attributes: integers round-trip text exactly; no timestamp-format
    // ambiguity crosses the boundary.
    {
      import spark.implicits._
      val lines = Tables.orders(spark, dir)
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("eff_us"))
        .distinct()
        .select(concat(lit("<Action type=\"NEW\"><Order c_id=\""),
          col("o_custkey"), lit("\" eff_us=\""), col("eff_us"),
          lit("\"/></Action>")).as("value"))
        .as[String]
      // each part-file must be a well-formed document (the XML source
      // parses one document per file and iterates rowTag matches inside
      // it), so every partition brackets its lines with a root element
      lines.mapPartitions(it => Iterator("<Actions>") ++ it ++ Iterator("</Actions>"))
        .write.text(tmp.resolve("actions_xml").toString)
    }

    Files.write(tmp.resolve("_READY"), Array.emptyByteArray)
    try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // lost the race to a concurrent extract of the same fingerprint
        deleteTree(tmp)
    }
    target
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  // ---- the declared query -------------------------------------------------

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_mktsegment", StringType)))

  private val cmpLayout = Seq(
    FixedWidthSource.FieldSpec("s_suppkey", 4, 12, LongType),
    FixedWidthSource.FieldSpec("s_name", 16, 25),
    FixedWidthSource.FieldSpec("s_nationkey", 41, 4, IntegerType))
  private val secLayout = Seq(
    FixedWidthSource.FieldSpec("p_partkey", 4, 12, LongType),
    FixedWidthSource.FieldSpec("p_brand", 16, 10),
    FixedWidthSource.FieldSpec("p_size", 26, 4, IntegerType))

  private val actionSchema = StructType(Seq(
    StructField("_type", StringType),
    StructField("Order", StructType(Seq(
      StructField("_c_id", LongType), StructField("_eff_us", LongType))))))

  /** §2.10 `q_warehouse_etl` — see the object scaladoc. Output: 13 stage
    * rows `(stage_idx, stage, n_rows)`. */
  def qWarehouseEtl(spark: SparkSession, dir: String): DataFrame = {
    val ext = ensureExtracts(spark, dir)

    // Pinned for two reasons: (a) the parse feeds two consumers (the audit
    // agg and the DimCustomer build) and exchange reuse never fires across
    // pruned consumers; (b) Spark refuses queries whose referenced columns
    // are ONLY the corrupt-record channel (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    // — materializing the parse first is also exactly what a production
    // load does (one pass that writes clean + reject tables, then split).
    val csv = pinShared(DelimitedSource.readWithRejects(spark,
      ext.resolve("customer_txt").toString, customerSchema))
    val csvAgg = csv.agg(
      count(lit(1)).as("cust_lines"),
      coalesce(sum(when(col("_reject").isNotNull, 1L)), lit(0L)).as("cust_rej"))

    val fin = FixedWidthSource.readTypedWithRejects(spark,
      ext.resolve("finwire_txt").toString, typeStart = 1, typeLen = 3,
      Map("CMP" -> cmpLayout, "SEC" -> secLayout))
    // CMP is the one multi-consumer branch (audit agg + DimSupplier) — the
    // same two-consumer pinning rationale as `csv` above; SEC/_unknown are
    // each consumed once and keep their single scan.
    val finCmp = pinShared(fin("CMP"))
    val cmpAgg = finCmp.agg(
      count(lit(1)).as("cmp_lines"),
      coalesce(sum(when(col("_reject").isNotNull, 1L)), lit(0L)).as("cmp_rej"))
    val secAgg = fin("SEC").agg(
      count(lit(1)).as("sec_lines"),
      coalesce(sum(when(col("_reject").isNotNull, 1L)), lit(0L)).as("sec_rej"))
    val unkAgg = fin("_unknown").agg(count(lit(1)).as("unk_lines"))

    // XML actions → SCD2 versions. Pinned: the version table feeds both
    // its own audit aggregation and the fact resolve, and exchange reuse
    // does not fire across pruned consumers — unpinned, the XML parse and
    // the version window run once per consumer.
    val actions = XmlSource.read(spark, ext.resolve("actions_xml").toString,
        rowTag = "Action", schema = Some(actionSchema))
      .select(col("Order._c_id").as("c_id"), col("Order._eff_us").as("eff_us"))
    val versions = pinShared(
      Scd2.fromChangeLog(actions, Seq("c_id"), "eff_us"))
    val xmlAgg = versions.agg(
      count(lit(1)).as("xml_actions"),
      coalesce(sum(when(col("is_current"), 1L)), lit(0L)).as("open_versions"))

    val dimSupplier = finCmp.filter(col("_reject").isNull)
      .select(col("s_suppkey"), lit(true).as("s_ok"))
    val dimCustomer = csv.filter(col("_reject").isNull)
      .select(col("c_custkey"), lit(true).as("c_ok"))

    // fact build: lineitem + its order's customer, point-in-time resolve
    // against the version current at ship time (equi on the customer key,
    // interval residual — ≤1 match per row since versions tile time), then
    // broadcast enrichment against both file-loaded dims
    val fact = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
    val resolved = fact.join(versions,
        fact("o_custkey") === versions("c_id") &&
          col("ship_us") >= col("eff_us") &&
          (col("end").isNull || col("ship_us") < col("end")),
        "left")
      .join(broadcast(dimSupplier), fact("l_suppkey") === col("s_suppkey"), "left")
      .join(broadcast(dimCustomer), fact("o_custkey") === col("c_custkey"), "left")
    val factAgg = resolved.agg(
      count(lit(1)).as("fact_input"),
      coalesce(sum(when(col("eff_us").isNotNull, 1L)), lit(0L)).as("fact_resolved"),
      coalesce(sum(when(col("eff_us").isNotNull &&
        coalesce(col("s_ok"), lit(false)) &&
        coalesce(col("c_ok"), lit(false)), 1L)), lit(0L)).as("fact_loaded"))

    csvAgg.crossJoin(cmpAgg).crossJoin(secAgg).crossJoin(unkAgg)
      .crossJoin(xmlAgg).crossJoin(factAgg)
      .select(expr(
        """stack(13,
          |  0, 'src_customer_lines', cust_lines,
          |  1, 'customer_rejects', cust_rej,
          |  2, 'dim_customer', cust_lines - cust_rej,
          |  3, 'src_finwire_lines', cmp_lines + sec_lines + unk_lines,
          |  4, 'finwire_cmp_rejects', cmp_rej,
          |  5, 'dim_supplier', cmp_lines - cmp_rej,
          |  6, 'dim_part', sec_lines - sec_rej,
          |  7, 'finwire_unknown', unk_lines,
          |  8, 'xml_actions', xml_actions,
          |  9, 'dim_customer_versions_open', open_versions,
          |  10, 'fact_input', fact_input,
          |  11, 'fact_resolved', fact_resolved,
          |  12, 'fact_loaded', fact_loaded)
          |  AS (stage_idx, stage, n_rows)""".stripMargin))
      .withColumn("stage_idx", col("stage_idx").cast("int"))
      .withColumn("n_rows", col("n_rows").cast("bigint"))
      .orderBy("stage_idx")
  }
}
