package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics block (SURVEY.md §2.9 adjacency): iterative computations
  * over an edge table derived from the relational schema — the Pregel shape
  * (per-iteration keyed join + aggregate) expressed as static DataFrame
  * plans, complementing the connected-components operators in [[Llm]]
  * (`qDedupGroups` / `qEntityGroups`).
  */
object Graph {

  /** §2.9 PageRank (r8) — 5 power-iteration rounds, damping 0.85, over the
    * bipartite supplier↔part graph induced by lineitem (both directions, so
    * every node has out-degree ≥ 1 and the walk has no dangling mass).
    *
    * Cross-engine parity: ranks live as BIGINT nano-units end to end.
    * Init = 1e9 div N; each round's contribution is ((r·17) div 20) div
    * outdeg (0.85 = 17/20 exactly) and the teleport term is 15e7 div N —
    * pure integer arithmetic, so the per-node sum is order-independent and
    * the result is bit-identical to the oracle's unrolled CTEs under any
    * partitioning (the same reasoning as the integer-micro k-means
    * centroids in [[graft.etl.AnnIndex]]).
    *
    * Scale shape: each round is ONE equi-join of the rank frame against the
    * edge table on src (AQE broadcasts the rank side while it fits — it is
    * node-count-sized, not edge-count-sized) followed by one hash
    * aggregation on dst: the Pregel round shape, O(edges) shuffled per
    * round with map-side partial sums. `outdeg` rides ON the pinned edge
    * frame (a static per-src property, joined once before the loop), so
    * the per-round contribution `r·17 div 20 div outdeg` evaluates inside
    * the same join — the earlier shape re-attached outdeg to the NEXT
    * round's rank frame with a second keyed join per round, doubling the
    * per-iteration join count for a value the edges already determine.
    * Every node here has in-degree ≥ 1 (edges are symmetrized), so the
    * rank frame after each round still covers every node — same fixpoint,
    * bit-identical integer ranks. The edge frame is PINNED once before the
    * loop (reliable checkpoint when a checkpoint dir is configured,
    * executor-local otherwise — the [[Llm.dedupGroups]] policy): every
    * round re-reads it, and without the pin a lost executor late in round
    * 5 recomputes the `distinct` from scratch while lineage depth grows
    * with the iteration count. 5 static rounds keep the rank lineage
    * itself shallow; a production run at higher iteration counts would pin
    * the rank frame every ~10 rounds like the CC operators do. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val e0 = li.select(concat(lit("S"), col("l_suppkey")).as("src"),
                       concat(lit("P"), col("l_partkey")).as("dst")).distinct()
    // Symmetrize via ONE explode over the distinct frame instead of
    // union-of-two-scans of it (r18 optimization): the union form planned
    // the distinct aggregation subtree twice per consumer, and the edge
    // frame previously went through THREE eager pins (edges, od, edges⋈od)
    // plus a separate count job before the loop — four construction-time
    // jobs at any SF. Folding outdeg on with a window over the symmetric
    // frame (count per src — identical to the old groupBy count, since the
    // symmetric edge set is duplicate-free) collapses all of it into ONE
    // pinned frame: one distinct exchange, one window exchange, one
    // checkpoint job. outdeg values, edges, and the integer rank
    // arithmetic are unchanged — bit-identical ranks (oracle-checked).
    val sym = e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // STATIONARY EDGES (r19, closing the r15/r18 residual): a plain pin's
    // LogicalRDD reports UnknownPartitioning under AQE, so once the rank
    // side outgrew broadcast each round's SMJ re-shuffled this frame (the
    // `InMemoryTableScan` alternative — repartition + persist — carried
    // partitioning but benched 29 s vs 12 s at 10× sf0.1: cache-entry
    // sharing broke under the loop's re-aliasing). Now the frame is
    // hash-repartitioned on `src` BEFORE the outdeg window (same key, so
    // the window adds a sort but no second exchange) and the pinned RDD's
    // real partitioning is DECLARED back on it
    // ([[graft.queries.Exprs.pinPrePartitioned]] /
    // [[org.apache.spark.sql.GraftSqlBridge.withHashPartitioning]]):
    // construction pays the same one exchange the window cost anyway, and
    // the rounds shuffle only the node-sized rank frame at any scale. At
    // deployment scale a 100 TB edge set would live as a bucketed-on-src
    // table ([[graft.etl.BucketedTable]]) — this is the in-query
    // equivalent. 5-round Pregel shape unchanged; integer ranks unchanged.
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edgesW = Exprs.pinPrePartitioned(
      sym.repartition(nPart, col("src")).withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy("src"))), "src", nPart)
    // n_nodes is ONE bounded scalar: compute it driver-side over the
    // pinned frame (one cheap distinct over cached partitions) instead of
    // re-planning a broadcast 1-row aggregate in every round's teleport
    // term — that shape cost one SinglePartition exchange + one job per
    // round (6 of each at any SF). Integer semantics unchanged: the same
    // `div` arithmetic, now folded as a literal. NOTE (registry contract,
    // r15 ADVICE): this count makes query CONSTRUCTION run Spark jobs (as
    // the pin above already does) — plan-shape tooling that merely builds
    // this query triggers execution.
    val nodes = edgesW.select("src").distinct()
    val n = nodes.count()
    // empty edge set: the previous all-SQL teleport term divided by zero to
    // an empty result; the driver-side literal fold must not turn that into
    // a driver ArithmeticException (r15 ADVICE)
    if (n == 0)
      return nodes.select(col("src").as("node"), lit(0L).as("rank_nano")).limit(20)
    var ranks = nodes.select(col("src").as("node"), lit(1000000000L / n).as("r"))
    for (_ <- 1 to 5) {
      val contrib = ranks.join(edgesW, col("node") === col("src"))
        .select(col("dst"), expr("r * 17 div 20 div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = contrib
        .select(col("dst").as("node"), (lit(150000000L / n) + col("s")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_nano"))
      .orderBy(col("rank_nano").desc, col("node"))
      .limit(20)
  }

  /** §2.9 Triangle counting (r8) over the MinHash near-dup candidate graph
    * ([[Llm.minhashPairs]] — the same edge set the CC dedup operators
    * consume): per-document triangle participation, the cluster-cohesion
    * profile of the near-dup graph (a duplicate cluster whose members all
    * pair with each other is a confident cluster; a long chain with no
    * triangles is likely LSH band noise stitching unrelated docs).
    *
    * Scale shape — degree-ordered orientation (the node-iterator++ bound):
    * each undirected edge is directed toward its higher-(degree, id)
    * endpoint, wedges form only at each edge pair's lowest corner, and a
    * wedge closes via one keyed equi-join against the canonical (a<b) edge
    * set. Total wedge count is bounded by O(m^1.5) REGARDLESS of skew —
    * under id-ordering a single high-degree hub (one viral boilerplate doc
    * pasted everywhere) mints deg² wedges, while degree-ordering caps every
    * node's fan-out at √m. Every step is a keyed join or hash agg; the
    * all-pairs closure never materializes. Each triangle is counted exactly
    * once (its minimum-(deg, id) corner owns it), then exploded to its 3
    * corners for the per-node profile — integer counts end to end, so the
    * result is bit-identical cross-engine and under any partitioning. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOver(Llm.minhashPairsUnsorted(Tables.documents(spark, dir)))

  /** The reusable degree-ordered triangle enumeration behind [[qTriangles]]
    * — takes any canonical (doc_a < doc_b) distinct edge frame, returns
    * (doc_id, n_tri). Split out so specs can plant adversarial graphs
    * (a star hub that would mint deg² wedges under id-ordering). */
  private[graft] def trianglesOver(pairs0: DataFrame): DataFrame = {
    // The canonical edge frame feeds FOUR consumers (both degree unions,
    // the orientation join, the wedge-closure join) and `oriented` feeds
    // its own self-join twice; exchange reuse does not fire across the
    // pruned copies (plan-probed: the upstream MinHash pair generation —
    // the expensive part — recomputed ~4×). Both frames are two-long-
    // column edge lists: pin once, derive everything.
    val pairs = Exprs.pinShared(pairs0)
    val deg = pairs.select(col("doc_a").as("node"))
      .union(pairs.select(col("doc_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val aFirst = // orient toward the higher-(deg, id) endpoint
      col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("doc_a") < col("doc_b"))
    val oriented = Exprs.pinShared(pairs
      .join(deg.select(col("node").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("deg").as("deg_b")), "doc_b")
      .select(when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
              when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst")))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("s"), col("o1.dst").as("x"), col("o2.dst").as("y"))
    val tri = wedges // close against the canonical edge set: x < y by id
      .join(pairs, col("x") === col("doc_a") && col("y") === col("doc_b"))
      .select("s", "x", "y")
    tri.select(explode(array(col("s"), col("x"), col("y"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("doc_id"))
  }
}
