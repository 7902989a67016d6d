package graft.operators

import graft.{GraftQuery, SessionMemo, Tables}
import graft.functions.Parity._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 analytic operators: runtime-filter joins, incremental view
  * maintenance, time-series resampling, fuzzy entity resolution,
  * skyline, lateness audit, and fixed-point graph ranking.
  *
  * Every numeric output goes through the Parity decimal/integer
  * discipline (functions/Parity.scala) so results hash-match the
  * DuckDB oracle bit-for-bit regardless of execution order.
  */
object Analytics {

  /** BLOOM-FILTER SEMI-JOIN REDUCTION: build a bloom filter over the
    * filtered dim side's join keys (one partial-aggregated pass,
    * ~100 KB regardless of data volume), ship it to every fact-side
    * task, and drop non-matching fact rows BEFORE the join shuffle.
    * This is Spark's own runtime-filter machinery
    * (InjectRuntimeFilter) made explicit with the native
    * BloomFilterAggregate / BloomFilterMightContain expressions —
    * at 100 TB the fact-side shuffle volume drops by the filter's
    * selectivity while the exact join keeps the result precise
    * (false positives die in the join, so correctness is
    * layout-independent).
    *
    * (reference analogue: DataTransferProtocol moves only the blocks
    * a read actually needs; here the shuffle moves only the rows the
    * join can actually match.) */
  val qBloomJoin: GraftQuery = GraftQuery.sql(
    "q_bloom_join",
    s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       |  COUNT(*) AS n_lines, ${sumMSql("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY 1 ORDER BY yr""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Shims
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    // right-size the filter from the dim-side count (a cheap
    // pushed-down scan): ~10 bits/key ≈ 1% false positives. The
    // filter stays kilobytes at test scale and linear in the DIM side
    // — never the fact side — at 100 TB
    val nKeys = math.max(urgent.count(), 1000L)
    val bloomAgg = Shims.column(
      new BloomFilterAggregate(
        Shims.expression(col("o_orderkey")),
        Literal(nKeys), Literal(math.max(65536L, 10L * nKeys))).toAggregateExpression())
    val bloomBytes = urgent.select(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    val mightContain = Shims.column(
      BloomFilterMightContain(Literal(bloomBytes),
        Shims.expression(col("l_orderkey"))))
    Tables.lineitem(s, d)
      .filter(mightContain) // pre-shuffle row pruning
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_lines"), sumM(col("l_extendedprice")).as("revenue"))
      .orderBy(col("yr"))
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE: the base partition of
    * the view is aggregated once and reused; a delta batch is
    * aggregated alone and MERGED by re-aggregating the partials
    * (sum-of-sums, sum-of-counts). At 100 TB the base partials are a
    * stored table and each refresh touches only the delta — the
    * oracle proves partial-merge ≡ full recompute, which is exactly
    * the algebraic property (commutative monoid) that makes the
    * incremental plan safe.
    * (reference analogue: FSImage + FSEditLog — a checkpoint plus a
    * replayed delta equals the full state, FSImage.java:1.) */
  val qMvIncremental: GraftQuery = GraftQuery.sql(
    "q_mv_incremental",
    """WITH base AS (
      |  SELECT o_custkey, COUNT(*) AS pn,
      |         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS pt
      |  FROM orders WHERE o_orderdate < DATE '1999-01-01' GROUP BY o_custkey),
      |delta AS (
      |  SELECT o_custkey, COUNT(*) AS pn,
      |         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS pt
      |  FROM orders WHERE o_orderdate >= DATE '1999-01-01' GROUP BY o_custkey),
      |merged AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
      |SELECT o_custkey, CAST(SUM(pn) AS BIGINT) AS n_orders,
      |       CAST(SUM(pt) AS DOUBLE) AS total_spent
      |FROM merged GROUP BY o_custkey HAVING SUM(pn) >= 12
      |ORDER BY o_custkey""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("pn"), sum(m(col("o_totalprice"))).as("pt"))
    val base = partial(o.filter(col("o_orderdate") < lit("1999-01-01").cast("date")))
    val delta = partial(o.filter(col("o_orderdate") >= lit("1999-01-01").cast("date")))
    base.union(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("pn")).as("n_orders"), sum(col("pt")).cast("double").as("total_spent"))
      .filter(col("n_orders") >= 12)
      .orderBy(col("o_custkey"))
  }

  /** TIME-SERIES RESAMPLE: project the irregular event stream onto a
    * regular hourly spine per series (event_type), zero-filling the
    * count and carrying the last observed hourly total forward across
    * gaps. The spine is generated (sequence + explode — no data
    * shuffle), the join is an equi-join on (series, bucket), and the
    * forward fill is one window per series — each step linear and
    * partition-parallel at 100 TB. */
  val tsResample: GraftQuery = GraftQuery.sql(
    "ts_resample",
    s"""WITH bounds AS (
       |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
       |  FROM events),
       |spine AS (
       |  SELECT t.event_type, g.bucket
       |  FROM (SELECT DISTINCT event_type FROM events) t
       |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
       |              FROM bounds) g),
       |agg AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |         COUNT(*) AS n, SUM(${mSql("value")}) AS total
       |  FROM events GROUP BY 1, 2)
       |SELECT s.event_type, s.bucket, COALESCE(a.n, 0) AS n_events,
       |  CAST(last_value(a.total IGNORE NULLS) OVER (
       |    PARTITION BY s.event_type ORDER BY s.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_total
       |FROM spine s LEFT JOIN agg a
       |  ON s.event_type = a.event_type AND s.bucket = a.bucket
       |ORDER BY s.event_type, s.bucket""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val agg = ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(m(col("value"))).as("total"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("bucket"))
    val fillW = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("total"), ignoreNulls = true).over(fillW).cast("double").as("filled_total"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** FUZZY ENTITY RESOLUTION (blocked edit-distance join): candidate
    * pairs are generated by an equi-join on a cheap blocking key (the
    * entity's category token) over the DISTINCT name set, then
    * verified with Levenshtein. Distinct-first collapses the row
    * explosion (N rows → |names| entities); blocking turns the O(n²)
    * all-pairs compare into per-block work — the standard scalable
    * shape for entity resolution, same blocking discipline as the
    * MinHash/SimHash candidate generators (operators/Dedup.scala). */
  val dEditDistance: GraftQuery = GraftQuery.sql(
    "d_edit_distance",
    """WITH names AS (
      |  SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS block
      |  FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
      |WHERE levenshtein(a.name, b.name) <= 3
      |ORDER BY name_a, name_b""".stripMargin
  ) { (s, d) =>
    // coalesce to "": on a single-token name, split(...).getItem(1)
    // is NULL (the row would silently drop out of the equi-join)
    // while the oracle's split_part yields '' — such rows must block
    // together in both engines
    val names = Tables.part(s, d)
      .select(col("p_name").as("name"),
        coalesce(split(col("p_name"), " ").getItem(1), lit("")).as("block"))
      .distinct()
    val a = names.select(col("name").as("name_a"), col("block"))
    val b = names.select(col("name").as("name_b"), col("block").as("block_b"))
    a.join(b, col("block") === col("block_b") && col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** SKYLINE / PARETO FRONTIER (minimize price, maximize size), in
    * two phases: each partition prunes its local non-frontier points
    * with a running-max sweep, then the (small) union of local
    * frontiers is swept once globally. The local phase removes the
    * all-pairs NOT-EXISTS the oracle runs — the global sort touches
    * only points that survived local pruning, so the final
    * single-partition sweep is over a provably small set at any
    * scale. */
  val qParetoFrontier: GraftQuery = GraftQuery.sql(
    "q_pareto_frontier",
    """WITH pts AS (
      |  SELECT DISTINCT p_retailprice AS price, CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT price, size FROM pts a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts b
      |  WHERE b.price <= a.price AND b.size >= a.size
      |    AND (b.price < a.price OR b.size > a.size))
      |ORDER BY price""".stripMargin
  ) { (s, d) =>
    val pts = Tables.part(s, d)
      .select(col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      .distinct()
    // phase 1: local sweep — a point is on the frontier only if no
    // point earlier in (price asc, size desc) order has size >= it
    def sweep(df: DataFrame, part: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(part: _*)
        .orderBy(col("price").asc, col("size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("pm", max(col("size")).over(w))
        .filter(col("pm").isNull || col("pm") < col("size"))
        .drop("pm")
    }
    val local = sweep(pts.withColumn("pid", spark_partition_id()), Seq(col("pid"))).drop("pid")
    // phase 2 runs over the LOCALLY-PRUNED residual (per-partition
    // frontiers only, frontier-sized not corpus-sized) — the constant
    // partition key declares that single-partition residual sweep
    sweep(local, Seq(graft.functions.Ranks.onePart(col("price"))))
      .orderBy(col("price"))
  }

  /** WATERMARK LATENESS AUDIT: per source partition (event_type), the
    * watermark before each event is the max event-time seen so far in
    * ARRIVAL order; an event more than the allowed delay behind it
    * would be dropped by a streaming watermark. The audit quantifies
    * exactly what a given `withWatermark` delay costs — the number
    * every pipeline needs before choosing its delay. The synthetic
    * events table is already event-time-sorted, so arrival is modeled
    * as a deterministic transport jitter (0–14 min keyed on
    * event_id); integer epoch-second math end to end (exact
    * cross-engine parity, no float lateness). */
  val stLatenessAudit: GraftQuery = GraftQuery.sql(
    "st_lateness_audit",
    """WITH seq AS (
      |  SELECT event_type, ts_sec,
      |    MAX(ts_sec) OVER (
      |      PARTITION BY event_type ORDER BY ts_sec + (event_id % 15) * 60, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
      |  FROM (SELECT event_type, event_id,
      |          CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec FROM events)),
      |lat AS (
      |  SELECT event_type,
      |    CASE WHEN wm IS NULL THEN 0
      |         ELSE GREATEST(0, wm - 600 - ts_sec) END AS late_sec
      |  FROM seq)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_sec > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(MAX(late_sec) AS BIGINT) AS max_late_sec,
      |  CAST(SUM(late_sec) AS BIGINT) AS total_late_sec
      |FROM lat GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    // TWO-PHASE PREFIX SCAN: a running max partitioned only by
    // event_type caps parallelism at the type cardinality (5) — each
    // source would be one sorted stream no matter the table size. So
    // the scan is split the way distributed prefix sums are: (1) a
    // LOCAL running max within (event_type, coarse arrival bucket) —
    // parallelism = types x buckets, growing with the data's time
    // span; (2) a per-bucket carry table (one row per bucket,
    // metadata-scale) whose own running max is the watermark carried
    // in from all earlier buckets; (3) broadcast the carries back and
    // take the greater of local and carried watermark. Rows in
    // earlier buckets have strictly smaller arr_sec, so the combined
    // value equals the single sequential window exactly — same
    // oracle, >5-way parallel plan (spec-asserted).
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("ts").cast("long").as("ts_sec"))
      .withColumn("arr_sec", col("ts_sec") + (col("event_id") % 15) * 60)
      .withColumn("bkt", floor(col("arr_sec") / lit(3600L)).cast("long"))
    val localW = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("arr_sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryW = Window.partitionBy(col("event_type"))
      .orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = ev.groupBy(col("event_type"), col("bkt"))
      .agg(max(col("ts_sec")).as("bmax"))
      .withColumn("prefix_wm", max(col("bmax")).over(carryW))
      .select(col("event_type"), col("bkt"), col("prefix_wm"))
    ev.withColumn("local_wm", max(col("ts_sec")).over(localW))
      .join(broadcast(carries), Seq("event_type", "bkt"))
      // greatest() skips nulls: null only when BOTH are null, i.e.
      // the first-arriving row of its type — same as the sequential
      // window's empty frame
      .withColumn("wm", greatest(col("local_wm"), col("prefix_wm")))
      .withColumn("late_sec",
        when(col("wm").isNull, lit(0L))
          .otherwise(greatest(lit(0L), col("wm") - 600 - col("ts_sec"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_sec") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_sec")).as("max_late_sec"),
        sum(col("late_sec")).as("total_late_sec"))
      .orderBy(col("event_type"))
  }

  /** FIXED-ITERATION PAGERANK over the customer↔supplier trade graph
    * (edges = distinct (customer, supplier) pairs through orders ⋈
    * lineitem, symmetrized so every node has out-degree ≥ 1). Ranks
    * are kept in integer micro-units with floor division, so every
    * iteration is exact and order-independent in both engines — the
    * parity discipline applied to an iterative algorithm (the oracle
    * unrolls the same three iterations as CTEs). Each iteration is
    * one equi-join + one aggregation: the scalable BSP shape, same
    * skeleton as the dup-clustering loop (api/Graft.scala). */
  val gPagerank: GraftQuery = GraftQuery.sql(
    "g_pagerank",
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs),
      |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr, outdeg FROM deg),
      |r1 AS (SELECT deg.node, CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS pr, deg.outdeg
      |       FROM deg LEFT JOIN (SELECT e.dst, r0.pr // r0.outdeg AS contrib
      |                           FROM e JOIN r0 ON e.src = r0.node) c ON c.dst = deg.node
      |       GROUP BY deg.node, deg.outdeg),
      |r2 AS (SELECT deg.node, CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS pr, deg.outdeg
      |       FROM deg LEFT JOIN (SELECT e.dst, r1.pr // r1.outdeg AS contrib
      |                           FROM e JOIN r1 ON e.src = r1.node) c ON c.dst = deg.node
      |       GROUP BY deg.node, deg.outdeg),
      |r3 AS (SELECT deg.node, CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS pr, deg.outdeg
      |       FROM deg LEFT JOIN (SELECT e.dst, r2.pr // r2.outdeg AS contrib
      |                           FROM e JOIN r2 ON e.src = r2.node) c ON c.dst = deg.node
      |       GROUP BY deg.node, deg.outdeg),
      |top AS (SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 25)
      |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
      |            ELSE 's' || (node // 2) END AS node, pr
      |FROM top""".stripMargin
  ) { (s, d) =>
    // integer node encoding (customer = 2k, supplier = 2k+1): long
    // join keys hash and shuffle at a fraction of the string cost;
    // the display id is reconstructed only on the final 25 rows
    val cs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // the fact-join edge derivation would otherwise re-run inside
    // every iteration's contribs AND deg branches (2 consumers × 3
    // iterations) — pay it once as an EAGER localCheckpoint (the
    // bfsHops pattern, api/Graft.scala:1007): one job materializes
    // the edge list into executor blocks AND truncates the fact-join
    // out of every later plan; the ContextCleaner drops the blocks
    // when the frame becomes unreachable. The edge list is tiny
    // relative to the facts (distinct pairs), so keep it in FEW
    // partitions: each iteration then moves a handful of shuffle
    // blocks instead of partitions² tiny ones (per-block open/mmap
    // overhead dominated the iteration cost).
    //
    // r19 (VERDICT r18 next-round #4): the symmetrized distinct edge
    // list is a GRAPH ADJACENCY INDEX — a pure function of
    // (orders, lineitem) content, the same class as the knn-graph /
    // IVF-cell / band-index layouts — so it provisions once per
    // content signature and every later session reads the layout
    // instead of re-running the fact-fact join + distinct (the op's
    // dominant exchange: lineitem-scale shuffle for an edge-scale
    // output). The iteration path (the part the query is ABOUT) is
    // unchanged and still computes from the edges every run.
    val edges = {
      val edgeBuild =
        cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
      val (path, _) = Lake.layout(s, "pagerank_edges", d, Seq("orders", "lineitem"),
          "|pr_edges_v1") { path =>
        edgeBuild.write.mode("overwrite").parquet(path)
      }
      Lake.readParquet(s, path).repartition(4, col("src")).localCheckpoint()
    }
    // node-proportional iterate frames get SIZE-SCALED partitioning
    // (one partition per ~10M rows, floor 1 — so locally this still
    // coalesces to a single partition) and broadcast only while the
    // iterate is single-partition small; sized from the NODE count
    // (deg frame), not the edge count, so a dense graph keeps its
    // broadcastable rank table; see Graft.graph.iterateParts
    val deg0 =
      edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .select(col("src").as("node"), col("outdeg"))
        .localCheckpoint() // cheap job: edges is already a leaf
    val parts = graft.api.Graft.graph.iterateParts(deg0.count())
    def bc(df: DataFrame): DataFrame = if (parts == 1) broadcast(df) else df
    val deg = deg0.coalesce(parts) // narrow — no extra job
    var ranks = deg.select(col("node"), lit(1000000L).as("pr"), col("outdeg"))
    for (_ <- 1 to 3) {
      val contribs = edges
        .join(bc(ranks), edges("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("c"))
      // EAGER localCheckpoint per iterate (one row per node, tiny):
      // ONE job materializes the whole iteration (contribs join +
      // agg + rank update) and makes the iterate a leaf — without
      // the boundary the final plan inlines the unrolled tree into
      // one enormous codegen unit that HotSpot can't JIT and
      // recomputes iteration i inside every iteration > i; the r9
      // persist+count() variant paid the same materialization as
      // TWO sequential driver jobs per iterate plus cache-write
      // bookkeeping (VERDICT r9 #2 — ~10 fixed-latency jobs).
      ranks = deg
        .join(bc(contribs), deg("node") === contribs("dst"), "left")
        .select(deg("node"),
          (lit(150000L) + expr("(85 * coalesce(c, 0L)) div 100")).as("pr"),
          col("outdeg"))
        .coalesce(parts)
        .localCheckpoint()
    }
    ranks
      .select(col("node"), col("pr"))
      .orderBy(col("pr").desc, col("node")).limit(25)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2).cast("long")))
          .otherwise(concat(lit("s"), (col("node") / 2).cast("long"))).as("node"),
        col("pr"))
  }

  /** DISTRIBUTION WINDOW FUNCTIONS: percent_rank + cume_dist of
    * account balances within one market segment — the remaining
    * window-function family (rank positions as exact integer ratios,
    * so the doubles are bit-identical cross-engine: same numerator /
    * same denominator). One window per partition key, no global
    * sort. */
  val qWindowPercentile: GraftQuery = GraftQuery.sql(
    "q_window_percentile",
    """WITH ranked AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS pr,
      |    cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS cd
      |  FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, c_nationkey, c_acctbal, pr, cd
      |FROM ranked WHERE pr >= 0.9 ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"))
    Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .filter(col("pr") >= 0.9)
      .orderBy(col("c_custkey"))
  }

  /** TIME-SERIES ANOMALY DETECTION — z-score outliers per event_type:
    * the monitoring primitive over the event stream (flag readings
    * more than 3 sigma from their series mean). Mean and variance
    * come from EXACT decimal sums (functions/Parity.scala: value and
    * value^2 are 2- and 4-decimal-exact, sums associative and
    * order-independent; the scaled integers stay < 2^53 so the final
    * decimal->double conversions are exact on both engines), so the
    * per-row z-scores are bit-deterministic at any parallelism. Plan:
    * one aggregate to a 5-row stats table, broadcast back over one
    * scan — two passes over the data, no corpus shuffle; at 100 TB
    * the stats aggregate is map-side-combined to per-type partials.
    * The streaming twin is an st_tumbling_window-style windowed agg
    * feeding the same z-rule. */
  val tsAnomaly: GraftQuery = GraftQuery.sql(
    "ts_anomaly",
    s"""WITH st AS (SELECT event_type, COUNT(*) AS n,
       |    ${sumMSql("value")} AS s1,
       |    CAST(SUM(${mSql("value")} * ${mSql("value")}) AS DOUBLE) AS s2
       |  FROM events GROUP BY event_type),
       |mv AS (SELECT event_type, s1 / n AS mu,
       |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd FROM st)
       |SELECT e.event_id, e.event_type, e.value,
       |  (e.value - mv.mu) / mv.sd AS zscore
       |FROM events e JOIN mv ON e.event_type = mv.event_type
       |WHERE mv.sd > 0 AND abs((e.value - mv.mu) / mv.sd) > 3
       |ORDER BY e.event_type, e.event_id""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val st = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sumM(col("value")).as("s1"),
      sum(m(col("value")) * m(col("value"))).cast("double").as("s2"))
    // sd > 0 guarded IDENTICALLY here and in the oracle: Spark's
    // non-ANSI x/0 is NULL (row silently dropped) while DuckDB IEEE
    // division yields inf/NaN (row flagged) — a constant series would
    // otherwise diverge cross-engine.
    val mv = st.select(col("event_type").as("m_type"),
      (col("s1") / col("n")).as("mu"),
      sqrt(greatest(col("s2") / col("n")
        - (col("s1") / col("n")) * (col("s1") / col("n")), lit(0))).as("sd"))
      .filter(col("sd") > 0)
    ev.join(broadcast(mv), col("event_type") === col("m_type"))
      .withColumn("zscore", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("zscore")) > 3)
      .select(col("event_id"), col("event_type"), col("value"), col("zscore"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** TRAILING-BASELINE ANOMALY SCAN — the production shape of
    * real-time monitoring: each day's events are scored against the
    * PREVIOUS observed day's statistics for their series (the
    * baseline is always a CLOSED window, so a live deployment
    * broadcasts yesterday's 5-row stats table and scores today's
    * stream with zero coordination — unlike ts_anomaly's global
    * stats, which need the full corpus before any row can be
    * flagged). Daily stats come from the same exact decimal sums
    * (bit-deterministic mu/sd), the baseline shift is one lag() over
    * the tiny per-(series, day) stats timeline, and scoring is a
    * broadcast join back over one scan. First observed day per
    * series has no baseline and is excluded from scoring (n_scored
    * counts only baselined rows). */
  val tsBaselineAnomaly: GraftQuery = GraftQuery.sql(
    "ts_baseline_anomaly",
    s"""WITH st AS (SELECT event_type, date_trunc('day', ts) AS day,
       |    COUNT(*) AS n, ${sumMSql("value")} AS s1,
       |    CAST(SUM(${mSql("value")} * ${mSql("value")}) AS DOUBLE) AS s2
       |  FROM events GROUP BY 1, 2),
       |mv AS (SELECT event_type, day, n, s1 / n AS mu,
       |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd FROM st),
       |pv AS (SELECT event_type, day,
       |    lag(mu) OVER w AS baseline_mu, lag(sd) OVER w AS baseline_sd
       |  FROM mv WINDOW w AS (PARTITION BY event_type ORDER BY day))
       |SELECT e.event_type, pv.day, COUNT(*) AS n_scored,
       |  CAST(SUM(CASE WHEN abs((e.value - pv.baseline_mu) / pv.baseline_sd) > 2
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
       |  pv.baseline_mu
       |FROM events e JOIN pv ON e.event_type = pv.event_type
       |  AND date_trunc('day', e.ts) = pv.day
       |WHERE pv.baseline_mu IS NOT NULL AND pv.baseline_sd > 0
       |GROUP BY e.event_type, pv.day, pv.baseline_mu
       |ORDER BY e.event_type, pv.day""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val st = ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sumM(col("value")).as("s1"),
        sum(m(col("value")) * m(col("value"))).cast("double").as("s2"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pv = st.select(col("event_type"), col("day"),
        (col("s1") / col("n")).as("mu"),
        sqrt(greatest(col("s2") / col("n")
          - (col("s1") / col("n")) * (col("s1") / col("n")), lit(0))).as("sd"))
      .select(col("event_type").as("p_type"), col("day"),
        lag(col("mu"), 1).over(wLag).as("baseline_mu"),
        lag(col("sd"), 1).over(wLag).as("baseline_sd"))
      // baseline_sd > 0 guard mirrors the oracle exactly (see tsAnomaly):
      // a one-event or constant baseline day must not divide by zero.
      .filter(col("baseline_mu").isNotNull && col("baseline_sd") > 0)
    ev.join(broadcast(pv), col("event_type") === col("p_type")
        && date_trunc("day", col("ts")) === col("day"))
      .groupBy(col("event_type"), col("day"), col("baseline_mu"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(abs((col("value") - col("baseline_mu")) / col("baseline_sd")) > 2, 1L)
          .otherwise(0L)).as("n_anomalous"))
      .select(col("event_type"), col("day"), col("n_scored"),
        col("n_anomalous"), col("baseline_mu"))
      .orderBy(col("event_type"), col("day"))
  }

  /** WEEKLY SEASONALITY PROFILE — the dow×hour load map every
    * capacity plan and seasonal anomaly baseline starts from (the
    * seasonal component ts_anomaly's global stats and
    * ts_baseline_anomaly's trailing day both deliberately ignore):
    * per (event_type, day-of-week, hour) event counts, with a HOT
    * flag for buckets exceeding 2× the event type's mean bucket load
    * — the comparison is integer cross-multiplied (n·168 > 2·total),
    * no division, so it is bit-exact on both engines. Scale shape:
    * the corpus is scanned once into a groupBy that map-side
    * combines to ≤ types×168 rows; the per-type total is a window
    * over that tiny frame — the corpus never shuffles. Day-of-week
    * alignment: Spark dayofweek() is 1-based Sunday, DuckDB 0-based
    * Sunday; the Spark side subtracts 1. */
  val tsSeasonality: GraftQuery = GraftQuery.sql(
    "ts_seasonality",
    """WITH b AS (SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hr,
      |             COUNT(*) AS n_events FROM events GROUP BY 1, 2, 3),
      |w AS (SELECT *, SUM(n_events) OVER (PARTITION BY event_type) AS n_tot FROM b)
      |SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  CAST(CASE WHEN n_events * 168 > 2 * n_tot THEN 1 ELSE 0 END AS BIGINT) AS hot
      |FROM w ORDER BY event_type, dow, hr""".stripMargin
  ) { (s, d) =>
    // composed from the streaming twin's own building blocks (the
    // groupBy is batch/streaming-agnostic), so batch/stream parity is
    // structural, not just spec-enforced
    graft.streaming.StreamingOps.seasonalityHot(
        graft.streaming.StreamingOps.seasonalityStream(Tables.events(s, d)))
      .orderBy(col("event_type"), col("dow"), col("hr"))
  }

  /** CUSUM CHANGEPOINT AUDIT — cumulative-drift detection over the
    * daily revenue series per event_type (the distribution-shift
    * monitor a pipeline runs on its telemetry: ts_anomaly flags
    * pointwise outliers, this flags SUSTAINED level shifts a z-score
    * misses because no single day is extreme). Classic CUSUM against
    * the series' own mean, kept integer-exact: with N days, total T
    * cents, and day-t cumulative sum C_t, the drift is
    * N·C_t − t·T (= N·T·(C_t/T − t/N), the scaled deviation from the
    * uniform-accrual diagonal); sign, per-mille magnitude, and the 5%
    * flag are integer comparisons with the division cross-multiplied
    * away where it decides the flag (|drift|·20 > N·T) — no floats
    * anywhere, so parity holds at any parallelism. Plan shape: the
    * corpus pays ONE groupBy to the (type, day) aggregate; every
    * window after that runs over the day-count-sized frame (types ×
    * days — thousands of rows at a century of days), the adjudicated
    * bounded class. */
  val tsChangepoint: GraftQuery = GraftQuery.sql(
    "ts_changepoint",
    s"""WITH dd AS (SELECT event_type, date_trunc('day', ts) AS day,
       |    CAST(SUM(CAST(${mSql("value")} * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |c AS (SELECT event_type, day, cents,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
       |    SUM(cents) OVER (PARTITION BY event_type ORDER BY day) AS cum,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd,
       |    SUM(cents) OVER (PARTITION BY event_type) AS tot
       |  FROM dd)
       |SELECT event_type, day, CAST(t AS BIGINT) AS t, cents,
       |  CAST(cum AS BIGINT) AS cum,
       |  CAST(CASE WHEN nd * cum > t * tot THEN 1
       |            WHEN nd * cum < t * tot THEN -1 ELSE 0 END AS BIGINT) AS sign,
       |  CAST(CASE WHEN nd * tot > 0
       |       THEN ABS(nd * cum - t * tot) * 1000 // (nd * tot)
       |       ELSE 0 END AS BIGINT) AS dev_pm,
       |  CAST(CASE WHEN nd * tot > 0 AND ABS(nd * cum - t * tot) * 20 > nd * tot
       |       THEN 1 ELSE 0 END AS BIGINT) AS flag
       |FROM c ORDER BY event_type, day""".stripMargin
  ) { (s, d) =>
    // bounded windows: both run over the per-(type, day) AGGREGATE
    // (days × 5 types rows at any corpus size) — the adjudicated
    // bounded-global-sort class, never the event stream
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum((m(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("t", row_number().over(wCum).cast("long"))
      .withColumn("cum", sum(col("cents")).over(wCum))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("cents")).over(wAll))
      .withColumn("drift", col("nd") * col("cum") - col("t") * col("tot"))
      .select(col("event_type"), col("day"), col("t"), col("cents"), col("cum"),
        when(col("drift") > 0, 1L).when(col("drift") < 0, -1L).otherwise(0L)
          .as("sign"),
        // ADVICE r8: guard nd*tot ≤ 0 — a zero-total series divided
        // by zero (NULL in Spark div, an ERROR in DuckDB //) and a
        // negative total flips floor-division vs truncation parity;
        // both engines now short-circuit to 0 unless nd*tot > 0.
        when(col("nd") * col("tot") > 0,
          expr("abs(drift) * 1000 div (nd * tot)")).otherwise(0L).as("dev_pm"),
        when(col("nd") * col("tot") > 0 &&
          abs(col("drift")) * 20 > col("nd") * col("tot"), 1L).otherwise(0L)
          .as("flag"))
      .orderBy(col("event_type"), col("day"))
  }

  /** MARKET-BASKET PAIR SUPPORT — the co-occurrence census behind
    * frequent-itemset mining (Apriori's k=2 pass, recommendation
    * co-views, "parts ordered together"): for every unordered pair of
    * parts appearing in the same order, its support count, kept where
    * support ≥ 2, top 100 by support.
    *
    * The scalable shape is NOT a self-join of line items on order key
    * (that shuffles the fact table twice and re-partitions the
    * whole corpus on a key it only needs locally): ONE hash aggregate
    * groups the items of each order into an array, then pair
    * expansion is a ROW-LOCAL double lateral explode with a < guard —
    * per-order work is C(items,2), bounded by the basket size (≤7
    * items in this schema, ≤21 pairs), so total pair volume is
    * O(corpus · basket), never O(corpus²). The only corpus-wide
    * shuffles are the order-key aggregate and the (a,b) support
    * count — both map-side combinable. The final top-100 is a
    * TakeOrdered over the (already heavily aggregated) pair frame,
    * not a global sort of the corpus. Ties broken (support DESC,
    * part_a, part_b) identically on both engines. */
  /** Shared basket-pair support census (ONE definition for
    * q_itemset_pairs and q_itemset_lift — a threshold or expansion
    * edit cannot drift between the two boards): per-order item sets
    * by one hash aggregate, row-local explode×explode pair expansion
    * with the a<b guard, map-side-combined support count, support≥2
    * cut. Memoized (`SessionMemo`) per (session, dir) and lineitem
    * content generation: BOTH boards read the census, and
    * without the memo each computed the full basket expansion from
    * the fact table independently (guide §2.4: two operations keyed
    * the same way share one exchange; measured r18, the second
    * consumer rode the memo at ~0.2 s vs 1.85 s cold). Re-arms after
    * an external clearCache via the storageLevel==NONE re-persist.
    * SQL twin: `itemsetSupportCtes`. */
  private def itemsetSupport(s: SparkSession, d: String): DataFrame =
    SessionMemo(s, (d, "itemset_support"), Lake.tablesSig(s, d, Seq("lineitem"))) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
        .groupBy(col("okey"))
        .agg(collect_set(col("pkey")).as("parts"))
        .select(explode(col("parts")).as("part_a"), col("parts"))
        .select(col("part_a"), explode(col("parts")).as("part_b"))
        .filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
    }

  /** Oracle CTE fragment ending in sp(part_a, part_b, support) —
    * the exact SQL twin of `itemsetSupport` (leaves `op` in scope). */
  private val itemsetSupportCtes: String =
    """op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
      |            FROM lineitem),
      |pr AS (SELECT a.pkey AS part_a, b.pkey AS part_b
      |       FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey),
      |sp AS (SELECT part_a, part_b, COUNT(*) AS support
      |       FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  val qItemsetPairs: GraftQuery = GraftQuery.sql(
    "q_itemset_pairs",
    s"""WITH $itemsetSupportCtes
       |SELECT part_a, part_b, support FROM sp
       |ORDER BY support DESC, part_a, part_b LIMIT 100""".stripMargin
  ) { (s, d) =>
    itemsetSupport(s, d)
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** ASSOCIATION LIFT — the metric layer over q_itemset_pairs' raw
    * support census (support says a pair co-occurs; LIFT says whether
    * MORE than two independently-popular items would by chance —
    * lift ≈ 1000‰ is noise, ≫1000‰ is a real affinity; confidence is
    * the directional rule strength recommenders rank by): top-50
    * pairs by integer lift per-mille ⌊1000·support·N/(cnt_a·cnt_b)⌋
    * with both directional confidences, support ≥ 2.
    *
    * Shares the basket-pair support census with q_itemset_pairs via
    * `itemsetSupport` (one definition — a threshold edit cannot
    * drift between the two boards); per-order work C(basket,2),
    * never a corpus self-join. The item counts are one
    * map-side-combined aggregate joined onto the support-cut pair
    * frame (aggregated, item²-bounded at worst), the basket total is
    * the adjudicated 1-row scalar cross. Int64 bound:
    * 1000·support·N < 2⁶³ ⇔ support·N < 9.2×10¹⁵ — for a pair
    * whose support tracks the basket count that is ~10⁸ baskets,
    * and past it the engines fail DIFFERENTLY (DuckDB raises a
    * BIGINT-overflow error, Spark wraps silently): the widening to
    * decimal must be applied to BOTH sides together, and the
    * hash-gate enforces that. */
  val qItemsetLift: GraftQuery = GraftQuery.sql(
    "q_itemset_lift",
    s"""WITH $itemsetSupportCtes,
      |no AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM op),
      |ic AS (SELECT pkey, COUNT(*) AS cnt FROM op GROUP BY pkey)
      |SELECT part_a, part_b, support,
      |  CAST((1000 * support * n_orders) // (ca.cnt * cb.cnt) AS BIGINT) AS lift_pm,
      |  CAST((1000 * support) // ca.cnt AS BIGINT) AS conf_a2b_pm,
      |  CAST((1000 * support) // cb.cnt AS BIGINT) AS conf_b2a_pm
      |FROM sp JOIN ic ca ON sp.part_a = ca.pkey
      |        JOIN ic cb ON sp.part_b = cb.pkey CROSS JOIN no
      |ORDER BY lift_pm DESC, part_a, part_b LIMIT 50""".stripMargin
  ) { (s, d) =>
    // op NOT cached (r18, measured): its three consumers' jobs
    // overlap inside the one action, a pinned op serialized them —
    // and at 100 TB the distinct (order, part) frame is fact-sized,
    // exactly the frame NOT to persist. The census memo below is the
    // aggregated frame both boards share.
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val no = op.agg(countDistinct(col("okey")).as("n_orders"))
    val ic = op.groupBy(col("pkey")).agg(count(lit(1)).as("cnt"))
    val sp = itemsetSupport(s, d)
    sp.join(ic.select(col("pkey"), col("cnt").as("ca_cnt")), col("part_a") === col("pkey"))
      .drop("pkey")
      .join(ic.select(col("pkey"), col("cnt").as("cb_cnt")), col("part_b") === col("pkey"))
      .drop("pkey")
      .crossJoin(broadcast(no)) // 1-row scalar — the adjudicated tiny class
      .select(col("part_a"), col("part_b"), col("support"),
        expr("(1000 * support * n_orders) div (ca_cnt * cb_cnt)").as("lift_pm"),
        expr("(1000 * support) div ca_cnt").as("conf_a2b_pm"),
        expr("(1000 * support) div cb_cnt").as("conf_b2a_pm"))
      .orderBy(col("lift_pm").desc, col("part_a"), col("part_b"))
      .limit(50)
  }

  /** OUTAGE / SILENCE GAPS — per-stream dead-air detection (the ops
    * question behind every ingestion SLA: "when did this feed stop,
    * and for how long?"; ts_anomaly flags hours that LOOK wrong —
    * this flags the hours that never arrived, which a groupBy can't
    * see because absent rows produce no groups): per event type, the
    * maximal runs of consecutive ZERO-event hours against a dense
    * hour spine, each gap reported as (start, end, length), longest
    * first.
    *
    * The corpus contributes ONE map-side-combined (type, hour) count;
    * everything after runs on the types×hours spine, whose size is
    * calendar-bounded (8.8k rows/type/year — metadata-sized at any
    * corpus scale). The spine is generated (sequence over the global
    * hour range — one 2-row bound aggregate, broadcast), silent hours
    * survive an anti-join shape (left join + zero filter), and the
    * runs fold by the gaps-islands constant: hr − ROW_NUMBER within
    * type is constant exactly on consecutive silent hours. Bounds
    * from one global MIN/MAX so every type audits the same window —
    * a per-type range would hide a feed that died on day one. */
  val tsOutageGaps: GraftQuery = GraftQuery.sql(
    "ts_outage_gaps",
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr
      |  FROM events),
      |cnt AS (SELECT event_type, hr, COUNT(*) AS n FROM b GROUP BY event_type, hr),
      |bounds AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM b),
      |spine AS (
      |  SELECT t.event_type, g.hr
      |  FROM (SELECT DISTINCT event_type FROM b) t,
      |       (SELECT unnest(generate_series(mn, mx)) AS hr FROM bounds) g),
      |silent AS (
      |  SELECT s.event_type, s.hr,
      |    s.hr - ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY s.hr) AS isl
      |  FROM spine s LEFT JOIN cnt c
      |    ON c.event_type = s.event_type AND c.hr = s.hr
      |  WHERE c.n IS NULL)
      |SELECT event_type, MIN(hr) AS gap_start_hr, MAX(hr) AS gap_end_hr,
      |  COUNT(*) AS gap_hours
      |FROM silent GROUP BY event_type, isl
      |ORDER BY gap_hours DESC, event_type, gap_start_hr""".stripMargin
  ) { (s, d) =>
    val b = Tables.events(s, d)
      .select(col("event_type"), expr("cast(ts as long) div 3600").as("hr"))
    val cnt = b.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val bounds = b.agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
    val spine = b.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hr"))
    val wIsl = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    spine.join(cnt, Seq("event_type", "hr"), "left")
      .filter(col("n").isNull)
      .withColumn("isl", col("hr") - row_number().over(wIsl))
      .groupBy(col("event_type"), col("isl"))
      .agg(min(col("hr")).as("gap_start_hr"), max(col("hr")).as("gap_end_hr"),
        count(lit(1)).as("gap_hours"))
      .drop("isl")
      .orderBy(col("gap_hours").desc, col("event_type"), col("gap_start_hr"))
  }

  /** BENFORD FIRST-DIGIT AUDIT — the classic forensic data-quality
    * screen (naturally-grown multiplicative amounts follow
    * log-uniform leading digits; fabricated, capped, or
    * unit-converted data doesn't — auditors run exactly this table
    * before anything else): observed first-significant-digit
    * distribution of order totals vs the Benford expectation, with
    * the per-digit deviation. The Benford per-mille constants
    * (⌊1000·log₁₀(1+1/d)⌋) are hardcoded literals on BOTH engines —
    * the one place a transcendental is involved, it's folded into 9
    * published integers, keeping the no-libm parity discipline.
    *
    * First digit is pure integer arithmetic on exact cents (the
    * Parity decimal cast — a raw double×100 truncation-vs-rounding
    * cast diverges across engines): cents // 10^(digits-1), with the
    * power exact in int64 range. One map-side-combined 9-group
    * aggregate; the total is a window sum over the 9-row frame. */
  val qBenfordAudit: GraftQuery = GraftQuery.sql(
    "q_benford_audit",
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT cents // CAST(POWER(10, LENGTH(CAST(cents AS VARCHAR)) - 1)
      |               AS BIGINT) AS digit FROM c),
      |g AS (SELECT digit, COUNT(*) AS n FROM f GROUP BY digit),
      |t AS (SELECT digit, n, SUM(n) OVER () AS total FROM g),
      |e AS (SELECT digit, n, CAST((1000 * n) // total AS BIGINT) AS obs_pm,
      |        CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
      |          WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
      |          WHEN 8 THEN 51 ELSE 46 END AS BIGINT) AS benford_pm
      |      FROM t)
      |SELECT digit, n, obs_pm, benford_pm,
      |  ABS(obs_pm - benford_pm) AS dev_pm
      |FROM e ORDER BY digit""".stripMargin
  ) { (s, d) =>
    val g = Tables.orders(s, d)
      .select(expr("cast(cast(o_totalprice as decimal(15,2)) * 100 as bigint)")
        .as("cents"))
      .select(expr(
        "cents div cast(power(10, length(cast(cents as string)) - 1) as bigint)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // 9-row frame: the whole-span window is the adjudicated bounded
    // class (constant partition key declares it)
    g.withColumn("total", sum(col("n"))
      .over(Window.partitionBy(graft.functions.Ranks.onePart(col("digit")))))
      .withColumn("obs_pm", expr("(1000 * n) div total"))
      .withColumn("benford_pm", expr(
        """cast(case digit when 1 then 301 when 2 then 176 when 3 then 125
          | when 4 then 97 when 5 then 79 when 6 then 67 when 7 then 58
          | when 8 then 51 else 46 end as bigint)""".stripMargin))
      .select(col("digit"), col("n"), col("obs_pm"), col("benford_pm"),
        abs(col("obs_pm") - col("benford_pm")).as("dev_pm"))
      .orderBy(col("digit"))
  }

  /** K-ANONYMITY AUDIT — the re-identification screen privacy review
    * runs before any table leaves the fence (t_pii_scrub removes
    * direct identifiers; this measures QUASI-identifiers — a row is
    * re-identifiable when its QI combination is shared by fewer than
    * k people, famously 87% of the US by (ZIP, birthdate, sex)):
    * group-size histogram over the (nation, segment, balance-band)
    * QI tuple — for each group size k, how many groups and rows sit
    * there, flagged below the k=5 threshold — plus the census the
    * generalization decision reads (suppress, or widen the band?).
    *
    * One map-side-combined QI aggregate (the corpus's only shuffle),
    * then a size histogram over the group frame (QI-cardinality
    * bounded). The balance band goes through EXACT CENTS before the
    * integer division — a direct decimal→BIGINT cast rounds
    * half-away-from-zero in DuckDB but truncates in Spark, so values
    * like 999.50 land in different bands (11 divergent customers at
    * sf0.1; the sf0.01 gate had none — caught by review, not the
    * gate). Cents are exact for 2-dec money, and integer division
    * truncates toward zero identically in both engines. */
  val qKAnonymity: GraftQuery = GraftQuery.sql(
    "q_k_anonymity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) // 100000 AS bal_band,
      |    COUNT(*) AS k
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT k AS group_size, COUNT(*) AS n_groups,
      |  CAST(k * COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN k < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
      |FROM g GROUP BY k ORDER BY k""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(cast(c_acctbal as decimal(15,2)) * 100 as bigint) div 100000")
          .as("bal_band"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_rows"),
        when(col("group_size") < 5, 1L).otherwise(0L).as("at_risk"))
      .orderBy(col("group_size"))
  }

  /** SEQUENTIAL PATTERN SUPPORT — "A happens before B" user counts
    * for every ordered event-type pair (q_event_transitions counts
    * ADJACENT steps; funnels fix one order in advance — this
    * discovers the order: the exploratory census run before anyone
    * writes a funnel, where a strong A→B with a weak B→A is the
    * directionality signal): a user supports (A then B) when some A
    * occurrence precedes some B occurrence, i.e. min_ts(A) <
    * max_ts(B) — per-user span aggregates, no sequence scan.
    *
    * ONE corpus shuffle into the (user, type, min, max) frame (≤
    * types rows per user, map-side combinable); the before-relation
    * is a user-keyed self-join of that bounded frame (≤ types² rows
    * per user, co-partitioned — no exchange between aggregate and
    * join); the user total is the adjudicated 1-row scalar cross. */
  val qSeqPatterns: GraftQuery = GraftQuery.sql(
    "q_seq_patterns",
    """WITH ut AS (
      |  SELECT user_id, event_type,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS mn,
      |    MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS mx
      |  FROM events GROUP BY user_id, event_type),
      |pr AS (SELECT a.event_type AS type_first, b.event_type AS type_then,
      |         COUNT(*) AS n_users
      |       FROM ut a JOIN ut b ON a.user_id = b.user_id
      |         AND a.event_type <> b.event_type
      |       WHERE a.mn < b.mx
      |       GROUP BY 1, 2),
      |tot AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events)
      |SELECT type_first, type_then, n_users,
      |  (1000 * n_users) // nu AS support_pm
      |FROM pr CROSS JOIN tot
      |ORDER BY n_users DESC, type_first, type_then""".stripMargin
  ) { (s, d) =>
    val ut = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("cast(ts as long)").as("es"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("es")).as("mn"), max(col("es")).as("mx"))
    val tot = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("nu"))
    ut.as("a")
      .join(ut.select(col("user_id").as("ub"), col("event_type").as("tb"),
        col("mx").as("bmx")).as("b"),
        col("user_id") === col("ub") && col("event_type") =!= col("tb") &&
          col("mn") < col("bmx"))
      .groupBy(col("event_type").as("type_first"), col("tb").as("type_then"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot)) // 1-row scalar — the adjudicated tiny class
      .select(col("type_first"), col("type_then"), col("n_users"),
        expr("(1000 * n_users) div nu").as("support_pm"))
      .orderBy(col("n_users").desc, col("type_first"), col("type_then"))
  }

  /** NAIVE-FORECAST BACKTEST — the baseline every forecasting system
    * is judged against (a model that can't beat "same as yesterday"
    * or "same as last <period>" is net negative; publishing these
    * two MAEs per series is the first deliverable of any forecast
    * project): per event type, backtest naive-yesterday (d−1) and
    * seasonal-naive (d−7) over the daily revenue series, integer
    * MAE in exact cents, and which baseline wins.
    *
    * The corpus pays ONE map-side-combined (type, day) aggregate;
    * the two lag references are calendar-day SELF-JOINS on that
    * days×types-bounded frame (dy−1, dy−7 — honest on gappy series
    * where a rows-offset LAG would silently compare across holes),
    * and the scoreboard is one rollup. All exact-cents integer
    * arithmetic; MAE is floor division, stated in the name. */
  val tsForecastNaive: GraftQuery = GraftQuery.sql(
    "ts_forecast_naive",
    """WITH v AS (SELECT event_type,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS dy,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |s AS (SELECT event_type, dy, SUM(c) AS tot FROM v GROUP BY 1, 2),
      |b AS (SELECT s.event_type, s.dy, s.tot, p1.tot AS p1, p7.tot AS p7
      |      FROM s JOIN s p1 ON p1.event_type = s.event_type AND p1.dy = s.dy - 1
      |             JOIN s p7 ON p7.event_type = s.event_type AND p7.dy = s.dy - 7)
      |SELECT event_type, COUNT(*) AS n_days,
      |  CAST(SUM(ABS(tot - p1)) // COUNT(*) AS BIGINT) AS mae_naive_cents,
      |  CAST(SUM(ABS(tot - p7)) // COUNT(*) AS BIGINT) AS mae_seasonal_cents,
      |  CASE WHEN SUM(ABS(tot - p7)) <= SUM(ABS(tot - p1))
      |    THEN 'seasonal' ELSE 'naive' END AS winner
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr("cast(ts as long) div 86400").as("dy"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)").as("c"))
      .groupBy(col("event_type"), col("dy")).agg(sum(col("c")).as("tot"))
    val p1 = daily.select(col("event_type").as("t1"), col("dy").as("d1"),
      col("tot").as("p1"))
    val p7 = daily.select(col("event_type").as("t7"), col("dy").as("d7"),
      col("tot").as("p7"))
    daily
      .join(p1, col("event_type") === col("t1") && col("d1") === col("dy") - 1)
      .join(p7, col("event_type") === col("t7") && col("d7") === col("dy") - 7)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("tot") - col("p1"))).as("e1"),
        sum(abs(col("tot") - col("p7"))).as("e7"))
      .select(col("event_type"), col("n_days"),
        expr("e1 div n_days").as("mae_naive_cents"),
        expr("e7 div n_days").as("mae_seasonal_cents"),
        when(col("e7") <= col("e1"), "seasonal").otherwise("naive").as("winner"))
      .orderBy(col("event_type"))
  }

  /** AUTOCORRELATION FUNCTION — the series-memory diagnostic that
    * picks the lag structure every downstream choice depends on
    * (which seasonal-naive lag ts_forecast_naive should backtest,
    * whether ts_seasonality's weekly profile is real or an artifact,
    * how wide ts_anomaly's window must be before samples decorrelate):
    * per event type, the ACF at lags 1..7 over the daily revenue
    * series, as exact per-mille integers.
    *
    * Exactness: with n days, S = Σtot, the lag-k numerator is
    * Σ (n·tot_t − S)(n·tot_{t+k} − S) over calendar-day pairs (both
    * days present — honest on gappy series, the forecast-op rule) and
    * the denominator Σ (n·tot_t − S)² — the mean-centered products
    * scaled by n² so everything stays integral; DECIMAL(38,0) on the
    * Spark side, HUGEINT in the oracle, per-mille by truncating
    * division (both engines truncate toward zero — verified).
    *
    * Scale: the corpus pays ONE map-side-combined (type, day)
    * aggregate; lag pairs are a self-join on the days×types-bounded
    * frame emitting ≤7 rows per day, and the per-type (n, S, den)
    * stats ride a types-bounded broadcast join. */
  val tsAutocorr: GraftQuery = GraftQuery.sql(
    "ts_autocorr",
    """WITH v AS (SELECT event_type,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS dy,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |s AS (SELECT event_type, dy, SUM(c) AS tot FROM v GROUP BY 1, 2),
      |st AS (SELECT event_type, COUNT(*) AS n, SUM(tot) AS sm,
      |         CAST(COUNT(*) AS HUGEINT) * COUNT(*) * SUM(CAST(tot AS HUGEINT) * tot)
      |           - CAST(COUNT(*) AS HUGEINT) * SUM(tot) * SUM(tot) AS den
      |       FROM s GROUP BY event_type),
      |p AS (SELECT a.event_type, b.dy - a.dy AS lag,
      |        a.tot AS ta, b.tot AS tb
      |      FROM s a JOIN s b ON b.event_type = a.event_type
      |        AND b.dy - a.dy BETWEEN 1 AND 7)
      |SELECT p.event_type AS event_type, p.lag, COUNT(*) AS n_pairs,
      |  CAST(CASE WHEN st.den = 0 THEN 0
      |    ELSE (1000 * SUM((CAST(st.n AS HUGEINT) * ta - st.sm)
      |                   * (CAST(st.n AS HUGEINT) * tb - st.sm))) // st.den
      |    END AS BIGINT) AS acf_pm
      |FROM p JOIN st ON st.event_type = p.event_type
      |GROUP BY p.event_type, p.lag, st.den
      |ORDER BY p.event_type, p.lag""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr("cast(ts as long) div 86400").as("dy"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)").as("c"))
      .groupBy(col("event_type"), col("dy")).agg(sum(col("c")).as("tot"))
    val st = daily.groupBy(col("event_type").as("st_type"))
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("sm"),
        sum(col("tot").cast("decimal(38,0)") * col("tot")).as("q"))
      // Σ(n·t−S)² = n²·Σt² − n·S² expanded from the same partials, so
      // the per-type stats stay ONE aggregate (no window pass)
      .select(col("st_type"), col("n"), col("sm"),
        (col("n").cast("decimal(38,0)") * col("n") * col("q")
          - col("n").cast("decimal(38,0)") * col("sm") * col("sm")).as("den"))
    val b = daily.select(col("event_type").as("bt"), col("dy").as("bdy"),
      col("tot").as("tb"))
    daily
      .join(b, col("bt") === col("event_type")
        && (col("bdy") - col("dy")).between(1, 7))
      .join(broadcast(st), col("st_type") === col("event_type"))
      .groupBy(col("event_type"), (col("bdy") - col("dy")).as("lag"), col("den"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("n").cast("decimal(38,0)") * col("tot") - col("sm"))
          * (col("n").cast("decimal(38,0)") * col("tb") - col("sm"))).as("num"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        expr("""CAST(CASE WHEN den = 0 THEN 0
          |ELSE (1000 * num) div den END AS BIGINT)""".stripMargin).as("acf_pm"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** LEAD–LAG CONCORDANCE — the cross-series timing diagnostic
    * (does type A's daily movement LEAD type B's by k days? the
    * question behind attribution windows, inventory lead times and
    * which signal is a usable early-warning for which): for every
    * ordered type pair (a ≠ b) and lag 0..7, the per-mille rate at
    * which a's mean-deviation sign on day d agrees with b's on day
    * d+k. Sign concordance instead of Pearson/beta because it is
    * EXACTLY rational (a lagged correlation needs √(denA·denB) —
    * float, parity-hostile — and its cross-multiplied square
    * overflows DECIMAL(38,0) at realistic day counts), robust to
    * outlier days, and directly readable as an agreement rate.
    * Deviation signs are exact: sign(n·tot − S) per type, ties
    * (exactly-at-mean days) agree only with ties.
    *
    * Scale: the SAME one (type, day) map-side aggregate as the
    * autocorr/forecast family, one ≤8-rows-per-day self-join on the
    * days×types-bounded frame, per-type stats broadcast — nothing
    * corpus-proportional after the first aggregate. */
  val tsLeadLag: GraftQuery = GraftQuery.sql(
    "ts_lead_lag",
    """WITH v AS (SELECT event_type,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS dy,
      |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |s AS (SELECT event_type, dy, SUM(c) AS tot FROM v GROUP BY 1, 2),
      |st AS (SELECT event_type, COUNT(*) AS n, SUM(tot) AS sm
      |       FROM s GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        b.dy - a.dy AS lag,
      |        CASE WHEN CAST(sa.n AS HUGEINT) * a.tot - sa.sm > 0 THEN 1
      |             WHEN CAST(sa.n AS HUGEINT) * a.tot - sa.sm < 0 THEN -1
      |             ELSE 0 END AS da,
      |        CASE WHEN CAST(sb.n AS HUGEINT) * b.tot - sb.sm > 0 THEN 1
      |             WHEN CAST(sb.n AS HUGEINT) * b.tot - sb.sm < 0 THEN -1
      |             ELSE 0 END AS db
      |      FROM s a JOIN s b ON a.event_type <> b.event_type
      |        AND b.dy - a.dy BETWEEN 0 AND 7
      |      JOIN st sa ON sa.event_type = a.event_type
      |      JOIN st sb ON sb.event_type = b.event_type)
      |SELECT type_a, type_b, lag, COUNT(*) AS n_pairs,
      |  CAST((1000 * SUM(CASE WHEN da = db THEN 1 ELSE 0 END))
      |       // COUNT(*) AS BIGINT) AS agree_pm
      |FROM p GROUP BY 1, 2, 3
      |ORDER BY type_a, type_b, lag""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr("cast(ts as long) div 86400").as("dy"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)").as("c"))
      .groupBy(col("event_type"), col("dy")).agg(sum(col("c")).as("tot"))
    val st = daily.groupBy(col("event_type").as("st_type"))
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("sm"))
    def sgn(n: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column,
        sm: org.apache.spark.sql.Column) = {
      val dev = n.cast("decimal(38,0)") * tot - sm
      when(dev > 0, 1).when(dev < 0, -1).otherwise(0)
    }
    val a = daily
      .join(broadcast(st), col("st_type") === col("event_type"))
      .select(col("event_type").as("type_a"), col("dy"),
        sgn(col("n"), col("tot"), col("sm")).as("da"))
    val b = daily
      .join(broadcast(st), col("st_type") === col("event_type"))
      .select(col("event_type").as("type_b"), col("dy").as("bdy"),
        sgn(col("n"), col("tot"), col("sm")).as("db"))
    // equi-join on the lagged day (lag axis exploded on the a side):
    // a hash join with a residual type filter, not a nested-loop scan
    a.withColumn("lag", explode(lit((0 to 7).toArray)))
      .join(b, col("bdy") === col("dy") + col("lag")
        && col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("da") === col("db"), 1L).otherwise(0L)).as("agree"))
      .select(col("type_a"), col("type_b"), col("lag").cast("long").as("lag"),
        col("n_pairs"),
        expr("(1000 * agree) div n_pairs").as("agree_pm"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  /** Partition-width stand-in for the salt recommendation: the
    * heaviest key should hold no more than 1/Target of the join's
    * rows after salting. */
  val SkewTargetParts = 32L

  /** JOIN-KEY SKEW AUDIT — the pre-flight a 100 TB join runs BEFORE
    * choosing a strategy (q_heavy_hitters finds the frequent keys
    * themselves; q_skew_join_salted is the mitigation; this is the
    * DECISION BOARD between them — the numbers that tell an operator
    * whether a plain hash join is safe, AQE skew-splitting suffices,
    * or an explicit salt is required, and at what factor). Per
    * audited join key: total rows, distinct keys, the heaviest key's
    * row count, the p99 key frequency (exact positional percentile
    * over the key-frequency frame), mean rows per key in per-mille,
    * skew factor (heaviest/mean, per-mille), and the recommended salt
    * factor — the smallest s with max_key_rows/s ≤ n_rows/Target,
    * i.e. ceil(Target·max/n), floored at 1 (1 = no salt needed).
    * All exact integers; skew_pm cross-multiplied through
    * DECIMAL(38,0) (max·n_keys can reach 10¹⁸ at 10⁹ keys).
    *
    * Scale: per key column, ONE map-side-combined groupBy(key).count
    * over the fact (the same pass any stats collector pays), a
    * 5-field aggregate of the frequency frame, and an ungrouped
    * `Ranks.percentileExact` over the frequency frame — the range-
    * shuffle mechanism, because at 100 TB the frequency frame itself
    * has n_keys rows (billions for a user-id key): p99 must never
    * funnel it through one sort task. The three audited frames are
    * independent — Spark schedules their jobs from one action. */
  val qSkewAudit: GraftQuery = GraftQuery.sql(
    "q_skew_audit", {
      def arm(tag: String, table: String, key: String) =
        s"""SELECT '$tag' AS key_col, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(n_keys AS BIGINT) AS n_keys, max_key_rows, p99_key_rows,
           |  CAST((1000 * n_rows) // n_keys AS BIGINT) AS mean_rows_pm,
           |  CAST((CAST(1000 AS HUGEINT) * max_key_rows * n_keys) // n_rows AS BIGINT)
           |    AS skew_pm,
           |  CAST(GREATEST(1, ($SkewTargetParts * max_key_rows + n_rows - 1) // n_rows)
           |    AS BIGINT) AS salt_factor
           |FROM (
           |  SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS max_key_rows,
           |    MAX(CASE WHEN rn = CAST(CEIL(0.99 * nk) AS BIGINT) THEN c END)
           |      AS p99_key_rows
           |  FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS rn,
           |          COUNT(*) OVER () AS nk
           |        FROM (SELECT $key AS k, COUNT(*) AS c FROM $table GROUP BY 1)))""".stripMargin
      Seq(arm("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        arm("events.user_id", "events", "user_id"),
        arm("orders.o_custkey", "orders", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
    }
  ) { (s, d) =>
    def audit(tag: String, df: DataFrame, key: String): DataFrame = {
      // NOT cached (r18, measured): percentileExact's range sampling
      // does re-run the fact groupBy, but the three arms' jobs
      // overlap inside the one action and a pinned freq serialized
      // the arms (1.46 → 1.96 s min-of-3) — and at 100 TB freq is
      // key-cardinality-sized (billions for a user key), exactly the
      // frame NOT to persist.
      val freq = df.groupBy(col(key).cast("long").as("k"))
        .agg(count(lit(1)).as("c"))
      val p99 = graft.functions.Ranks.percentileExact(freq,
        orderCols = Seq("c", "k"), partCols = Nil, valueCol = "c",
        qs = Seq("p99_key_rows" -> 0.99), nOut = "n_keys",
        extraAggs = Seq(
          "n_rows" -> sum(col("c")),
          "max_key_rows" -> max(col("c"))))
      p99.select(lit(tag).as("key_col"), col("n_rows"), col("n_keys"),
        col("max_key_rows"), col("p99_key_rows"),
        expr("(1000 * n_rows) div n_keys").as("mean_rows_pm"),
        expr("""cast((cast(1000 as decimal(38,0)) * max_key_rows * n_keys)
               |div n_rows as bigint)""".stripMargin).as("skew_pm"),
        expr(s"greatest(1L, ($SkewTargetParts * max_key_rows + n_rows - 1) div n_rows)")
          .as("salt_factor"))
    }
    audit("lineitem.l_suppkey", Tables.lineitem(s, d), "l_suppkey")
      .unionByName(audit("events.user_id", Tables.events(s, d), "user_id"))
      .unionByName(audit("orders.o_custkey", Tables.orders(s, d), "o_custkey"))
      .orderBy(col("key_col"))
  }

  def all: Seq[GraftQuery] = Seq(
    qBloomJoin, qMvIncremental, tsResample, dEditDistance,
    qParetoFrontier, stLatenessAudit, gPagerank, qWindowPercentile,
    tsAnomaly, tsBaselineAnomaly, tsSeasonality, tsChangepoint,
    qItemsetPairs, tsOutageGaps, qBenfordAudit, qItemsetLift,
    qKAnonymity, qSeqPatterns, tsForecastNaive, tsAutocorr, tsLeadLag,
    qSkewAudit)
}
