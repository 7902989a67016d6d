package graft

import graft.operators.{Analytics, Layout}
import org.apache.spark.sql.functions._

/** Round-5 additions: layout ops (z-order, incremental compaction)
  * and the analytic family (bloom join, incremental MV, resample,
  * fuzzy ER, skyline, lateness audit, pagerank). Beyond run+rows>0,
  * each test pins the SCALE property the operator exists for.
  */
class LayoutAnalyticsSpec extends SparkSpec {

  test("every Layout and Analytics query runs and returns rows at sf0.001") {
    (Layout.all ++ Analytics.all).foreach { q =>
      val n = q.fn(spark, sfDir).count()
      assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("z-order layout: most files are skippable for the 2-dim box predicate") {
    Layout.lakeZorder.fn(spark, sfDir).count() // ensures provisioning
    val path = Layout.zorderedPath(sfDir)
    assert(Layout.ensureZordered(spark, sfDir) == path)
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
      .collect()
    val total = perFile.length
    assert(total >= 8, s"expected a multi-file layout, got $total files")
    // a file can contain a match only if its (partkey, suppkey)
    // min/max rectangle intersects the predicate box — the same test
    // parquet row-group stats pruning applies
    val overlapping = perFile.count { r =>
      r.getAs[Long]("pmax") >= 20 && r.getAs[Long]("pmin") <= 79 &&
        r.getAs[Long]("smax") >= 2 && r.getAs[Long]("smin") <= 5
    }
    assert(overlapping * 2 <= total,
      s"z-order should let most files skip the box: $overlapping/$total overlap")
  }

  test("zValue interleaves bits monotonically within a row-major cell") {
    // z(1,0)=2, z(0,1)=1, z(1,1)=3, z(2,2)=12 — the standard Morton curve
    val rows = spark.range(1).select(
      Layout.zValue(lit(1L), lit(0L)).as("a"),
      Layout.zValue(lit(0L), lit(1L)).as("b"),
      Layout.zValue(lit(1L), lit(1L)).as("c"),
      Layout.zValue(lit(2L), lit(2L)).as("d")).head
    assert((rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3))
      == ((2L, 1L, 3L, 12L)))
  }

  test("incremental compaction rewrites only the over-threshold partition") {
    Layout.lakeCompactIncremental.fn(spark, sfDir).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def nFiles(t: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(
          operators.Lake.scratch(s"incremental_compact_events/event_type=$t")))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(nFiles("click") <= 2, s"hot partition not compacted: ${nFiles("click")} files")
    assert(nFiles("view") == 2, s"cold partition should be untouched: ${nFiles("view")} files")
  }

  test("bloom pre-filter passes every joining key (no false negatives)") {
    val viaBloom = Analytics.qBloomJoin.fn(spark, sfDir)
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_lines"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaBloom.collect().foreach { r =>
      assert(plain(r.getAs[Long]("yr")) == r.getAs[Long]("n_lines"),
        s"bloom path diverged for year ${r.getAs[Long]("yr")}")
    }
  }

  test("incremental MV merge equals full recompute") {
    val inc = Analytics.qMvIncremental.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("n_orders"))).toMap
    val full = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 12)
      .collect().map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("n"))).toMap
    assert(inc == full)
  }

  test("resample spine is dense: every series covers every hourly bucket") {
    val rows = Analytics.tsResample.fn(spark, sfDir).collect()
    val perSeries = rows.groupBy(_.getAs[String]("event_type")).view.mapValues(_.length)
    assert(perSeries.values.toSet.size == 1,
      s"series have unequal spine lengths: ${perSeries.toMap}")
    // forward fill: once a series has seen data, filled_total is never null
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("bucket").getTime)
      val firstData = sorted.indexWhere(_.getAs[Long]("n_events") > 0)
      sorted.drop(firstData).foreach(r =>
        assert(!r.isNullAt(r.fieldIndex("filled_total")), "gap in forward fill"))
    }
  }

  test("pareto frontier: strictly increasing price and strictly increasing size") {
    val rows = Analytics.qParetoFrontier.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Double]("price"), r.getAs[Long]("size")))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array((p1, s1), (p2, s2)) =>
        // min-price/max-size frontier: a later (pricier) survivor must
        // offer strictly more size, else the cheaper point dominates it
        assert(p1 < p2 && s1 < s2, s"not a frontier: ($p1,$s1) then ($p2,$s2)")
      case _ =>
    }
    // no point in the set dominates a frontier point
    val all = Tables.part(spark, sfDir)
      .select(col("p_retailprice"), col("p_size").cast("long")).distinct()
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    rows.foreach { case (p, sz) =>
      assert(!all.exists { case (p2, s2) =>
        p2 <= p && s2 >= sz && (p2 < p || s2 > sz) },
        s"($p,$sz) is dominated")
    }
  }

  test("lateness audit: late events exist and totals are consistent") {
    val rows = Analytics.stLatenessAudit.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nLate = r.getAs[Long]("n_late")
      val maxLate = r.getAs[Long]("max_late_sec")
      val totLate = r.getAs[Long]("total_late_sec")
      assert((nLate == 0) == (totLate == 0))
      assert(maxLate <= totLate)
      assert(nLate <= r.getAs[Long]("n_events"))
    }
    // the synthetic stream is unordered, so some lateness must show up
    assert(rows.map(_.getAs[Long]("n_late")).sum > 0, "no late events found at all")
  }

  test("lateness audit's heavy window is bucketed — parallelism beyond type cardinality") {
    val df = Analytics.stLatenessAudit.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the per-row running max must be keyed by (event_type, bkt), not
    // event_type alone — otherwise each source is one sorted stream
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(l => l.contains("event_type") && l.contains("bkt")),
      s"local window not bucketed:\n${windowLines.mkString("\n")}")
    // and the bucketing actually multiplies the key count
    val keys = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("long").as("ts_sec"), col("event_id"))
      .withColumn("arr_sec", col("ts_sec") + (col("event_id") % 15) * 60)
      .select(col("event_type"), floor(col("arr_sec") / lit(3600L)))
      .distinct().count()
    assert(keys > 5, s"expected more window keys than event types, got $keys")
  }

  test("copy-on-write delete rewrites only the files whose range intersects, " +
    "as a new version over a pristine provisioned layout") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = Layout.cowPath(sfDir)
    assert(Layout.ensureCowLayout(spark, sfDir) == dir)
    def v0Identity(): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
    val before = Tables.lineitem(spark, sfDir).count()
    val rows = Layout.lakeDeleteCow.fn(spark, sfDir)
      .agg(sum("n")).collect()(0).getLong(0)
    val deleted = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey").between(0, 149)).count()
    assert(rows == before - deleted, "surviving rows wrong")
    val files0 = v0Identity()
    assert(files0.size >= 8, s"expected >= 8 v0 files, got ${files0.size}")
    // VERSIONED COW: v0 is pristine — a second run re-provisions
    // nothing (staleness gate) and mutates nothing (byte identity)
    Layout.lakeDeleteCow.fn(spark, sfDir).count()
    assert(v0Identity() == files0, "v0 layout must stay byte-identical across runs")
    // the v1 manifest excludes every touched v0 entry and names only
    // live files (kept v0 + replacements in the delta dir)
    val v0Manifest = spark.read.parquet(s"$dir/_manifest").collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("kmin"), r.getAs[Long]("kmax")))
    val touched = v0Manifest.filter { case (_, kmin, kmax) => kmax >= 0L && kmin <= 149L }
      .map(_._1).toSet
    assert(touched.nonEmpty, "layout not selective enough to test")
    val v1 = spark.read.parquet(s"${dir}_v1/_manifest").collect()
      .map(_.getAs[String]("file")).toSet
    assert(touched.forall(f => !v1.contains(f)), "touched v0 entries leak into v1")
    assert((v0Manifest.map(_._1).toSet -- touched).subsetOf(v1), "kept entries lost from v1")
    v1.foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath)),
        s"v1 manifest names a missing file: $f")
    }
  }

  test("cow delete consults the manifest only — non-intersecting files are never opened") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = operators.Lake.scratch("cow_spec_lineitem")
    Layout.writeCowLayout(spark, sfDir, dir)
    val manifest = spark.read.parquet(dir + "/_manifest").collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("kmin"), r.getAs[Long]("kmax")))
    val (intersecting, outside) = manifest.partition { case (_, kmin, kmax) =>
      kmax >= 0L && kmin <= 149L }
    assert(intersecting.nonEmpty && outside.length >= 2,
      s"layout not selective enough to test: ${intersecting.length}/${manifest.length} intersect")
    // Corrupt one NON-intersecting file: any attempt to open it —
    // footer read, stats scan, anything — throws. The delete
    // succeeding at all is proof it reads only manifest + candidates.
    val victim = new org.apache.hadoop.fs.Path(new java.net.URI(outside.head._1).getPath)
    val out = fs.create(victim, true)
    out.write("definitely not a parquet file".getBytes("UTF-8")); out.close()
    // byte-identity baseline for the other untouched files
    def identity(): Map[String, (Long, Long)] = outside.tail.map { case (f, _, _) =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath))
      f -> (st.getLen, st.getModificationTime)
    }.toMap
    val beforeId = identity()
    val touched = Layout.cowDelete(spark, dir, 0L, 149L)
    assert(touched.toSet == intersecting.map(_._1).toSet,
      "delete must rewrite exactly the manifest-intersecting files")
    assert(identity() == beforeId, "untouched files must keep byte identity")
    // manifest was patched: old touched entries gone, replacements
    // present, survivors (incl. the corrupt victim's entry) intact
    val after = spark.read.parquet(dir + "/_manifest").collect()
      .map(_.getAs[String]("file")).toSet
    assert(touched.forall(f => !after.contains(f)), "stale manifest entries survive")
    assert(outside.map(_._1).toSet.subsetOf(after), "kept entries lost from manifest")
  }

  test("shallow clone copies no data and diverges independently") {
    val rows = Layout.lakeClone.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("side") -> r.getAs[Long]("n")).toMap
    val o = Tables.orders(spark, sfDir)
    assert(rows("source") == o.filter(col("o_orderkey") % 3 =!= 2).count())
    assert(rows("clone") == o.count(), "clone should hold source + delta")
    // zero-copy: the clone dir holds only its OWN delta data + log —
    // the cloned v0 files still live in the source dir
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
        operators.Lake.scratch("clone_dst_orders/data")))
      .map(_.getPath.getName).toSet
    assert(dataDirs == Set("mod2"), s"clone dir should hold only its delta: $dataDirs")
  }

  test("window percentile rows are the top decile within each nation") {
    val rows = Analytics.qWindowPercentile.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("pr") >= 0.9 && r.getAs[Double]("pr") <= 1.0)
      assert(r.getAs[Double]("cd") > 0.0 && r.getAs[Double]("cd") <= 1.0)
    }
  }

  test("pagerank: well-connected suppliers outrank leaf customers") {
    val rows = Analytics.gPagerank.fn(spark, sfDir).collect()
    assert(rows.length == 25)
    val prs = rows.map(_.getAs[Long]("pr"))
    assert(prs.sameElements(prs.sortBy(-_)), "not sorted by rank")
    // ranks are bounded below by the teleport term
    prs.foreach(pr => assert(pr >= 150000))
    // suppliers aggregate many customers' mass — the top node must be
    // a supplier in this bipartite trade graph
    assert(rows.head.getAs[String]("node").startsWith("s"))
  }

  test("pagerank is partitioning-independent: forced multi-partition iterates match the single-partition result") {
    val single = Analytics.gPagerank.fn(spark, sfDir).collect().map(_.toString).toSeq
    // force iterateParts > 1 (and the non-broadcast join path) at
    // test scale — the production shape at 10⁸-10⁹ nodes
    System.setProperty("graft.iterate.rowsPerPartition", "50")
    try {
      val multi = Analytics.gPagerank.fn(spark, sfDir).collect().map(_.toString).toSeq
      assert(multi == single,
        "rank iterates must be bit-identical at any partition count")
    } finally System.clearProperty("graft.iterate.rowsPerPartition")
  }

  test("point lookup consults the manifest and touches few files") {
    val rows = Layout.lakePointLookup.fn(spark, sfDir).collect()
    val direct = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") === 777).count()
    assert(rows.length.toLong == direct)
    val path = Layout.pointLookupPath(sfDir)
    assert(Layout.ensurePointLayout(spark, sfDir) == path)
    val total = spark.read.parquet(path + "/manifest").count()
    val cand = Layout.candidateFiles(spark, path, 777L)
    assert(total >= 8, s"expected a multi-file layout, got $total")
    assert(cand.length <= 2, s"manifest should prune to 1-2 files, got ${cand.length}")
  }

  test("ts_anomaly flags exactly the >3-sigma rows of an independent recount") {
    val rows = Analytics.tsAnomaly.fn(spark, sfDir).collect()
    assert(rows.nonEmpty, "no anomalies at this SF")
    rows.foreach { r =>
      val z = r.getAs[Double]("zscore")
      assert(math.abs(z) > 3.0 && !z.isNaN && !z.isInfinite)
    }
    // independent recount with plain double stats (tolerance-based:
    // the operator's exact-decimal path may differ by ULPs)
    val ev = Tables.events(spark, sfDir)
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sd"))
    val expected = ev.join(stats, "event_type")
      .filter(abs((col("value") - col("mu")) / col("sd")) > 3.0001)
    val loose = ev.join(stats, "event_type")
      .filter(abs((col("value") - col("mu")) / col("sd")) > 2.9999)
    assert(rows.length >= expected.count() && rows.length <= loose.count())
  }

  test("ts_baseline_anomaly scores every day but each series' first") {
    val rows = Analytics.tsBaselineAnomaly.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sfDir)
    val dayCount = ev.select(col("event_type"), date_trunc("day", col("ts")))
      .distinct().count()
    val series = ev.select(col("event_type")).distinct().count()
    assert(rows.length == dayCount - series,
      s"expected one scored row per (series, day) minus first days: " +
        s"$dayCount - $series != ${rows.length}")
    val scored = rows.map(_.getAs[Long]("n_scored")).sum
    val firstDayRows = ev.join(
      ev.groupBy(col("event_type")).agg(date_trunc("day", min(col("ts"))).as("d0")),
      "event_type").filter(date_trunc("day", col("ts")) === col("d0")).count()
    assert(scored == ev.count() - firstDayRows,
      "every event outside its series' first day must be scored exactly once")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_anomalous") <= r.getAs[Long]("n_scored"))
      assert(!r.getAs[Double]("baseline_mu").isNaN)
    }
    assert(rows.map(_.getAs[Long]("n_anomalous")).sum > 0, "degenerate: nothing flagged")
  }

  test("ts_seasonality conserves event counts and bounds buckets per type") {
    val rows = Analytics.tsSeasonality.fn(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total,
      "bucket counts must partition the event stream")
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      assert(rs.length <= 168, s"$t has ${rs.length} dow*hour buckets")
      val tot = rs.map(_.getAs[Long]("n_events")).sum
      rs.foreach { r =>
        val hot = r.getAs[Long]("hot") == 1L
        assert(hot == (r.getAs[Long]("n_events") * 168 > 2 * tot),
          s"hot flag must be the exact 2x-mean cross-multiplication for $t")
      }
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("dow") >= 0 && r.getAs[Long]("dow") <= 6)
      assert(r.getAs[Long]("hr") >= 0 && r.getAs[Long]("hr") <= 23)
    }
  }

  test("ts_changepoint: drift telescopes to zero at the series end and flags match the cross-multiplication") {
    val rows = Analytics.tsChangepoint.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (ty, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("t"))
      val nd = sorted.length.toLong
      val tot = sorted.map(_.getAs[Long]("cents")).sum
      // cum is a true prefix sum and t is dense 1..N
      var running = 0L
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("t") == i + 1)
        running += r.getAs[Long]("cents")
        assert(r.getAs[Long]("cum") == running, s"$ty cum broken at t=${i + 1}")
        val drift = nd * running - (i + 1) * tot
        val sign = if (drift > 0) 1L else if (drift < 0) -1L else 0L
        assert(r.getAs[Long]("sign") == sign)
        assert(r.getAs[Long]("dev_pm") == math.abs(drift) * 1000 / (nd * tot))
        assert((r.getAs[Long]("flag") == 1L) == (math.abs(drift) * 20 > nd * tot))
      }
      // CUSUM telescopes: at t=N, N*cum - N*tot = 0 — sign/dev must say so
      val last = sorted.last
      assert(last.getAs[Long]("sign") == 0L && last.getAs[Long]("dev_pm") == 0L)
    }
  }

  test("itemset pairs: canonical ordering holds and the top pair's support recounts") {
    val rows = Analytics.qItemsetPairs.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sup = rows.map(_.getAs[Long]("support"))
    assert(sup.sliding(2).forall { case Array(x, y) => x >= y; case _ => true },
      "support must be non-increasing")
    rows.foreach { r =>
      assert(r.getAs[Long]("support") >= 2L)
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b"),
        "pairs must be canonical a<b")
    }
    // recount the top pair's support directly: orders containing both parts
    val top = rows.head
    val (pa, pb) = (top.getAs[Long]("part_a"), top.getAs[Long]("part_b"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val n = li.filter(col("l_partkey") === pa).select("l_orderkey")
      .intersect(li.filter(col("l_partkey") === pb).select("l_orderkey"))
      .count()
    assert(n == top.getAs[Long]("support"), s"pair ($pa,$pb): recount $n")
  }

  test("outage gaps: every gap is a maximal silent run on the shared hour spine") {
    val rows = Analytics.tsOutageGaps.fn(spark, sfDir).collect()
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("cast(ts as long) div 3600").as("hr"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("hr")))
    val (mn, mx) = (ev.map(_._2).min, ev.map(_._2).max)
    val types = ev.map(_._1).distinct
    val active: Map[String, Set[Long]] =
      ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // reconstruct silent runs per type on the same global spine
    val want = types.flatMap { t =>
      val silent = (mn to mx).filterNot(active(t))
      silent.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, h) if h == e + 1 => (s, h) :: rest
        case (acc, h) => (h, h) :: acc
      }.map { case (s, e) => (t, s, e) }
    }.toSet
    assert(rows.map(r => (r.getAs[String]("event_type"),
      r.getAs[Long]("gap_start_hr"), r.getAs[Long]("gap_end_hr"))).toSet == want)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_hours") ==
        r.getAs[Long]("gap_end_hr") - r.getAs[Long]("gap_start_hr") + 1)
    }
    val lens = rows.map(_.getAs[Long]("gap_hours"))
    assert(lens.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
  }

  test("itemset lift: formulas recount from raw basket censuses") {
    val rows = Analytics.qItemsetLift.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val op = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = op.map(_._1).distinct.length.toLong
    val cnt = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val support = op.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; k <- i + 1 until ps.length) yield (ps(i), ps(k))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))
      val sup = r.getAs[Long]("support")
      assert(sup == support((a, b)) && sup >= 2)
      assert(r.getAs[Long]("lift_pm") == 1000L * sup * nOrders / (cnt(a) * cnt(b)))
      assert(r.getAs[Long]("conf_a2b_pm") == 1000L * sup / cnt(a))
      assert(r.getAs[Long]("conf_b2a_pm") == 1000L * sup / cnt(b))
    }
    val ls = rows.map(_.getAs[Long]("lift_pm"))
    assert(ls.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
  }

  test("k-anonymity: histogram conserves all rows and risk flags match the threshold") {
    val rows = Analytics.qKAnonymity.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val total = Tables.customer(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") ==
        r.getAs[Long]("group_size") * r.getAs[Long]("n_groups"))
      assert(r.getAs[Long]("at_risk") ==
        (if (r.getAs[Long]("group_size") < 5) 1L else 0L))
    }
    // driver recount of the QI census
    val want = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        expr("cast(cast(c_acctbal as decimal(15,2)) * 100 as bigint) div 100000"))
      .collect().groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .values.map(_.size.toLong).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r.getAs[Long]("group_size") -> r.getAs[Long]("n_groups")).toMap == want)
  }

  test("seq patterns: before-relation recounts from per-user type spans") {
    val rows = Analytics.qSeqPatterns.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("cast(ts as long)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val spans = evs.groupBy(r => (r._1, r._2)).view
      .mapValues(g => (g.map(_._3).min, g.map(_._3).max)).toMap
    val users = evs.map(_._1).distinct
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_first"), r.getAs[String]("type_then"))
      val n = users.count { u =>
        (spans.get((u, a)), spans.get((u, b))) match {
          case (Some((mna, _)), Some((_, mxb))) => mna < mxb
          case _ => false
        }
      }.toLong
      assert(r.getAs[Long]("n_users") == n, s"pair ($a,$b)")
      assert(r.getAs[Long]("support_pm") == 1000L * n / users.length)
      assert(a != b)
    }
  }

  test("naive forecast backtest: MAEs recount from driver-computed daily series") {
    val rows = Analytics.tsForecastNaive.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("cast(ts as long) div 86400"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val scored = daily.keys.filter(_._1 == t).map(_._2).toSeq.sorted
        .filter(d => daily.contains((t, d - 1)) && daily.contains((t, d - 7)))
      val e1 = scored.map(d => math.abs(daily((t, d)) - daily((t, d - 1)))).sum
      val e7 = scored.map(d => math.abs(daily((t, d)) - daily((t, d - 7)))).sum
      assert(r.getAs[Long]("n_days") == scored.length.toLong)
      assert(r.getAs[Long]("mae_naive_cents") == e1 / scored.length)
      assert(r.getAs[Long]("mae_seasonal_cents") == e7 / scored.length)
      assert(r.getAs[String]("winner") == (if (e7 <= e1) "seasonal" else "naive"))
    }
  }

  test("autocorrelation: per-mille ACF recomputes from the driver-side daily series") {
    val rows = Analytics.tsAutocorr.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("cast(ts as long) div 86400"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val k = r.getAs[Long]("lag")
      assert(k >= 1 && k <= 7)
      val series = daily.collect { case ((tt, d), v) if tt == t => d -> v }.toMap
      val n = BigInt(series.size)
      val s = series.values.map(BigInt(_)).sum
      val den = series.values.map(v => { val c = n * v - s; c * c }).sum
      val pairs = series.keys.filter(d => series.contains(d + k)).toSeq
      val num = pairs.map(d => (n * series(d) - s) * (n * series(d + k) - s)).sum
      assert(r.getAs[Long]("n_pairs") == pairs.length.toLong)
      val expect = if (den == 0) BigInt(0) else (1000 * num) / den
      assert(r.getAs[Long]("acf_pm") == expect.toLong)
    }
    // lag-0 sanity by construction: den is the lag-0 numerator, so every
    // reported |acf| is bounded by 1000 up to pair truncation
    assert(rows.map(r => math.abs(r.getAs[Long]("acf_pm"))).max <= 1100L)
  }

  test("lead-lag: sign concordance recomputes from the driver-side daily series") {
    val rows = Analytics.tsLeadLag.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("cast(ts as long) div 86400"),
        expr("cast(cast(value as decimal(15,2)) * 100 as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    val types = daily.keys.map(_._1).toSet
    def signs(t: String): Map[Long, Int] = {
      val series = daily.collect { case ((tt, d), v) if tt == t => d -> v }.toMap
      val n = BigInt(series.size)
      val s = series.values.map(BigInt(_)).sum
      series.map { case (d, v) => d -> (n * v - s).signum }
    }
    val sg = types.map(t => t -> signs(t)).toMap
    assert(rows.length == types.size * (types.size - 1) * 8,
      "every ordered pair x lag 0..7 must report")
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val k = r.getAs[Long]("lag")
      assert(a != b && k >= 0 && k <= 7)
      val pairs = sg(a).keys.filter(d => sg(b).contains(d + k)).toSeq
      val agree = pairs.count(d => sg(a)(d) == sg(b)(d + k)).toLong
      assert(r.getAs[Long]("n_pairs") == pairs.length.toLong)
      assert(r.getAs[Long]("agree_pm") == 1000L * agree / pairs.length)
    }
  }

  test("benford audit: digit census recounts and deviations use the published constants") {
    val rows = Analytics.qBenfordAudit.fn(spark, sfDir).collect()
    val benford = Map(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    assert(rows.map(_.getAs[Long]("digit")).forall(d => d >= 1 && d <= 9))
    // driver recount of first significant digits from exact cents
    val cents = Tables.orders(spark, sfDir)
      .select(expr("cast(cast(o_totalprice as decimal(15,2)) * 100 as bigint)"))
      .collect().map(_.getLong(0))
    val digits = cents.map { c => var n = c; while (n >= 10) n /= 10; n }
    val want = digits.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r.getAs[Long]("digit") -> r.getAs[Long]("n")).toMap == want)
    val total = cents.length.toLong
    rows.foreach { r =>
      val obs = 1000L * r.getAs[Long]("n") / total
      assert(r.getAs[Long]("obs_pm") == obs)
      assert(r.getAs[Long]("benford_pm") == benford(r.getAs[Long]("digit").toInt))
      assert(r.getAs[Long]("dev_pm") == math.abs(obs - benford(r.getAs[Long]("digit").toInt)))
    }
  }

  test("skew audit: every column recounts from driver-side frequencies, salt bound holds") {
    val rows = graft.operators.Analytics.qSkewAudit.fn(spark, sfDir).collect()
    assert(rows.length == 3)
    def freqs(df: org.apache.spark.sql.DataFrame, key: String): Seq[(Long, Long)] =
      df.groupBy(col(key).cast("long").as("k")).count().collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[Long]("count")).toSeq
    val byTag = Map(
      "lineitem.l_suppkey" -> freqs(Tables.lineitem(spark, sfDir), "l_suppkey"),
      "events.user_id" -> freqs(Tables.events(spark, sfDir), "user_id"),
      "orders.o_custkey" -> freqs(Tables.orders(spark, sfDir), "o_custkey"))
    rows.foreach { r =>
      val f = byTag(r.getAs[String]("key_col"))
      val n = f.map(_._2).sum; val keys = f.size.toLong; val mx = f.map(_._2).max
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_keys") == keys)
      assert(r.getAs[Long]("max_key_rows") == mx)
      // p99 = the frequency at 1-based position ceil(0.99*keys) of the
      // (count, key) total order
      val pos = math.ceil(0.99 * keys).toLong.toInt
      val p99 = f.sortBy(identity).map(_._2).sorted.apply(pos - 1)
      val p99ByOrder = f.sortBy { case (k, c) => (c, k) }.apply(pos - 1)._2
      assert(r.getAs[Long]("p99_key_rows") == p99ByOrder && p99 == p99ByOrder)
      assert(r.getAs[Long]("mean_rows_pm") == 1000L * n / keys)
      assert(r.getAs[Long]("skew_pm") ==
        (BigInt(1000) * mx * keys / n).toLong)
      val salt = r.getAs[Long]("salt_factor")
      assert(salt == math.max(1L, (32L * mx + n - 1) / n))
      // the bound the recommendation promises: after an s-way split the
      // heaviest key holds no more than n/32 rows (ceiling arithmetic)
      assert((mx + salt - 1) / salt <= (n + 31) / 32)
    }
  }
}
