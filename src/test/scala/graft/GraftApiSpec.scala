package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The public facade works on arbitrary user frames, not just the
  * test schema. */
class GraftApiSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // near-dup of 1
      (3L, "one two three four five six seven"),
      (4L, "totally different content goes right here"),
      (5L, "alpha beta gamma delta epsilon zeta")   // exact dup of 1
    ).toDF("id", "body")
  }

  test("minhashPairs finds near and exact duplicates on a user frame") {
    val pairs = Graft.dedup.minhashPairs(docs, "id", "body", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), s"exact dup missed: $pairs")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 5L)), s"near dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "false positive on distinct doc")
  }

  test("dedupCorpus keeps one canonical per dup group and all singletons") {
    val kept = Graft.dedup.dedupCorpus(docs, "id", "body", threshold = 0.5)
      .collect().map(_.getAs[Long]("id")).toSet
    // {1,2,5} form one dup group at j>=0.5 (1 and 5 exact, 2 near) —
    // the canonical min id survives; 3 and 4 are singletons
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(4L), s"kept=$kept")
    assert(!kept.contains(5L), "exact dup should be removed")
    assert(!kept.contains(2L), "near dup should be removed")
    // re-running pair detection on the deduped corpus finds nothing
    val residual = Graft.dedup.minhashPairs(
      docs.filter(col("id").isInCollection(kept.toSeq)), "id", "body", threshold = 0.5)
    assert(residual.count() == 0, "dedupCorpus left residual near-dups")
  }

  test("exactStats accounts duplicates per group") {
    val stats = Graft.dedup.exactStats(docs.withColumn("g", lit("all")), "body", "g")
      .collect()(0)
    assert(stats.getAs[Long]("n_rows") == 5)
    assert(stats.getAs[Long]("n_unique") == 4)
    assert(stats.getAs[Long]("dup_rows") == 1)
  }

  test("cosineTopK ranks an obvious nearest neighbor first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vid", "vec")
    val top = Graft.ann.cosineTopK(vecs, vecs.filter(col("vid") === 1), "vid", "vec", 2)
      .orderBy(col("rank")).collect()
    assert(top(0).getAs[Long]("neighbor_id") == 2L)
    assert(top.length == 2)
  }

  test("quality score and fingerprint are usable as plain columns") {
    val scored = docs.select(
      Graft.text.fingerprint(col("body")).as("fp"),
      Graft.text.qualityScore(col("body")).as("q"),
      Graft.text.tokenCount(col("body")).as("n"))
      .collect()
    scored.foreach { r =>
      assert(r.getAs[Double]("q") >= 0 && r.getAs[Double]("q") <= 1.0)
      assert(r.getAs[Long]("fp") >= 0)
      assert(r.getAs[Int]("n") >= 5)
    }
  }

  test("lake helpers: orphans and contentSummary on user frames") {
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq((10L, 1L), (11L, 2L), (12L, 99L)).toDF("ck", "fk")
    assert(Graft.lake.orphans(child, parent, "fk", "pk").count() == 1)
    val summary = Graft.lake.contentSummary(
      docs.withColumn("sz", length(col("body"))), "sz").collect()(0)
    assert(summary.getAs[Long]("n_rows") == 5)
  }

  test("lake.compact writes at most n files without an exchange, same rows, one job") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.execution.exchange.Exchange
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val frag = graft.operators.Lake.scratch("compact_api/frag")
    val out = graft.operators.Lake.scratch("compact_api/out")
    fs.delete(new Path(graft.operators.Lake.scratch("compact_api")), true)
    Tables.events(spark, sfDir).repartition(12).write.parquet(frag)
    def parts(dir: String) =
      fs.listStatus(new Path(dir)).count(_.getPath.getName.endsWith(".parquet"))
    def sums(df: org.apache.spark.sql.DataFrame) =
      Graft.lake.groupChecksum(df, "props", "event_type").collect().map(_.toString).sorted.toSeq
    val in = graft.operators.Lake.readParquet(spark, frag)
    val compacted = Graft.lake.compact(in, 3)
    val plan = compacted.queryExecution.executedPlan
    assert(plan.collectFirst { case e: Exchange => e }.isEmpty && !plan.toString.contains("Exchange"),
      s"compaction planned an exchange:\n$plan")
    val (_, jobs) = org.apache.spark.SpecBus.jobsDuring(spark) {
      Graft.lake.compact(graft.operators.Lake.readParquet(spark, frag), 3)
        .write.mode("overwrite").parquet(out)
    }
    assert(jobs == 1, s"compact plus its write ran $jobs jobs")
    val back = spark.read.parquet(out)
    assert(parts(frag) == 12 && parts(out) <= 3, s"${parts(out)} files")
    assert(back.count() == in.count() && sums(back) == sums(in))
    // it only merges: asking for more files than the input holds
    val wider = graft.operators.Lake.scratch("compact_api/wider")
    Graft.lake.compact(back, 8).write.parquet(wider)
    assert(parts(wider) <= parts(out) && sums(spark.read.parquet(wider)) == sums(in))
  }

  test("dupClusters converges in O(log n) rounds on a 10k-node adversarial chain") {
    // a single chain 0-1-2-...-9999 is the worst case for plain label
    // propagation (O(n) rounds); pointer jumping must crush it.
    // Clear the pipeline memo first: lastClusterRounds is only written
    // by an EXECUTED run, and a memo hit would hand back labels from
    // an earlier computation without touching the diagnostic.
    Graft.dedup.clearPipelineCache()
    val chain = spark.range(9999)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // localThreshold = 0 forces the DISTRIBUTED loop — the regime the
    // rounds bound protects; the driver union-find path would trivially
    // pass.
    val labels = Graft.dedup.dupClusters(chain, maxIter = 30, localThreshold = 0L)
    val agg = labels.agg(
      count(lit(1)).as("n"), max(col("lbl")).as("maxl"), min(col("lbl")).as("minl"))
      .collect()(0)
    assert(agg.getAs[Long]("n") == 10000L, "every chain node must be labeled")
    assert(agg.getAs[Long]("maxl") == 0L && agg.getAs[Long]("minl") == 0L,
      "all labels must collapse to the chain minimum")
    assert(Graft.dedup.lastClusterRounds < 20,
      s"chain took ${Graft.dedup.lastClusterRounds} rounds — pointer jumping broken")
  }

  test("dupClusters driver union-find matches the distributed loop on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random edge set: multiple components,
    // cross-links, self-contained min ids
    val edges = (0 until 400).map { i =>
      val a = (i * 37 + 11) % 200
      val b = (i * 73 + 29) % 200
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(e => e._1 != e._2).toDF("doc_a", "doc_b")
    Graft.dedup.clearPipelineCache()
    val local = Graft.dedup.dupClusters(edges, localThreshold = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Graft.dedup.clearPipelineCache()
    val dist = Graft.dedup.dupClusters(edges, localThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == dist, "driver union-find and distributed propagation disagree")
    Graft.dedup.clearPipelineCache()
  }

  test("dupClusters distributed loop uses reliable checkpoints when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      Graft.dedup.clearPipelineCache()
      val chain = spark.range(100)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val labels = Graft.dedup.dupClusters(chain, localThreshold = 0L)
      assert(labels.agg(max(col("lbl"))).collect()(0).getLong(0) == 0L)
      // reliable checkpoint files must actually exist under the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally {
      // Clear BOTH the checkpoint dir config and the memoized labels:
      // later suites must not inherit a deleted checkpoint dir or a
      // frame whose lineage points into it.
      Graft.dedup.clearPipelineCache()
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shingleSets over a table rewritten in place serves the new content and releases the old") {
    import spark.implicits._
    val dir = graft.operators.Lake.scratch("regen_docs")
    def generation(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def shingles() = Graft.dedup.shingleSets(Tables.documents(spark, dir), "doc_id", "text")
    def cached(df: org.apache.spark.sql.DataFrame) = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    generation(Seq("the quick brown fox jumps", "over the lazy dog again"))
    val old = shingles()
    assert(old.count() == 2)
    val oldCache = cached(old).get
    assert(oldCache.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    generation(Seq("a b c", "d e f", "g h i", "j k l"))
    val fresh = shingles()
    assert(fresh.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L),
      "a rewritten table must not be served its earlier generation's shingles")
    assert(!cached(fresh).exists(_ eq oldCache))
    assert(!oldCache.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    assert(old.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the earlier generation's frame must be unpersisted, not leaked")
    assert(fresh.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    fresh.unpersist()
  }

  test("lake ACL transforms: chown/chmod respect their predicates, audit flags other-read") {
    import spark.implicits._
    val ns = Seq(("a", "ingest", "data", 640), ("b", "ingest", "data", 640))
      .toDF("path", "owner", "grp", "mode")
    val out = Graft.lake.permissionAudit(
        Graft.lake.chmod(
          Graft.lake.chown(ns, col("path") === "a", "web"),
          col("path") === "b", 644))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3), r.getBoolean(4))).toSet
    assert(out == Set(("a", "web", 640, false), ("b", "ingest", 644, true)))
    // owner-only chown over an owner-only manifest (no grp column):
    // must not reference the absent grp column (ADVICE r16)
    val slim = Seq(("a", "ingest", 640), ("b", "ingest", 640))
      .toDF("path", "owner", "mode")
    val slimOut = Graft.lake.chown(slim, col("path") === "a", "web")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(slimOut == Set(("a", "web"), ("b", "ingest")))
    // group-only chown leaves owner untouched and the owner column intact
    val gOut = Graft.lake.chown(ns, col("path") === "b", null, "analytics")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(gOut == Set(("a", "ingest", "data"), ("b", "ingest", "analytics")))
  }

  test("layout.zvalue matches the operator's Morton curve") {
    val r = spark.range(1).select(
      Graft.layout.zvalue(lit(2L), lit(2L)).as("z"),
      Graft.layout.zvalue(lit(5L), lit(3L)).as("z2")).head
    assert(r.getLong(0) == 12L)
    // z(5,3): 5=101b -> odd positions, 3=011b -> even: 100110b + 000101b... pinned:
    assert(r.getLong(1) == ((1L<<5) | (1L<<2) | (1L<<1) | (1L<<0)))
  }

  test("analytics.bloomMightContain never drops a joining key on any frame") {
    import spark.implicits._
    val dim = Seq(10L, 20L, 30L, 40L).toDF("k")
    val fact = spark.range(100).select(col("id").as("fk"))
    val filt = Graft.analytics.bloomMightContain(dim, "k", col("fk"))
    val kept = fact.filter(filt).collect().map(_.getLong(0)).toSet
    assert(Set(10L, 20L, 30L, 40L).subsetOf(kept), s"false negative: $kept")
  }

  test("analytics.skyline2D equals the NOT-EXISTS definition on a user frame") {
    import spark.implicits._
    val pts = Seq((1.0, 1L), (1.0, 5L), (2.0, 3L), (2.0, 7L), (3.0, 7L), (3.0, 9L))
      .toDF("cost", "gain")
    val got = Graft.analytics.skyline2D(pts, "cost", "gain")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSet
    assert(got == Set((1.0, 5L), (2.0, 7L), (3.0, 9L)))
  }

  test("graph.pagerankInt on a star graph ranks the hub highest") {
    import spark.implicits._
    // undirected star: hub 0 <-> leaves 1..5
    val e = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val pr = Graft.graph.pagerankInt(e, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(0L) > pr(1L), s"hub should outrank leaves: $pr")
    assert((1L to 5L).map(pr).toSet.size == 1, "leaves must tie exactly")
  }

  test("graph.pagerankInt gives sink nodes rank rows instead of dropping them") {
    import spark.implicits._
    // directed chain 1 -> 2 -> 3 plus 4 -> 3: node 3 is a pure sink
    val e = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val pr = Graft.graph.pagerankInt(e, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L), s"every node needs a rank row: $pr")
    // sources with no inbound mass sit at the teleport floor; the
    // sink absorbs inflow from two nodes and must rank above them
    assert(pr(1L) == 150000L && pr(4L) == 150000L, s"teleport floor: $pr")
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L), s"inflow must rank the sink highest: $pr")
  }

  private lazy val vecs = {
    import spark.implicits._
    // two tight groups around orthogonal axes + one lone vector
    Seq(
      (10L, Array(1.0, 0.02, 0.0)), (11L, Array(1.0, 0.05, 0.01)),
      (12L, Array(0.99, 0.0, 0.03)),
      (20L, Array(0.0, 1.0, 0.02)), (21L, Array(0.03, 1.0, 0.0)),
      (30L, Array(0.1, 0.1, 1.0))
    ).toDF("id", "emb")
  }

  test("kmeansOnce partitions a user frame; co-directional vectors share a cluster") {
    val asg = Graft.ann.kmeansOnce(vecs, "id", "emb", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg.keySet == Set(10L, 11L, 12L, 20L, 21L, 30L))
    assert(asg(10L) == asg(11L) && asg(11L) == asg(12L), s"x-axis group split: $asg")
    assert(asg(20L) == asg(21L), s"y-axis group split: $asg")
    assert(asg(10L) != asg(20L), s"orthogonal groups merged: $asg")
  }

  test("kmeansOnce/semanticPrune properties on a seeded random frame") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    val df = data.toDF("id", "emb")
    val asg = Graft.ann.kmeansOnce(df, "id", "emb", k = 4).collect()
    // a partition: every id exactly once, at most k clusters
    assert(asg.map(_.getLong(0)).sorted.toSeq == (0L until 40L))
    assert(asg.map(_.getLong(1)).distinct.length <= 4)
    // theta above the cosine range prunes nothing
    val none = Graft.ann.semanticPrune(df, "id", "emb", k = 4, theta = 1.01)
    assert(none.filter(col("pruned")).count() == 0)
    // theta below the range prunes everything but each cluster's min id
    val all = Graft.ann.semanticPrune(df, "id", "emb", k = 4, theta = -1.0).collect()
    val survivors = all.filter(!_.getBoolean(2)).map(r => r.getLong(1) -> r.getLong(0))
    val minPerCluster = all.groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).min)
    assert(survivors.length == minPerCluster.size,
      "with theta=-1 exactly one survivor per cluster")
    assert(survivors.toMap == minPerCluster.toMap,
      "with theta=-1 only each cluster's lowest id survives")
  }

  test("semanticPrune keeps the lowest id per semantic group, spares the loner") {
    val rows = Graft.ann.semanticPrune(vecs, "id", "emb", k = 2, theta = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!rows(10L), "lowest id of the x-group must survive")
    assert(rows(11L) && rows(12L), s"x-group near-dups must be pruned: $rows")
    assert(!rows(20L) && rows(21L), s"y-group: keep 20, prune 21: $rows")
    assert(!rows(30L), "the lone vector has no >theta mate and must survive")
  }

  test("bpeMerges surfaces the dominant adjacent pair of a user corpus") {
    val top = Graft.text.bpeMerges(docs, "body", topN = 5).collect()
    assert(top.length == 5)
    val weights = top.map(_.getAs[Long]("weight"))
    assert(weights.sameElements(weights.sorted.reverse))
    // "ta": beta x3 + delta x3 + zeta x2 + eta x1 + totally x1 = 10
    val m = top.map(r => r.getAs[String]("pair") -> r.getAs[Long]("weight")).toMap
    assert(m.get("ta").contains(10L), s"expected ta->10 in $m")
  }

  test("shuffleShards is a reproducible permutation with contiguous shard positions") {
    val a = Graft.text.shuffleShards(docs, "id", shards = 2).collect()
    val b = Graft.text.shuffleShards(docs, "id", shards = 2).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.map(_.getAs[Long]("read_ord")).distinct.length == a.length)
    a.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val ps = rs.map(_.getAs[Long]("pos")).sorted
      assert(ps.head == 1L && ps.last == ps.length.toLong)
    }
  }

  test("shuffleShards spreads RANGE-CLUSTERED ids across all shards (high-bit derivation)") {
    import spark.implicits._
    // contiguous id block — the exact case the r7 review flagged:
    // with shard = skey % shards (low bits of a power-of-two LCG),
    // 1000 consecutive ids would stripe as id mod 16 deterministically
    val ids = (100000L until 101000L).toDF("id")
    val byShard = Graft.text.shuffleShards(ids, "id", shards = 16)
      .groupBy("shard").count().collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("count")).toMap
    assert(byShard.keySet == (0L until 16L).toSet,
      s"contiguous ids must reach every shard: ${byShard.keySet.toSeq.sorted}")
    // balanced within 2x of uniform (1000/16 = 62.5)
    byShard.values.foreach(n => assert(n >= 31 && n <= 125,
      s"shard sizes unbalanced: $byShard"))
  }

  test("substringDupStats finds the repeated window across the dup docs") {
    // docs 1 and 5 are identical 6-token texts; with n=6 their single
    // window is shared (corpus count 2) while docs 3/4 are unique
    val st = Graft.dedup.substringDupStats(docs, "id", "body", n = 6)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"))).toMap
    assert(st(1L) == (1L, 1L) && st(5L) == (1L, 1L), s"dup pair missed: $st")
    assert(st(3L) == (2L, 0L), s"7-token unique doc must have 2 clean windows: $st")
    assert(st(4L) == (1L, 0L), s"unique doc flagged: $st")
  }

  test("knnGraph over caller centroids matches mutuality within cells") {
    val cents = Graft.ann.kmeansCentroids(vecs, "id", "emb", k = 2, maxIter = 2)
    val g = Graft.ann.knnGraph(vecs, "id", "emb", cents, k = 2).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
    }
    // the three co-directional x-axis vectors are mutual neighbors
    val mutualPairs = g.filter(_.getAs[Boolean]("mutual"))
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(mutualPairs.exists { case (x, y) => Set(10L, 11L, 12L).contains(x) && Set(10L, 11L, 12L).contains(y) },
      s"x-group mutual edge missing: $mutualPairs")
  }

  test("bfsHops: chain distances, cycle min-hop, cap, and unreachable absence") {
    import spark.implicits._
    // chain 1-2-3-4-5, cycle 10-11-12-10 (directed both ways), and an
    // isolated edge 20-21 never seeded
    val undirected = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L))
    val edges = undirected.toDF("src", "dst")
      .union(undirected.map(_.swap).toDF("src", "dst"))
    val seeds = Seq(1L, 10L).toDF("node")
    val hops = Graft.graph.bfsHops(edges, seeds, maxHops = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ScopedCache.releaseAll()
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      10L -> 0L, 11L -> 1L, 12L -> 1L), s"got $hops")
    // cap: from the chain head, node 5 is 4 hops out — a cap of 3
    // must drop it while keeping everything nearer
    val capped = Graft.graph.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ScopedCache.releaseAll()
    assert(capped == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), s"got $capped")
    // regime parity: forcing the DISTRIBUTED squaring path
    // (driverEdgeBound = 0) must answer identically to the driver
    // BFS the small-edge regime takes — same nodes, same min hops
    val distributed = Graft.graph.bfsHops(edges, seeds, maxHops = 12,
        driverEdgeBound = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ScopedCache.releaseAll()
    assert(distributed == hops, s"squaring path diverged: $distributed vs $hops")
  }
}
