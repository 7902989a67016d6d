package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions.{col, sort_array}

class DedupSimilaritySpec extends SparkSpec {

  test("minhash LSH recalls the length-banded jaccard truth pairs") {
    def pairs(q: GraftQuery): Set[(Long, Long)] =
      q.fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val truth = pairs(Dedup.dNgramJaccard)
    val lsh = pairs(Dedup.dMinhashLsh)
    assert(truth.nonEmpty, "expected injected near-dups at sf0.001")
    // at j >= 0.8 with 8 bands x 4 rows, recall should be total
    assert(truth.subsetOf(lsh) && lsh.subsetOf(truth),
      s"minhash=${lsh.size} truth=${truth.size} missed=${truth -- lsh} extra=${lsh -- truth}")
  }

  test("simhash (60-bit, hamming<=3) is the high-precision screen: pairs are true near-dups, the most-identical pair is caught") {
    val simRows = Dedup.dSimhash.fn(spark, sfDir).collect()
    val sim = simRows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(sim.nonEmpty, "simhash found no pairs")
    simRows.foreach(r => assert(r.getAs[Long]("hamming") <= 3))
    // an identical shingle set fingerprints identically: hamming 0
    // regardless of bit width (the exact-dup guarantee, even though
    // this corpus holds only PERTURBED near-dups)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val hs = Array(17L, 23L, 99L, 1234567L)
    assert(graft.plans.GraftRuntime.simHash(new GenericArrayData(hs), Dedup.SimBits) ==
      graft.plans.GraftRuntime.simHash(new GenericArrayData(hs.reverse), Dedup.SimBits))
    // PRECISION (the operating point of the r14 60-bit rewrite):
    // hamming <= 3 of 60 means ~95% remixed-bit agreement — every
    // returned pair sits inside the exact j >= 0.8 truth set
    val truthRows = Dedup.dNgramJaccard.fn(spark, sfDir).collect()
    val truth = truthRows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val impostors = sim -- truth
    assert(impostors.isEmpty,
      s"simhash pairs outside the j>=0.8 truth: ${impostors.take(5)}")
    // RECALL at the operating point: the single most-identical truth
    // pair (max exact jaccard) must be within the screen's band
    val top = truthRows.maxBy(_.getAs[Double]("jaccard"))
    val topPair = (top.getAs[Long]("doc_a"), top.getAs[Long]("doc_b"))
    assert(sim.contains(topPair),
      s"screen missed the most-identical pair $topPair (j=${top.getAs[Double]("jaccard")})")
  }

  test("GraftRuntime simhash bit-remix constants equal GraftHash.perms (the oracle embeds the same literals)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // a fingerprint computed with perms-constants in pure scala must
    // equal the runtime kernel for random shingle sets
    val rnd = new scala.util.Random(1407)
    val P = graft.functions.GraftHash.P
    val perms = graft.functions.GraftHash.perms(Dedup.SimBits)
    (1 to 20).foreach { _ =>
      val hs = Array.fill(1 + rnd.nextInt(40))(rnd.nextLong().abs % P)
      val want = perms.zipWithIndex.foldLeft(0L) { case (acc, ((a, b), i)) =>
        val cnt = hs.map(h => if (2L * ((a * h + b) % P) > P) 1L else -1L).sum
        if (cnt > 0) acc | (1L << i) else acc
      }
      val got = graft.plans.GraftRuntime.simHash(
        new GenericArrayData(hs), Dedup.SimBits)
      assert(got == want, s"remix mismatch on ${hs.take(5).toSeq}...")
    }
  }

  test("minhash calibration: estimator tracks exact jaccard within theory, identical docs read 1000pm exactly") {
    val rows = Dedup.dMinhashCalibration.fn(spark, sfDir).collect()
    assert(rows.nonEmpty, "corpus must hold truth pairs to calibrate on")
    rows.foreach { r =>
      val (n, est, tru, err) = (r.getAs[Long]("n_pairs"),
        r.getAs[Long]("mean_est_pm"), r.getAs[Long]("mean_true_pm"),
        r.getAs[Long]("mean_abs_err_pm"))
      assert(n > 0 && est >= 0 && est <= 1000 && tru >= 800 && tru <= 1000)
      // Broder: sd of a k=32 estimate at j~0.9 is ~sqrt(.9*.1/32) ~ 53pm;
      // a mean |err| beyond ~4 sd across a bucket means the signature
      // or the SQL twin drifted, not sampling noise
      assert(err <= 220, s"bucket ${r.getAs[Long]("bucket")}: mean|err| $err pm")
      // mean est must sit near mean truth (bias bounded the same way)
      assert(math.abs(est - tru) <= 220,
        s"bucket ${r.getAs[Long]("bucket")}: est $est vs true $tru")
    }
    // exact duplicates (the injected dup class) estimate 1000pm exactly:
    // identical shingle sets minhash to identical signatures
    val top = rows.filter(_.getAs[Long]("bucket") == 3L)
    assert(top.nonEmpty, "the 950-1000pm bucket must be populated at test SF")
    // driver-model cross-check on a synthetic identical pair: every
    // component matches, est_pm = 1000 with zero error
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val sh = graft.api.Graft.dedup.shingleSets(docs, "doc_id", "text")
    val sig = graft.api.Graft.dedup.signatures(sh, Dedup.K)
      .select("doc_id", "sig").collect().map(r =>
        r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L), "identical docs must carry identical signatures")
    assert(sig(1L).size == Dedup.K)
  }

  test("exact dedup accounting is consistent") {
    val rows = Dedup.dExactDup.fn(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_unique") + r.getAs[Long]("dup_rows"))
    }
  }

  test("brute-force ANN returns exactly top-k ranked neighbors per query") {
    val rows = Similarity.sAnnBruteforce.fn(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 16)
    byQ.foreach { case (_, rs) =>
      assert(rs.length == 5)
      val cos = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN neighbors are a subset of each query's bucket, ranked consistently") {
    val lsh = Similarity.sAnnLsh.fn(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    lsh.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val cos = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("PQ ANN returns top-k per query with non-negative ascending distances") {
    val rows = Similarity.sAnnPq.fn(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 16)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5)
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), "self must be excluded")
      val d = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("adist"))
      assert(d.forall(_ >= 0.0))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b }, "ADC distances ascend with rank")
    }
  }

  test("embedding near-dup returns 20 closest LSH-candidate pairs, descending") {
    val df = Similarity.dEmbedNeardup.fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 20)
    val cos = rows.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // the blocking must be an equi-join on bucket, never a nested-loop
    // over the corpus product
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs nested loop in d_embed_neardup:\n$plan")
  }

  test("embedding near-dup LSH recalls the brute-force closest pairs") {
    import org.apache.spark.sql.functions._
    import graft.functions.Vectors
    val n = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val a = n.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    val truth = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.dEmbedNeardup.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recalled = (truth intersect lsh).size
    // This corpus has NO injected vector near-dups (max pair cosine
    // ~0.5, i.e. ~61 deg): at that angle each of the 6 planes agrees
    // with p ~ 0.66, so hamming<=1 recall per pair is only ~1/3 — the
    // deterministic planes give exactly 7/20 here. At the cosine>=0.9
    // pairs the operator exists for, per-pair recall is >0.98. The
    // assertion pins the deterministic lower bound, not a target.
    assert(recalled >= 6, s"hamming<=1 probes recalled only $recalled of ${truth.size}")
  }

  test("partitioned IVF equals the join-form IVF and partition-prunes the cell scan") {
    val joinForm = Similarity.sAnnIvf.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
      .toSet
    val df = Similarity.sAnnIvfPartitioned.fn(spark, sfDir)
    val part = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
      .toSet
    assert(part == joinForm,
      s"missing=${(joinForm -- part).take(3)} extra=${(part -- joinForm).take(3)}")
    // a probe must read partitions, not the corpus: the cell scan
    // carries a dynamic partition pruning filter on cid
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"cell scan not dynamically partition-pruned:\n$plan")
  }

  test("knn graph reads the persisted cell layout and a single cell is partition-pruned") {
    import org.apache.spark.sql.functions._
    val g = Similarity.sKnnGraph.fn(spark, sfDir).collect()
    assert(g.nonEmpty)
    // the graph build provisioned the cell-partitioned layout
    val path = graft.operators.Lake.layoutPath("knn_cells", sfDir)
    val layout = spark.read.parquet(path)
    assert(layout.count() == Tables.embeddings(spark, sfDir).count(),
      "every vector must be in exactly one cell of the layout (no drops)")
    // the per-cell incremental path: one cell reads ONE partition dir
    val someCid = layout.select(col("cid")).head.get(0)
    val pruned = layout.filter(col("cid") === someCid)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("cid")),
      s"cid filter not pushed as a partition filter: ${scan.metadata}")
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil).length == 1,
      "cid filter should prune the partitioned scan to one dir")
  }

  test("filtered ANN: every neighbor satisfies the predicate; pre-filter beats post-filter") {
    import org.apache.spark.sql.functions._
    val allowed = Tables.embeddings(spark, sfDir)
      .filter(col("label") < 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.sAnnFiltered.fn(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(allowed.contains(r.getAs[Long]("neighbor_id")),
        s"neighbor ${r.getAs[Long]("neighbor_id")} violates the label filter")
      assert(r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 5)
    }
    // pre-filtering must surface neighbors post-filtering would lose:
    // some filtered result is NOT in the unfiltered IVF top-k at all
    val unfiltered = Similarity.sAnnIvf.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val filteredPairs = got.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert((filteredPairs -- unfiltered).nonEmpty,
      "filtered search found nothing beyond post-filtering the unfiltered top-k")
  }

  test("multimodal feature pairs block on LSH buckets, never nested-loop") {
    val df = graft.operators.Multimodal.mFeaturePairs.fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 20)
    val cos = rows.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs nested loop in m_feature_pairs:\n$plan")
  }

  test("fpPlaneCount targets ~64 docs/bucket: clamped, monotone, power-of-two exact") {
    import graft.operators.Multimodal.{fpPlaneCount, FpPlanesMax}
    // floor of the clamp: tiny corpora still split into 16 buckets
    assert(Seq(0L, 1L, 64L, 1024L).map(fpPlaneCount) == Seq(4, 4, 4, 4))
    // exact at power-of-two bucket counts: n = 64 * 2^p needs exactly p planes
    (4 to FpPlanesMax).foreach { p =>
      assert(fpPlaneCount(64L << p) == p, s"n=64*2^$p")
      assert(fpPlaneCount((64L << p) + 1) == math.min(p + 1, FpPlanesMax),
        s"one past n=64*2^$p must round up")
    }
    // ceiling of the clamp: plane count never exceeds the generated planes
    assert(fpPlaneCount(Long.MaxValue / 2) == FpPlanesMax)
    // monotone: more docs never means fewer planes
    val ns = (0 until 60).map(i => (1L << (i / 3)) + i % 3)
    ns.sorted.map(fpPlaneCount).sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, "fpPlaneCount not monotone")
      case _ =>
    }
  }

  test("incremental dedup via the stored band index equals the full-pairs formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val cut = docs.count() * 4 / 5
    // truth: full-corpus minhash pairs restricted to batch-side doc_b,
    // split by the earliest partner's side — the same semantics the
    // index path must reproduce while shingling only the batch
    val full = graft.api.Graft.dedup.minhashPairs(docs, "doc_id", "text",
        threshold = 0.8, k = Dedup.K, bands = Dedup.Bands)
      .filter(col("doc_b") >= cut)
      .groupBy(col("doc_b")).agg(min(col("doc_a")).as("mp"))
    val expCorpus = full.filter(col("mp") < cut).count()
    val expBatch = full.filter(col("mp") >= cut).count()
    val got = Dedup.dIncrementalDedup.fn(spark, sfDir)
      .agg(sum("n_dup_corpus"), sum("n_dup_batch"), sum("n_batch"), sum("n_kept"))
      .head()
    assert(got.getLong(0) == expCorpus && got.getLong(1) == expBatch,
      s"index path (${got.getLong(0)}, ${got.getLong(1)}) != full pairs ($expCorpus, $expBatch)")
    assert(got.getLong(2) == got.getLong(0) + got.getLong(1) + got.getLong(3))
    assert(expCorpus > 0, "degenerate: no batch-vs-corpus dups at this SF")
  }

  test("k-means Lloyd iteration conserves members and reports sane drift") {
    val rows = Similarity.sKmeans.fn(spark, sfDir).collect()
    assert(rows.length == 8)
    val corpus = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("size_seed")).sum == corpus,
      "seed assignment must partition the corpus")
    assert(rows.map(_.getAs[Long]("size_lloyd")).sum == corpus,
      "post-update assignment must partition the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_moved") <= r.getAs[Long]("size_lloyd"))
      val drift = r.getAs[Double]("drift_cos")
      // updated centroid is a mean of members assigned BY cosine to
      // the seed — it cannot be anti-correlated with the seed
      assert(drift > 0.0 && drift <= 1.0 + 1e-12, s"drift_cos $drift")
    }
    // the iteration must actually refine something at this SF
    assert(rows.map(_.getAs[Long]("n_moved")).sum > 0, "no vector moved")
  }

  test("k-means loop conserves members; iterate plans stay bounded across iterations") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.sKmeansLoop.fn(spark, sfDir).collect()
    graft.ScopedCache.releaseAll()
    assert(rows.nonEmpty && rows.length <= 8)
    val corpus = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus,
      "final assignment must partition the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("move_micro") >= 0L)
      assert(r.getAs[Double]("centroid_norm") > 0.0)
    }
    val e = Tables.embeddings(spark, sfDir)
    // ScopedCache materialization per iterate: the returned frame's
    // plan must NOT grow with iteration count (the g_pagerank
    // discipline this operator exists to demonstrate)
    def planSize(maxIter: Int): Int = {
      val df = graft.api.Graft.ann.kmeansCentroids(e, "vec_id", "embedding", 8, maxIter)
      val size = df.queryExecution.optimizedPlan.collect { case p => p }.length
      graft.ScopedCache.releaseAll()
      size
    }
    val s1 = planSize(1); val s3 = planSize(3)
    assert(s1 == s3, s"iterate plan grew with iterations: $s1 -> $s3")
    // an effectively-infinite tolerance stops after one iteration and
    // equals the maxIter=1 result exactly
    def snap(df: org.apache.spark.sql.DataFrame) = {
      val out = df.orderBy(col("cid")).collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("move_micro"),
          r.getAs[Double]("cnrm"))).toSeq
      graft.ScopedCache.releaseAll()
      out
    }
    val one = snap(graft.api.Graft.ann.kmeansCentroids(e, "vec_id", "embedding", 8, 1))
    val tol = snap(graft.api.Graft.ann.kmeansCentroids(
      e, "vec_id", "embedding", 8, 3, tolMicro = Long.MaxValue))
    assert(one == tol, "tolMicro=MAX must stop after the first iteration")
    // the loop refines: movement in iteration 3 is below iteration 1's
    val m1 = one.map(_._2).max
    val m3 = rows.map(_.getAs[Long]("move_micro")).max
    assert(m3 < m1, s"no convergence signal: iter1 max move $m1, iter3 $m3")
  }

  test("semdedup prunes exactly the docs with a lower-id >theta cluster-mate") {
    val rows = Similarity.dSemdedup.fn(spark, sfDir).collect()
    val corpus = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("members")).sum == corpus)
    rows.foreach { r =>
      assert(r.getAs[Long]("members") ==
        r.getAs[Long]("n_pruned") + r.getAs[Long]("n_kept"))
    }
    assert(rows.map(_.getAs[Long]("n_pruned")).sum > 0,
      "degenerate: nothing pruned at this SF")
    assert(rows.map(_.getAs[Long]("n_kept")).sum > 0, "pruned everything")
  }

  test("semdedup K-scaling: scaled K keeps candidates linear as the corpus doubles") {
    import org.apache.spark.sql.functions._
    import graft.api.Graft
    val e1 = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val n1 = e1.count()
    val e2 = e1.union(e1.select((col("vec_id") + n1 * 2).as("vec_id"), col("embedding")))
    val target = 32L // target cluster size: K = N / target
    def k(n: Long): Int = math.max(2L, n / target).toInt
    // within-cluster candidate-pair accounting for a clustering
    def pairStats(e: org.apache.spark.sql.DataFrame, kk: Int): (Long, Long) = {
      val sizes = Graft.ann.kmeansOnce(e, "vec_id", "embedding", kk)
        .groupBy(col("cid")).count().collect().map(_.getLong(1))
      graft.ScopedCache.releaseAll()
      (sizes.max, sizes.map(m => m * (m - 1) / 2).sum)
    }
    val (max1, pairs1) = pairStats(e1, k(n1))
    val (max2, pairs2) = pairStats(e2, k(n1 * 2))
    // K scaled with the corpus: total candidate pairs grow ~linearly
    // (<= 3x on a doubling), never quadratically
    assert(pairs2 <= 3 * pairs1,
      s"scaled-K pairs grew superlinearly: $pairs1 -> $pairs2")
    assert(max2 <= 3 * max1, s"max cluster blew up: $max1 -> $max2")
    // the fixed-K counterfactual the demo entry documents: same
    // doubling under a FIXED K grows pair counts ~quadratically
    val (_, fixed1) = pairStats(e1, 8)
    val (_, fixed2) = pairStats(e2, 8)
    assert(fixed2 >= 3 * fixed1,
      s"fixed-K contrast lost: $fixed1 -> $fixed2 (expected ~4x)")
    assert(pairs2 < fixed2, "scaled K must beat fixed K on the doubled corpus")
    // the full prune over the scaled-K clustering stays green and
    // partitions the corpus into pruned + kept
    val pr = Graft.ann.semanticPrune(e2, "vec_id", "embedding", k(n1 * 2), Similarity.SemTheta)
      .collect()
    graft.ScopedCache.releaseAll()
    assert(pr.length == n1 * 2)
    assert(pr.count(_.getAs[Boolean]("pruned")) > 0,
      "doubled corpus contains exact duplicates; prune must flag some")
    // cell-partitioned layout: each cluster's members land in one
    // partition dir, so a per-cluster pair pass reads ONE directory
    val path = graft.operators.Lake.scratch("semdedup_cells")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val cl = Graft.ann.kmeansLoop(e2, "vec_id", "embedding", k(n1 * 2), 1)
    e2.join(cl.withColumnRenamed("vec_id", "cvid"), col("vec_id") === col("cvid"))
      .select(col("vec_id"), col("embedding"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    graft.ScopedCache.releaseAll()
    val layout = spark.read.parquet(path)
    val someCid = layout.select(col("cid")).head.getAs[Number](0).longValue()
    val pruned = layout.filter(col("cid") === someCid)
    // static partition pruning: the scan's selected partition count
    // (executed-plan FileSourceScan) must collapse to 1 of K dirs
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val selected = scan.metadata.get("PartitionFilters")
    assert(selected.exists(_.contains("cid")),
      s"cid filter not pushed as a partition filter: ${scan.metadata}")
    assert(pruned.count() < layout.count(),
      "one cell must be a strict subset of the corpus")
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.size).sum < layout.inputFiles.length,
      "cid filter should prune the partitioned scan to one dir")
  }

  test("index scoreboard agrees with s_ann_recall and ranks re-rank above raw PQ") {
    val rows = Similarity.sIndexScoreboard.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("n_possible"), r.getAs[Double]("recall")))
      .toMap
    assert(rows.keySet == Set("ivf", "lsh", "pq", "rerank", "ivf_sq8", "graph"))
    // quantization can only lose hits vs the same blocking at full
    // precision — SQ8 recall is bounded by raw IVF's
    assert(rows("ivf_sq8")._1 <= rows("ivf")._1,
      s"sq8 ${rows("ivf_sq8")._1} > ivf ${rows("ivf")._1}")
    rows.values.foreach { case (h, p, rec) =>
      assert(p == 80L, "16 queries x top-5")
      assert(h >= 0 && h <= p && rec >= 0.0 && rec <= 1.0)
    }
    // re-ranking a PQ shortlist by exact cosine can only improve recall
    assert(rows("rerank")._1 >= rows("pq")._1,
      s"re-rank ${rows("rerank")._1} < raw PQ ${rows("pq")._1}")
    // the lsh row must total exactly what s_ann_recall reports per query
    val lshHits = Similarity.sAnnRecall.fn(spark, sfDir).collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(rows("lsh")._1 == lshHits,
      s"scoreboard lsh ${rows("lsh")._1} != s_ann_recall sum $lshHits")
  }

  test("incremental dedup provisioning is idempotent: second run reuses the index") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Dedup.dIncrementalDedup.fn(spark, sfDir).count()
    val root = new org.apache.hadoop.fs.Path(
      graft.operators.Lake.layoutPath("band_index", sfDir))
    def sig(): Long = fs.listStatus(new org.apache.hadoop.fs.Path(root, "bands"))
      .map(st => st.getModificationTime + st.getLen).sum
    val before = sig()
    Dedup.dIncrementalDedup.fn(spark, sfDir).count()
    assert(sig() == before, "unchanged source must not rewrite the band index")
  }

  test("substring dup: window-over-key formulation equals the groupBy-join one") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.dSubstringDup.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("dup_ngrams") <= r.getAs[Long]("total_ngrams"))
    }
    // independent formulation: per-key counts via groupBy, joined back
    val k = graft.operators.Dedup.SubNgram
    val gr = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (k - 1), lit(1))).as("i"), col("t"))
      .select(col("doc_id"),
        graft.functions.GraftHash.charHash(
          array_join(slice(col("t"), col("i"), lit(k)), " ")).as("key"))
    val kc = gr.groupBy(col("key")).agg(count(lit(1)).as("c"))
    val totals = gr.join(kc, "key")
      .agg(count(lit(1)).as("tot"), sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup"))
      .collect()(0)
    assert(rows.map(_.getAs[Long]("total_ngrams")).sum == totals.getAs[Long]("tot"))
    assert(rows.map(_.getAs[Long]("dup_ngrams")).sum == totals.getAs[Long]("dup"))
  }

  test("knn triangles: distributed count equals a driver-side recount of the edge set") {
    val rows = Similarity.gKnnTriangles.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // reconstruct the mutual edge set from s_knn_graph and recount
    // triangles by brute force on the (small) collected edges
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val triCount = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty[Long]).count(c => c > b && edges.contains((b, c)))
    }.sum
    assert(rows.map(_.getAs[Long]("n_triangles")).sum == triCount.toLong,
      s"distributed=${rows.map(_.getAs[Long]("n_triangles")).sum} driver=$triCount")
    assert(rows.map(_.getAs[Long]("n_mutual_edges")).sum == edges.size.toLong)
  }

  test("knn graph: degrees bounded by k, mutual edges are exactly the reciprocal pairs") {
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"), "edges must be canonical a<b")
      val nd = r.getAs[Long]("n_dir")
      assert(nd == 1L || nd == 2L)
      assert((nd == 2L) == (r.getAs[Long]("mutual") == 1L))
    }
    // undirected degree from the symmetric edge list: a node sources
    // at most KnnK edges, so degree <= KnnK + times it was chosen by
    // others; but OUT-degree reconstructed from non-mutual + mutual
    // split cannot exceed KnnK
    val k = Similarity.KnnK
    val outDeg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      if (r.getAs[Long]("mutual") == 1L) { outDeg(a) += 1; outDeg(b) += 1 }
    }
    // mutual edges consume an out-slot at BOTH endpoints
    outDeg.foreach { case (n, d) =>
      assert(d <= k, s"node $n has $d mutual edges > k=$k")
    }
    // mutual count is symmetric by construction; cross-check one
    // endpoint pair against brute-force within the whole corpus:
    // every mutual pair must be each other's cell-mate (same cid)
    // which the oracle already enforces; here assert the mutual set
    // is nonempty on this corpus (reciprocal structure exists)
    assert(edges.exists(_.getAs[Long]("mutual") == 1L), "no reciprocal pairs found")
  }

  test("knn components equal a driver union-find over the mutual edge set") {
    val comps = Similarity.gKnnComponents.fn(spark, sfDir).collect()
    assert(comps.nonEmpty)
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    // independent closure: plain union-find over the collected edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.toSeq.groupBy(find).map { case (_, ms) =>
      (ms.min, ms.size.toLong)
    }.toMap
    assert(comps.length == expect.size,
      s"components: distributed=${comps.length} driver=${expect.size}")
    comps.foreach { r =>
      val c = r.getAs[Long]("component")
      assert(expect(c) == r.getAs[Long]("n_members"),
        s"component $c: members=${r.getAs[Long]("n_members")} expected ${expect(c)}")
      // label is the min member id by construction
      assert(find(c) == c)
    }
    // edge totals and cell-locality: edges partition across components
    assert(comps.map(_.getAs[Long]("n_edges")).sum == edges.length.toLong)
  }

  test("ivf+sq8: quantization error bounded by half a step, results well-formed") {
    // recompute the dequantized corpus locally and bound the roundtrip
    // error: midpoint reconstruction at step rng/255 guarantees
    // |x - xq| <= rng/510 per dimension (half a step), including the
    // clamped top code (midpoint overshoots max by exactly rng/510)
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = vecs.head._2.length
    val mn = (0 until dim).map(i => vecs.values.map(_(i)).min).toArray
    val mx = (0 until dim).map(i => vecs.values.map(_(i)).max).toArray
    vecs.values.take(100).foreach { v =>
      (0 until dim).foreach { i =>
        val rng = mx(i) - mn(i)
        if (rng > 0) {
          val code = math.min(math.floor((v(i) - mn(i)) * 255d / rng), 255d)
          val xq = mn(i) + (code + 0.5) * rng / 255d
          assert(math.abs(v(i) - xq) <= rng / 510d + 1e-12,
            s"dim $i: x=${v(i)} xq=$xq rng=$rng")
        }
      }
    }
    // the operator output: TopK rows per query, scores in [-1, 1]
    val rows = Similarity.sAnnIvfSq8.fn(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length),
        s"query $q ranks not dense")
      rs.foreach { r =>
        assert(math.abs(r.getAs[Double]("acos")) <= 1.0 + 1e-6,
          s"quantized cosine out of range: ${r.getAs[Double]("acos")}")
        assert(r.getAs[Long]("neighbor_id") != q)
      }
    }
  }

  test("knn hop profile equals a driver-side BFS from the same seeds") {
    val prof = Similarity.gKnnHops.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("hop") -> r.getAs[Long]("n_nodes")).toMap
    val g = Similarity.sKnnGraph.fn(spark, sfDir).collect()
    val mutual = g.filter(_.getAs[Long]("mutual") == 1L)
    // seeds: min edge endpoint per cell — reconstruct cells from the
    // component summary's cid (edges don't carry cid in the public
    // schema, components do and are cell-local)
    val comp = Similarity.gKnnComponents.fn(spark, sfDir).collect()
    // map each node to its component cell via union-find over edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    mutual.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      adj(a) ::= b; adj(b) ::= a
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cellOf = comp.map(r => r.getAs[Long]("component") -> r.getAs[Long]("cid")).toMap
    val nodes = adj.keys.toSeq
    val seeds = nodes.groupBy(n => cellOf(find(n))).values.map(_.min).toSet
    // driver BFS
    val hop = scala.collection.mutable.Map.empty[Long, Long]
    var frontier = seeds.toList.sorted
    frontier.foreach(n => hop(n) = 0L)
    var h = 1L
    while (frontier.nonEmpty && h <= Similarity.KnnBfsMaxHops) {
      frontier = frontier.flatMap(adj(_)).distinct.filterNot(hop.contains)
      frontier.foreach(n => hop(n) = h)
      h += 1
    }
    val expect = nodes.groupBy(n => hop.getOrElse(n, -1L))
      .map { case (k, v) => k -> v.size.toLong }
    assert(prof == expect, s"profile $prof vs driver $expect")
  }

  test("LSH recall scoreboard: counts cohere and the 8x4 row matches the production config") {
    val rows = graft.operators.Dedup.dLshRecall.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(4L, 8L, 16L))
    rows.foreach { r =>
      val (nc, nt, nr) = (r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_truth"), r.getAs[Long]("n_recalled"))
      assert(nr <= nt, "cannot recall more than the truth set")
      assert(nr <= nc, "recalled pairs are candidates")
      assert(r.getAs[Long]("recall_pm") <= 1000L)
      assert(r.getAs[Long]("bands") * r.getAs[Long]("rows_per_band") == 32L)
      assert(nt > 0L, "degenerate corpus: no exact near-dup pairs to score against")
    }
    // the b=8 row's recalled count IS the production config's verified
    // pair count (candidates ∩ truth = the d_minhash_lsh output)
    val prod = graft.operators.Dedup.dMinhashLsh.fn(spark, sfDir).count()
    val r8 = rows.find(_.getAs[Long]("bands") == 8L).get
    assert(r8.getAs[Long]("n_recalled") == prod,
      s"8x4 recalled ${r8.getAs[Long]("n_recalled")} but d_minhash_lsh verified $prod")
  }

  test("LSH auto-tuner: exactly one chosen row, and it is the rule's argmax over the scoreboard") {
    val rows = graft.operators.Dedup.dLshAutotune.fn(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(4L, 8L, 16L))
    assert(rows.map(_.getAs[Long]("chosen")).sum == 1L, "exactly one config chosen")
    // the board columns must equal d_lsh_recall's (same measurement)
    val board = graft.operators.Dedup.dLshRecall.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_recalled"))).toSet
    assert(rows.map(r => (r.getAs[Long]("bands"), r.getAs[Long]("n_candidates"),
      r.getAs[Long]("n_recalled"))).toSet == board)
    // driver-side re-application of the selection rule picks the same
    // row: among SLO-meeting configs efficiency decides; only the
    // nothing-meets fallback orders by raw recall
    val want = rows.sortBy { r =>
      val meets = r.getAs[Long]("recall_pm") >= 950L
      (-(if (meets) 1L else 0L),
        -(if (meets) r.getAs[Long]("efficiency_pm") else r.getAs[Long]("recall_pm")),
        r.getAs[Long]("n_candidates"), r.getAs[Long]("bands"))
    }.head.getAs[Long]("bands")
    val chosen = rows.find(_.getAs[Long]("chosen") == 1L).get
    assert(chosen.getAs[Long]("bands") == want)
    // the production 8x4 row costs exactly 1000 per-mille of itself
    val r8 = rows.find(_.getAs[Long]("bands") == 8L).get
    assert(r8.getAs[Long]("cost_vs_prod_pm") == 1000L)
    // meets_recall coheres with the recall column
    rows.foreach { r =>
      assert((r.getAs[Long]("meets_recall") == 1L) ==
        (r.getAs[Long]("recall_pm") >= 950L))
    }
  }

  test("knn clustering coefficient equals a driver-side recount of the edge set") {
    val rows = Similarity.gKnnClusteringCoeff.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val want = nbrs.collect { case (v, ns) if ns.size >= 2 =>
      val t = ns.toSeq.combinations(2).count { case Seq(x, y) =>
        edges.contains((math.min(x, y), math.max(x, y)))
      case _ => false
      }
      v -> (ns.size.toLong, t.toLong,
        2000L * t / (ns.size.toLong * (ns.size.toLong - 1)))
    }
    val got = rows.map(r => r.getAs[Long]("node") ->
      (r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Long]("coeff_pm"))).toMap
    assert(got == want,
      s"diff=${want.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }.take(3)}")
    rows.foreach(r => assert(r.getAs[Long]("coeff_pm") >= 0L &&
      r.getAs[Long]("coeff_pm") <= 1000L))
  }

  test("cross-source dup board: cells recount from the exact pair truth") {
    val rows = Dedup.dCrossSourceDup.fn(spark, sfDir).collect()
    val src = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val pairs = graft.api.Graft.dedup.exactJaccardPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (src(r.getLong(0)), src(r.getLong(1))))
      .map { case (a, b) => if (a <= b) (a, b) else (b, a) }
    val want = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
      r.getAs[Long]("n_pairs")).toMap == want)
    rows.foreach { r =>
      val expectCross = if (r.getAs[String]("src_a") == r.getAs[String]("src_b")) 0L else 1L
      assert(r.getAs[Long]("is_cross") == expectCross)
    }
    // board conserves the pair count
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
  }

  test("dedup impact: char masses reconcile with the kept-doc set and d_dedup_filter") {
    val rows = Dedup.dDedupImpact.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.col
    // doc counts must agree exactly with d_dedup_filter's board
    val filt = Dedup.dDedupFilter.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept")) == filt(src))
      assert(r.getAs[Long]("kept_chars") <= r.getAs[Long]("total_chars"))
      val rem = r.getAs[Long]("total_chars") - r.getAs[Long]("kept_chars")
      assert(r.getAs[Long]("removed_pm") == 1000L * rem / r.getAs[Long]("total_chars"))
    }
    // char conservation across the whole corpus
    val totChars = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum(col("n_chars"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("total_chars")).sum == totChars)
    // the corpus has dups, so some source actually loses mass
    assert(rows.exists(_.getAs[Long]("removed_pm") > 0L))
  }

  test("chunk dedup: rates recount from driver-rebuilt chunk fingerprints") {
    val rows = Dedup.dChunkDedup.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val (cw, cs) = (graft.operators.Curation.ChunkW, graft.operators.Curation.ChunkS)
    val chunks = Tables.documents(spark, sfDir)
      .select("source", "text").collect().flatMap { r =>
        val t = r.getString(1).split(" ", -1)
        val nCh = if (t.length <= cw) 1 else (t.length - cw + cs - 1) / cs + 1
        (0 until nCh).map(i =>
          (r.getString(0), t.slice(i * cs, i * cs + cw).mkString(" ")))
      }
    val freq = chunks.groupBy(_._2).view.mapValues(_.length).toMap
    val bySrc = chunks.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val cs0 = bySrc(src)
      val dup = cs0.count(c => freq(c._2) > 1).toLong
      assert(r.getAs[Long]("n_chunks") == cs0.length.toLong)
      assert(r.getAs[Long]("n_dup") == dup)
      assert(r.getAs[Long]("n_dup_fps") ==
        cs0.filter(c => freq(c._2) > 1).map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("dup_pm") == 1000L * dup / cs0.length)
    }
    // the synthetic corpus ships duplicate docs, so duplicate chunks exist
    assert(rows.map(_.getAs[Long]("n_dup")).sum > 0)
  }

  test("MMR rerank: greedy selection recomputes and actually diversifies") {
    val rows = Similarity.sMmrRerank.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val e = Tables.embeddings(spark, sfDir)
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      assert(rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("rank")).toSeq ==
        (1L to rs.length.toLong))
      // driver greedy replay over the same top-20 candidate set
      val qv = vecs(q)
      val cand = vecs.keys.filter(_ != q).map(id => id -> cos(qv, vecs(id))).toSeq
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.MmrCand)
      var selected = List(cand.head._1)
      while (selected.size < Similarity.MmrK) {
        val next = cand.filterNot(c => selected.contains(c._1))
          .map { case (id, rel) =>
            val m = selected.map(s => cos(vecs(id), vecs(s))).max
            (id, 0.7 * rel - 0.3 * m)
          }.minBy { case (id, s) => (-s, id) }._1
        selected = selected :+ next
      }
      assert(rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
        == selected, s"query $q greedy mismatch")
    }
    // diversification must differ from the plain top-k for >=1 query
    val plain = graft.api.Graft.ann.cosineTopK(e,
        e.filter(org.apache.spark.sql.functions.col("vec_id") < 16),
        "vec_id", "embedding", Similarity.MmrK)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq)
    assert(byQ.exists { case (q, rs) =>
      rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq != plain(q)
    }, "MMR never deviated from plain top-k — diversification is dead code")
  }

  test("graph-walk ANN: walk improves on its entry point and rediscovers true neighbors") {
    val rows = Similarity.sAnnGraph.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val vecs = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    var overlap = 0
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length.toLong))
      // cosines in the output are the true cosines of the visited nodes
      sorted.foreach { r =>
        val want = cos(vecs(q), vecs(r.getAs[Long]("neighbor_id")))
        assert(math.abs(r.getAs[Double]("cosine") - want) < 1e-9)
      }
      // the walk must at least match its coarse entry point (greedy
      // never moves to a worse node, and the entry is in the visited set)
      val entry = (0L until 8L).filter(_ != q)
        .map(c => cos(vecs(q), vecs(c))).max
      assert(sorted.head.getAs[Double]("cosine") >= entry - 1e-12)
      // recall accounting vs brute-force top-5
      val truth = vecs.keys.filter(_ != q).toSeq
        .sortBy(id => (-cos(vecs(q), vecs(id)), id)).take(5).toSet
      overlap += sorted.map(_.getAs[Long]("neighbor_id")).count(truth)
    }
    // a navigating walk must beat zero recall across the query set
    assert(overlap > 0, "graph walk found no true top-5 neighbor for any query")
  }

  test("modularity: contributions recount from labeled edges and sum strongly positive") {
    val rows = Similarity.gKnnModularity.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val m = rows.map(_.getAs[Long]("degree_mass")).sum / 2
    assert(m > 0)
    // degree mass conserves: sum(d_c) = 2m; intra edges <= all edges
    rows.foreach { r =>
      val (ec, dc) = (r.getAs[Long]("intra_edges"), r.getAs[Long]("degree_mass"))
      assert(ec >= 0 && 2 * ec <= dc, "intra degree cannot exceed total degree")
      assert(r.getAs[Long]("contribution_pm") ==
        1000L * (4 * m * ec - dc * dc) / (4 * m * m))
    }
    // semantic labels on a semantic graph must beat the random-graph
    // null model decisively (total modularity strongly positive)
    val total = rows.map(_.getAs[Long]("contribution_pm")).sum
    assert(total > 100L, s"total modularity $total permille is not meaningfully positive")
  }

  test("conductance: cut mass reconciles exactly with the modularity census") {
    val rows = Similarity.gKnnConductance.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val mod = Similarity.gKnnModularity.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("intra_edges"), r.getAs[Long]("degree_mass"))).toMap
    val m = rows.map(_.getAs[Long]("degree_mass")).sum / 2
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (cut, dc) = (r.getAs[Long]("cut_edges"), r.getAs[Long]("degree_mass"))
      // cut(S) = vol(S) - 2*intra(S): the same labeled-edge frame seen
      // through both lenses must agree exactly
      val (ec, dcMod) = mod(lang)
      assert(dc == dcMod, s"$lang: degree mass disagrees with modularity")
      assert(cut == dc - 2 * ec, s"$lang: cut != degree_mass - 2*intra")
      val denom = math.min(dc, 2 * m - dc)
      val expected = if (denom > 0) 1000L * cut / denom else 0L
      assert(r.getAs[Long]("conductance_pm") == expected)
      assert(cut >= 0 && r.getAs[Long]("conductance_pm") <= 1000L)
    }
    // a semantically clustered graph has at least one tight community
    assert(rows.map(_.getAs[Long]("conductance_pm")).min < 500L,
      "every community leaks more than half its volume")
  }

  test("centroid separation: a pair recomputes from driver micro-unit centroids") {
    val rows = Similarity.sCentroidSeparation.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("label")).distinct().count()
    assert(rows.length == labels * (labels - 1) / 2, "one row per ordered pair")
    rows.foreach(r => assert(math.abs(r.getAs[Double]("centroid_cos")) <= 1.0))
    // driver recompute of the (0, 1) pair with the same 1e10 micro-unit
    // discipline and the same left-fold dot
    val vecs = Tables.embeddings(spark, sfDir)
      .select("label", "embedding").collect()
      .map(r => r.getAs[Int]("label").toLong ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
    def centroid(lbl: Long): Array[Double] = {
      val vs = vecs.filter(_._1 == lbl).map(_._2)
      val dim = vs.head.length
      Array.tabulate(dim) { i =>
        val micro = vs.map(v => java.math.BigDecimal.valueOf(v(i) * 1e10)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact).sum
        micro.toDouble / (vs.length.toDouble * 1e10)
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val (c0, c1) = (centroid(0L), centroid(1L))
    val want = dot(c0, c1) / (math.sqrt(dot(c0, c0)) * math.sqrt(dot(c1, c1)))
    val got = rows.find(r => r.getAs[Long]("label_a") == 0L &&
      r.getAs[Long]("label_b") == 1L).get.getAs[Double]("centroid_cos")
    assert(got == want, s"pair (0,1): $got != driver $want")
    val n0 = vecs.count(_._1 == 0L)
    assert(rows.find(r => r.getAs[Long]("label_a") == 0L).get
      .getAs[Long]("n_a") == n0)
  }

  test("label propagation: board conserves seeds and hops actually propagate") {
    val rows = Similarity.gKnnLabelProp.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.col
    // seed census recounts directly
    val seeds = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 5 === 0).select(col("vec_id"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seeds") == seeds(r.getAs[String]("lang")))
      assert(r.getAs[Long]("n_labeled") == r.getAs[Long]("n_seeds") +
        r.getAs[Long]("n_hop1") + r.getAs[Long]("n_hop2"))
    }
    // propagation is not dead code: both hops label someone somewhere
    assert(rows.map(_.getAs[Long]("n_hop1")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_hop2")).sum > 0)
    // no node is ever labeled twice: total labeled <= graph nodes + seeds
    val total = rows.map(_.getAs[Long]("n_labeled")).sum
    val nVecs = Tables.embeddings(spark, sfDir).count()
    assert(total <= nVecs)
  }

  test("knn jaccard edges: per-edge SNN weight recomputes from a driver adjacency") {
    val rows = Similarity.gKnnJaccardEdges.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(rows.length == edges.size, "one output row per mutual edge")
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      val (na, nb) = (nbrs(a), nbrs(b))
      val common = (na & nb).size.toLong
      val union = (na.size - 1) + (nb.size - 1) - common
      assert(r.getAs[Long]("deg_a") == na.size.toLong)
      assert(r.getAs[Long]("deg_b") == nb.size.toLong)
      assert(r.getAs[Long]("common") == common, s"edge ($a,$b)")
      val jac = if (union == 0) 0L else 1000L * common / union
      assert(r.getAs[Long]("jac_pm") == jac, s"edge ($a,$b)")
    }
  }

  test("nn-descent: new top-k matches a driver recompute over neighbor-of-neighbor candidates") {
    val rows = Similarity.sAnnNnDescent.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // undirected adjacency from the symmetric graph artifact
    val sym = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val nbrs = sym.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def dot(x: Array[Double], y: Array[Double]): Double =
      x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i)) // left fold = engine order
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    val bySrc = rows.groupBy(_.getAs[Long]("src"))
    assert(bySrc.keySet == nbrs.keySet, "one ranked list per graph node")
    bySrc.foreach { case (q, rs) =>
      val cand = (nbrs(q) ++ nbrs(q).flatMap(m => nbrs(m))) - q
      val expect = cand.toSeq
        .map(c => (c, cos(q, c)))
        .sortBy { case (c, s) => (-s, c) }
        .take(Similarity.KnnK)
      val got = rs.sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getAs[Long]("dst"), r.getAs[Double]("cosine"))).toSeq
      assert(got.map(_._1) == expect.map(_._1), s"node $q top-k mismatch")
      got.zip(expect).foreach { case ((_, g), (_, e)) => assert(g == e) }
      assert(rs.forall(r => Set(0L, 1L)(r.getAs[Long]("was_knn"))))
      assert(rs.count(_.getAs[Long]("was_knn") == 1L) <= Similarity.KnnK)
    }
  }

  test("knn mst: bounded Boruvka matches a driver simulation and stays within the Kruskal forest") {
    val rows = Similarity.gKnnMst.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // weighted mutual edges from the symmetric graph artifact (cosine
    // doubles are the engine's own, so the floor is bit-identical)
    val we = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        math.floor((1.0 - r.getAs[Double]("cosine")) * 1.0e12).toLong))
    val nodes = we.flatMap(e => Seq(e._1, e._2)).distinct
    // driver Boruvka: same bounded schedule
    var lab = nodes.map(n => n -> n).toMap
    val got = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("w"), r.getAs[Long]("round")))
    val chosenByRound = (1 to Similarity.MstRounds).map { r =>
      val el = we.filter(e => lab(e._1) != lab(e._2))
      val inc = el.flatMap { case (a, b, w) =>
        Seq((lab(a), w, a, b, lab(b)), (lab(b), w, a, b, lab(a))) }
      val ch = inc.groupBy(_._1).map { case (_, es) => es.minBy(e => (e._2, e._3, e._4)) }
      val p0 = lab.values.toSet.map((c: Long) =>
        c -> ch.find(_._1 == c).map(_._5).getOrElse(c)).toMap
      val p1 = p0.map { case (c, p) =>
        c -> (if (p0(p) == c && c < p) c else p) }
      val jumped = (1 to Similarity.MstJumps).foldLeft(p1)((pj, _) =>
        pj.map { case (c, p) => c -> pj(p) })
      lab = lab.map { case (n, l) => n -> jumped(l) }
      ch.map(e => (e._3, e._4, e._2)).toSet
    }
    // an edge re-chosen under a still-unflattened label keeps its
    // FIRST round (the engine collapses with MIN(round))
    val expect = scala.collection.mutable.Map[(Long, Long, Long), Long]()
    chosenByRound.zipWithIndex.foreach { case (ch, i) =>
      ch.foreach(e => if (!expect.contains(e)) expect(e) = (i + 1).toLong)
    }
    val gotMap = got.map(e => (e._1, e._2, e._3) -> e._4).toMap
    assert(got.length == gotMap.size, "one output row per forest edge")
    assert(gotMap == expect.toMap, "chosen-edge/min-round mismatch")
    // every output edge is a true MSF edge: Kruskal under (w, a, b)
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    val mst = scala.collection.mutable.Set[(Long, Long, Long)]()
    we.sortBy(e => (e._3, e._1, e._2)).foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; mst += ((a, b, w)) }
    }
    got.foreach { case (a, b, w, _) => assert(mst((a, b, w)), s"($a,$b) not in Kruskal MSF") }
  }

  test("cluster cut: each rung matches a driver union-find at the same threshold") {
    val rows = Similarity.gKnnClusterCut.fn(spark, sfDir).collect()
    assert(rows.length == Similarity.CutThresholdsPm.length)
    val we = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        math.floor((1.0 - r.getAs[Double]("cosine")) * 1.0e12).toLong))
    rows.foreach { r =>
      val t = r.getAs[Long]("thr_pm")
      val wMax = (1000L - t) * 1000000000L
      val kept = we.filter(_._3 <= wMax)
      val nodes = kept.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      kept.foreach { case (a, b, _) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val sizes = nodes.groupBy(find).map(_._2.length)
      assert(r.getAs[Long]("n_edges") == kept.length.toLong, s"thr $t edges")
      assert(r.getAs[Long]("n_nodes") == nodes.length.toLong, s"thr $t nodes")
      assert(r.getAs[Long]("n_clusters") == sizes.size.toLong, s"thr $t clusters")
      assert(r.getAs[Long]("max_size") == (if (sizes.isEmpty) 0L else sizes.max.toLong), s"thr $t max")
    }
    // the ladder is monotone: lower threshold keeps more edges, merges clusters
    val byThr = rows.sortBy(-_.getAs[Long]("thr_pm"))
    byThr.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi.getAs[Long]("n_edges") <= lo.getAs[Long]("n_edges"))
      assert(hi.getAs[Long]("max_size") <= lo.getAs[Long]("max_size"))
    }
  }

  test("assortativity: exact moment sums and rational r recompute from the adjacency") {
    val row = Similarity.gKnnAssortativity.fn(spark, sfDir).collect().head
    val edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val dp = edges.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = BigInt(dp.length)
    val sx = dp.map(p => BigInt(p._1)).sum
    val sxx = dp.map(p => BigInt(p._1) * p._1).sum
    val sxy = dp.map(p => BigInt(p._1) * p._2).sum
    assert(row.getAs[Long]("n_pairs") == n.toLong)
    assert(row.getAs[Long]("sum_deg") == sx.toLong)
    assert(row.getAs[Long]("sum_xy") == sxy.toLong)
    assert(row.getAs[Long]("sum_x2") == sxx.toLong)
    val den = n * sxx - sx * sx
    val expect = if (den == 0) BigInt(0) else (1000 * (n * sxy - sx * sx)) / den
    assert(row.getAs[Long]("r_pm") == expect.toLong)
  }

  test("knn kcore: bounded peel matches a driver-side peel of the same edges") {
    val rows = Similarity.gKnnKcore.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var edges = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val allEdges = edges.size.toLong
    for (_ <- 1 to Similarity.KcoreRounds) {
      val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (k, vs) => k -> vs.size }
      val alive = deg.filter(_._2 >= 2).keySet
      edges = edges.filter { case (a, b) => alive(a) && alive(b) }
    }
    val coreNodes = edges.flatMap { case (a, b) => Seq(a, b) }.size.toLong
    assert(rows.map(_.getAs[Long]("core_edges")).sum == edges.size.toLong)
    assert(rows.map(_.getAs[Long]("core_nodes")).sum == coreNodes)
    assert(rows.map(_.getAs[Long]("n_mutual_edges")).sum == allEdges)
    rows.foreach { r =>
      assert(r.getAs[Long]("core_nodes") <= r.getAs[Long]("n_nodes"))
      assert(r.getAs[Long]("core_edges") <= r.getAs[Long]("n_mutual_edges"))
    }
  }

  test("kcore/mst regime parity: explicitly pinned driver and distributed paths answer identically") {
    // ADVICE r16: the heap-derived default bound silently varies with
    // JVM heap flags, so a spec that MEANS to exercise a regime must
    // pin it. The sys-prop hooks force each path regardless of heap;
    // output must be regime-invariant by contract.
    def pinned(prop: String, v: Long)(body: => Array[org.apache.spark.sql.Row]) = {
      sys.props(prop) = v.toString
      try body finally sys.props.remove(prop)
    }
    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rows.map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val kDriver = pinned("graft.regime.kcoreBound", Long.MaxValue) {
      Similarity.gKnnKcore.fn(spark, sfDir).collect() }
    val kDist = pinned("graft.regime.kcoreBound", 0L) {
      Similarity.gKnnKcore.fn(spark, sfDir).collect() }
    assert(kDriver.nonEmpty && canon(kDriver) == canon(kDist),
      "kcore driver/distributed regime divergence")
    val mDriver = pinned("graft.regime.mstBound", Long.MaxValue) {
      Similarity.gKnnMst.fn(spark, sfDir).collect() }
    val mDist = pinned("graft.regime.mstBound", 0L) {
      Similarity.gKnnMst.fn(spark, sfDir).collect() }
    assert(mDriver.nonEmpty && canon(mDriver) == canon(mDist),
      "mst driver/distributed regime divergence")
  }

  test("reciprocity: per-cell census reconciles with the symmetric edge frame") {
    val rows = Similarity.gKnnReciprocity.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sym = Similarity.sKnnGraph.fn(spark, sfDir).collect()
    val totalDirected = sym.map(_.getAs[Long]("n_dir")).sum
    val totalMutual = sym.count(_.getAs[Long]("mutual") == 1L).toLong
    assert(rows.map(_.getAs[Long]("n_directed")).sum == totalDirected)
    assert(rows.map(_.getAs[Long]("n_mutual")).sum == totalMutual)
    rows.foreach { r =>
      val (d, m) = (r.getAs[Long]("n_directed"), r.getAs[Long]("n_mutual"))
      assert(2 * m <= d, "each mutual pair consumes two directed edges")
      assert(d <= r.getAs[Long]("n_nodes") * Similarity.KnnK,
        "a node emits at most K directed edges")
      assert(r.getAs[Long]("recip_pm") == 2000L * m / d)
      assert(r.getAs[Long]("recip_pm") <= 1000L)
    }
  }

  test("cross-modal dedup: pairs are modality-complete mutual edges, jaccard recomputes") {
    val rows = Similarity.mCrossModalDedup.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val mutual = Similarity.sKnnGraph.fn(spark, sfDir).collect()
      .filter(_.getAs[Long]("mutual") == 1L)
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("cosine"))
      .toMap
    val capSh = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        sort_array(graft.functions.Shingles.shingleHashes(col("text"))).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      assert(mutual.contains((a, b)), s"($a,$b) not a mutual edge")
      assert(a % 13 != 0 && b % 13 != 0, "asset modality filter")
      assert(capSh.contains(a) && capSh.contains(b), "caption modality filter")
      assert(r.getAs[Long]("cos_pm") == math.floor(1000 * mutual((a, b))).toLong)
      val (sa, sb) = (capSh(a), capSh(b))
      val jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(r.getAs[Long]("jac_pm") == math.floor(1000 * jac).toLong)
      assert(r.getAs[Long]("cross_dup") ==
        (if (mutual((a, b)) >= 0.95 && jac >= 0.5) 1L else 0L))
    }
    // every modality-complete mutual edge must appear — no silent drops
    val expected = mutual.keySet.filter { case (a, b) =>
      a % 13 != 0 && b % 13 != 0 && capSh.contains(a) && capSh.contains(b) }
    assert(rows.length == expected.size)
  }
}
