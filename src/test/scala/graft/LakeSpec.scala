package graft

import graft.operators.{Lake, Multimodal}
import org.apache.spark.sql.functions.{col, lit}

class LakeSpec extends SparkSpec {

  test("every lake query runs and returns rows at sf0.001") {
    Lake.all.foreach { q =>
      val n = q.fn(spark, sfDir).count()
      assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("compaction reduces file count while preserving content") {
    Lake.lakeCompaction.fn(spark, sfDir).count() // materialize both layouts
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val frag = files(Lake.scratch("fragmented_events"))
    val comp = files(Lake.scratch("compacted_events"))
    assert(frag > comp, s"fragmented=$frag compacted=$comp")
    val orig = Tables.events(spark, sfDir).count()
    val after = spark.read.parquet(Lake.scratch("compacted_events")).count()
    assert(orig == after)
  }

  test("csv roundtrip preserves every order row bit-for-bit") {
    import org.apache.spark.sql.functions._
    Lake.lakeRoundtripCsv.fn(spark, sfDir).count() // writes scratch csv
    val orig = Tables.orders(spark, sfDir)
    val back = spark.read.schema(orig.schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(Lake.scratch("roundtrip_csv"))
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("xml roundtrip preserves every projected customer row bit-for-bit") {
    import org.apache.spark.sql.functions._
    Lake.lakeRoundtripXml.fn(spark, sfDir).count() // writes scratch xml
    val orig = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"))
    val back = spark.read.option("rowTag", "customer").format("xml")
      .load(Lake.scratch("roundtrip_xml"))
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"))
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("fsck reports zero orphans on the generated star schema") {
    val rows = Lake.lakeFsck.fn(spark, sfDir).collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.getAs[Long]("n_bad") == 0, r.getAs[String]("check_name")))
  }

  test("partitioned write prunes partitions at read") {
    val df = Lake.lakePartitionedWrite.fn(spark, sfDir)
    df.count()
    val dirs = new java.io.File(Lake.scratch("partitioned_orders")).listFiles()
      .filter(_.getName.startsWith("yr=")).map(_.getName).toSet
    assert(dirs.size > 1, s"expected multiple year partitions, got $dirs")
  }

  test("schema evolution: merged read backfills the widened column with NULLs") {
    Lake.lakeSchemaEvolution.fn(spark, sfDir).count() // writes both batches
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(Lake.scratch("evolving_orders"))
    assert(merged.columns.contains("o_orderpriority"), "widened schema expected")
    val legacy = merged.filter(col("o_orderpriority").isNull).count()
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")).count()
    assert(legacy == want, s"v1 rows should surface NULL: $legacy != $want")
  }

  test("analyze profiles every column in one expand pass, not per-column scans") {
    val df = Lake.lakeAnalyze.fn(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 4)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    assert(byCol("o_orderstatus").getAs[Long]("n_distinct") == 3)
    assert(rows.forall(_.getAs[Long]("n_nulls") == 0L))
    assert(rows.forall(r => r.getAs[Long]("n_rows") == Tables.orders(spark, sfDir).count()))
    // the multi-distinct aggregate must compile to ONE scan + expand
    // (count leaves on the optimized logical plan — the AQE physical
    // string duplicates the tree as Current/Initial plan copies)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected expand-based multi-distinct:\n$plan")
    assert(df.queryExecution.optimizedPlan.collectLeaves().length == 1,
      "profile must read the table exactly once")
  }

  test("multimodal stub decode emits deterministic per-asset features") {
    val a = Multimodal.mMultimodalMeta.fn(spark, sfDir).collect()
    val b = Multimodal.mMultimodalMeta.fn(spark, sfDir).collect()
    assert(a.length > 0 && a.map(_.toString).sameElements(b.map(_.toString)))
    a.foreach { r =>
      assert(r.getAs[Long]("checksum") >= 0 && r.getAs[Long]("checksum") < 997)
      assert(r.getAs[Double]("sample_mean") > 0)
    }
  }

  test("caption pairs: modality accounting conserves both tables and recounts directly") {
    val rows = Multimodal.mCaptionPairs.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.col
    val nCap = Tables.documents(spark, sfDir).filter(col("doc_id") % 11 =!= 0).count()
    val nAst = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 13 =!= 0).count()
    val pairs = rows.map(_.getAs[Long]("n_pairs")).sum
    val capOnly = rows.map(_.getAs[Long]("n_caption_only")).sum
    val astOnly = rows.map(_.getAs[Long]("n_asset_only")).sum
    // every caption and every asset lands in exactly one bucket
    assert(pairs + capOnly == nCap, s"caption side: $pairs+$capOnly != $nCap")
    assert(pairs + astOnly == nAst, s"asset side: $pairs+$astOnly != $nAst")
    // both orphan paths are actually exercised by the residue dropout
    assert(capOnly > 0 && astOnly > 0)
    // asset-only rows carry no language
    val noCap = rows.filter(_.getAs[String]("lang") == "no_caption")
    assert(noCap.length == 1 && noCap.head.getAs[Long]("n_asset_only") == astOnly)
    assert(noCap.head.getAs[Long]("n_pairs") == 0L)
  }

  test("binaryFile ingestion: source length metadata equals payload bytes, checksums match fingerprints") {
    val rows = Multimodal.mBinaryIngest.fn(spark, sfDir).collect()
    assert(rows.length == 20)
    // the length column is SOURCE metadata; it must equal the decoded
    // payload's byte count, and the checksum must match t_fingerprint
    // for the same doc (same parity hash over the same text)
    val fps = graft.operators.TextAnalysis.tFingerprint.fn(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("fp"), r.getAs[Long]("n"))).toMap
    rows.foreach { r =>
      val id = r.getAs[String]("file_name").stripPrefix("doc_").stripSuffix(".bin").toLong
      val (fp, n) = fps(id)
      assert(r.getAs[Long]("checksum") == fp, s"checksum mismatch for doc $id")
      assert(r.getAs[Long]("n_bytes") == n, s"byte length mismatch for doc $id (ASCII corpus)")
    }
  }

  test("scene cuts fire exactly on the cross-multiplied 5% rate shift") {
    val cuts = Multimodal.mSceneCuts.fn(spark, sfDir).collect()
    assert(cuts.nonEmpty, "no cuts on this corpus")
    cuts.foreach { r =>
      val (clen, nv) = (r.getAs[Long]("clen"), r.getAs[Long]("nv"))
      val (plen, pnv) = (r.getAs[Long]("plen"), r.getAs[Long]("pnv"))
      assert(20L * math.abs(nv * plen - pnv * clen) > clen * plen,
        "every emitted row must satisfy the cut predicate")
      assert(r.getAs[Long]("chunk_idx") >= 1, "chunk 0 has no predecessor")
    }
    // never fires on a length-only change: an identical rate at a
    // different length has |nv*plen - pnv*clen| == 0
    assert(cuts.forall { r =>
      r.getAs[Long]("nv") * r.getAs[Long]("plen") !=
        r.getAs[Long]("pnv") * r.getAs[Long]("clen")
    })
  }

  test("frame sampling: stride/phase arithmetic recounted from the source text") {
    val rows = Multimodal.mFrameSample.fn(spark, sfDir).collect()
    val texts = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val t = texts(id)
      val nf = (t.length + 7) / 8
      val idx = ((id % 3).toInt until nf by 3).toSeq
      val vals = idx.map(i => t.charAt(i * 8).toLong)
      assert(r.getAs[Long]("n_frames") == nf)
      assert(r.getAs[Long]("n_sampled") == idx.length)
      assert(r.getAs[Long]("checksum") == (if (idx.nonEmpty) vals.sum % 997 else 0L))
    }
    // all three phases occur, so sampling is genuinely unaligned
    assert(rows.map(r => r.getAs[Long]("doc_id") % 3).distinct.length == 3)
  }

  test("replica placement: no group ever holds all copies in one domain, so any single-domain loss leaves a survivor") {
    import graft.operators.Lake
    // the invariant the reference's 2nd-replica-off-rack rule exists
    // for, checked across many group names and domain counts
    for (nd <- 2 to 5) {
      val groups = (0 until 200).map(i => f"grp_$i%03d") ++
        Seq("de", "en", "es", "fr", "zh")
      val placed = Lake.placeReplicas(groups, nd)
      placed.foreach { case (g, a, b) =>
        assert(a != b, s"$g: both replicas in domain $a (nd=$nd)")
        assert(a >= 0 && a < nd && b >= 0 && b < nd, s"$g out of range")
      }
      // single-domain loss: every group keeps >= 1 replica
      for (dead <- 0 until nd)
        placed.foreach { case (g, a, b) =>
          assert(a != dead || b != dead, s"$g lost all replicas to domain $dead")
        }
    }
  }

  test("mirror ceremony: domain loss is survived and repaired back to a 2-domain spread with checksum parity") {
    val rows = operators.Lake.lakeMirror.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_domains") == 2L, s"${r.getAs[String]("lang")} domains")
      assert(r.getAs[Boolean]("mirror_ok"), "replica checksum divergence")
      assert(r.getAs[Boolean]("placement_ok"), "placement collapsed to one domain")
      assert(r.getAs[Boolean]("domain_repaired"))
    }
    // repair really re-replicated: the dead domain's dir is gone, and
    // the survivors alone hold two copies of every group
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      operators.Lake.scratch("mirror/dom/dc1_rackA"))))
  }

  test("relation cache invalidates when the table file is regenerated at the same path") {
    import org.apache.spark.sql.functions.lit
    val dir = operators.Lake.scratch("relcache")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // Tables.load reads <dir>/<name>.parquet as a single file — write
    // a one-file table the way the driver's testdata is laid out
    def writeV(n: Long): Unit = {
      val tmp = s"$dir/stage"
      spark.range(n).select(lit(1L).as("v")).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), false)
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      ()
    }
    writeV(5)
    assert(Tables.load(spark, dir, "t").count() == 5)
    // same path, same session: cache hit must serve (no staleness)
    assert(Tables.load(spark, dir, "t").count() == 5)
    Thread.sleep(1100) // local FS mtime can be second-granular
    writeV(9)
    // regenerated at the same path: the (len, mtime) signature changes,
    // so the cache must hand back a FRESH relation (the r7 gotcha —
    // a path-keyed cache without a version check serves the old file
    // index forever)
    assert(Tables.load(spark, dir, "t").count() == 9)
  }

  test("audio VAD: run structure recomputes from the source text per asset") {
    val rows = Multimodal.mAudioVad.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getString(1)).toMap
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val runs = "[a-z]+".r.findAllIn(t).map(_.length.toLong).toSeq
      assert(r.getAs[Long]("n_samples") == t.getBytes("UTF-8").length.toLong)
      assert(r.getAs[Long]("n_voiced") == runs.sum)
      assert(r.getAs[Long]("n_segments") == runs.size.toLong)
      assert(r.getAs[Long]("longest_seg") == (if (runs.isEmpty) 0L else runs.max))
      assert(r.getAs[Long]("voiced_pm") ==
        (if (t.isEmpty) 0L else 1000L * runs.sum / t.getBytes("UTF-8").length))
    }
    // the stub's segment structure is non-trivial on this corpus
    assert(rows.exists(_.getAs[Long]("n_segments") > 1L))
  }

  test("phash dedup: candidates and hamming recompute from a driver aHash") {
    val rows = Multimodal.mPhashDedup.fn(spark, sfDir).collect()
    assert(rows.nonEmpty, "banding must produce candidates at sf0.001")
    val hashes = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        val L = bytes.length
        val total = bytes.map(_.toLong).sum
        var h = 0L
        for (b <- 0 until Multimodal.PhashBlocks) {
          val lo = b * L / Multimodal.PhashBlocks
          val hi = (b + 1) * L / Multimodal.PhashBlocks
          val s = (lo until hi).map(bytes(_).toLong).sum
          if (s * L > total * (hi - lo)) h |= 1L << b
        }
        r.getAs[Long]("doc_id") -> h
      }.toMap
    // the Manku table keys (6 pieces x 10 bits, C(6,3) three-piece
    // concatenations) recomputed independently of the engine
    def bands(h: Long): Seq[Long] =
      graft.api.Graft.dedup
        .simhashCombos(Multimodal.PhashPieces, Multimodal.PhashBlockHamming)
        .map(_.foldLeft(0L) { (acc, p) =>
          (acc << Multimodal.PhashPieceBits) +
            ((h >> (p * Multimodal.PhashPieceBits)) &
              ((1L << Multimodal.PhashPieceBits) - 1))
        })
    val ids = hashes.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if bands(hashes(a)).zip(bands(hashes(b))).exists { case (x, y) => x == y }
    } yield {
      val ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b)).toLong
      (a, b, ham, if (ham <= Multimodal.PhashMaxHamming) 1L else 0L)
    }).toSet
    val got = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("hamming"), r.getAs[Long]("confirmed"))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("footerRows counts nested part files and fails closed on foreign or empty paths") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("footer_rows")
    fs.delete(new Path(dir), true)
    val df = spark.range(0, 40).withColumn("k", col("id") % 4)
    df.write.partitionBy("k").parquet(s"$dir/nested")
    df.write.parquet(s"$dir/flat")
    assert(Lake.footerRows(spark, Seq(s"$dir/nested")) == 40L, "nested part files count")
    assert(Lake.footerRows(spark, Seq(s"$dir/nested", s"$dir/flat")) == 80L)
    assert(Lake.dataFiles(fs, new Path(s"$dir/nested")).forall(_.getPath.getName.endsWith(".parquet")))
    val junk = fs.create(new Path(s"$dir/flat/stray.csv"))
    try junk.write("1,2\n".getBytes("UTF-8")) finally junk.close()
    val e = intercept[java.io.IOException](Lake.footerRows(spark, Seq(s"$dir/flat")))
    assert(e.getMessage.contains("stray.csv"), e.getMessage)
    fs.mkdirs(new Path(s"$dir/empty"))
    intercept[java.io.IOException](Lake.footerRows(spark, Seq(s"$dir/empty")))
  }

  test("layout verb writes once per signature and rebuilds after a source part file is rewritten") {
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val d = Lake.scratch("layout_verb_src")
    fs.delete(new Path(d), true)
    spark.range(0, 10).coalesce(1).write.parquet(s"$d/t.parquet")
    var writes = 0
    def provision(salt: String) = Lake.layout(spark, "verb_probe", d, Seq("t"), salt) { p =>
      writes += 1
      spark.range(0, 3).write.mode("overwrite").parquet(p)
    }
    val (path, sig) = provision("|v1")
    assert(path == Lake.layoutPath("verb_probe", d) && writes == 1)
    assert(provision("|v1") == ((path, sig)) && writes == 1, "an unchanged source must not rebuild")
    // rewrite the one part file in place: same name, new bytes
    val part = fs.listStatus(new Path(s"$d/t.parquet")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    spark.range(0, 50).coalesce(1).write.parquet(s"$d/next")
    val nextPart = fs.listStatus(new Path(s"$d/next")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    FileUtil.copy(fs, nextPart, fs, part, false, true, spark.sparkContext.hadoopConfiguration)
    val (_, sig2) = provision("|v1")
    assert(writes == 2 && sig2 != sig, "a rewritten part file must rebuild the layout")
    provision("|v1")
    assert(writes == 2)
    provision("|v2")
    assert(writes == 3, "a changed salt must rebuild the layout")
  }

  test("dirs that sanitize alike get distinct layout paths and bucketed tables") {
    import graft.operators.Layout
    assert(Layout.zorderedPath("/x/sf0.1") != Layout.zorderedPath("/x/sf0_1"))
    assert(Lake.layoutPath("knn_cells", "/x/sf0.1") != Lake.layoutPath("knn_cells", "/x/sf0_1"))
    assert(Lake.dirTag("/x/sf0.1") != Lake.dirTag("/x/sf0_1"))
    assert(Lake.dirTag("/x/sf0.1").matches("[A-Za-z0-9_]+"), "a tag must stay a safe table name")
  }
}
