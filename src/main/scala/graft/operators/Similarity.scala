package graft.operators

import graft.{GraftQuery, SessionMemo, Tables}
import graft.functions.{Shingles, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2).
  *
  * Brute-force cosine top-k is the correctness baseline: the bounded
  * query set is broadcast, the corpus is scanned exactly once, and
  * ranks are bit-deterministic (see functions.Vectors). The LSH
  * variant is the 100 TB path: random-hyperplane buckets make
  * candidate counts ~corpus/2^planes per query instead of the full
  * corpus; at cluster scale the bucketed corpus would additionally be
  * written bucket-partitioned so a query touches one partition.
  */
object Similarity {

  private val QueryCount = 16
  private val TopK = 5

  private def embSig(s: SparkSession, d: String): String =
    Lake.tablesSig(s, d, Seq("embeddings"))

  /** Corpus row count from the catalog-stats memo (VERDICT r16 #3:
    * the plane-ladder np derives once per corpus content instead of a
    * count() job per invocation — the per-call count doubled
    * d_embed_neardup's driver-bench wall at sf0.1). */
  private def embCount(s: SparkSession, d: String): Long =
    Tables.rowCount(s, d, "embeddings")

  /** Family frames: one persisted copy per (session, dir, tag) and
    * source-content generation (`SessionMemo`), so a mid-session
    * regeneration of the table rebuilds and unpersists the old copy. */
  private def famMemoized(s: SparkSession, d: String, tag: String, sig: String)
                         (build: => DataFrame): DataFrame =
    SessionMemo(s, (d, tag), sig)(build)

  /** Normalized corpus: (vec_id, v, nrm). Zero-norm vectors are
    * excluded ON BOTH ENGINES (ADVICE r15): a zero norm makes every
    * cosine against it NaN, and NaN placement diverges between the
    * engine's min_by-on-struct(-cos,id) argmaxes (NaN loses) and the
    * oracle's ORDER BY cosine DESC windows (NaN sorts greatest and
    * wins) — a vector with no direction has no cosine neighborhood,
    * so the whole similarity family drops it at the corpus gate. */
  private def corpus(s: SparkSession, d: String): DataFrame =
    famMemoized(s, d, "corpus", embSig(s, d)) { // both join sides; norms computed once
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
        .filter(col("nrm") > 0)
    }

  private val corpusSql =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, v, ${Vectors.normSql("v")} AS nrm FROM e) n0
       |      WHERE nrm > 0)""".stripMargin

  /** Brute-force cosine top-k for a bounded query set. */
  val sAnnBruteforce: GraftQuery = GraftQuery.sql(
    "s_ann_bruteforce",
    s"""WITH $corpusSql,
       |q AS (SELECT * FROM n WHERE vec_id < $QueryCount),
       |sc AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         ${Vectors.dotSql("q.v", "n.v")} / (q.nrm * n.nrm) AS cosine
       |       FROM q JOIN n ON q.vec_id <> n.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    graft.api.Graft.ann.cosineTopK(e, e.filter(col("vec_id") < QueryCount),
        "vec_id", "embedding", TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // LSH: 6 deterministic hyperplanes -> 64 buckets (the fixed
  // geometry every QUERY-BOUNDED op uses: their joins broadcast a
  // QueryCount-sized side, so candidate volume is linear at any
  // bucket count). The corpus×corpus blocking in d_embed_neardup
  // instead SCALES its plane count with the corpus — see MaxPlanes.
  val NPlanes = 6

  /** Plane-count ceiling for the adaptive blocking: planes 6..23
    * switch on as the corpus crosses 64·2^j rows (a pure integer
    * threshold ladder — exact and identical in both engines, unlike
    * a log2+ceil whose libm rounding could straddle a boundary), so
    * mean bucket occupancy stays ~64 and the bucket equi-join's
    * candidate volume stays ~linear out to 2^24 buckets (~10^9
    * vectors). The LCG hyperplane stream is sequential, so the first
    * NPlanes planes — and every fixed-geometry op's buckets — are
    * bit-identical to the pre-ladder form. */
  val MaxPlanes = 24
  private val planes = Vectors.hyperplanes(MaxPlanes, 64)

  private def planeLit(p: Seq[Double]): Column = array(p.map(lit(_)): _*)
  private def planeSql(p: Seq[Double]): String = p.mkString("[", ", ", "]")

  private def lshThresholds: Seq[Long] =
    (NPlanes until MaxPlanes).map(j => 64L * (1L << j))

  /** Planes in play for a corpus of `cnt` vectors. */
  private[graft] def lshPlaneCount(cnt: Long): Int =
    NPlanes + lshThresholds.count(cnt > _)

  /** Sign-random-projection bucket id over the first `np` planes. */
  def lshBucketN(v: Column, np: Int): Column =
    planes.take(np).zipWithIndex.map { case (p, j) =>
      when(Vectors.dot(v, planeLit(p)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-random-projection bucket id of a vector column (the fixed
    * NPlanes geometry). */
  def lshBucket(v: Column): Column = lshBucketN(v, NPlanes)

  def lshBucketSql(v: String): String =
    planes.take(NPlanes).zipWithIndex.map { case (p, j) =>
      s"CASE WHEN ${Vectors.dotSql(v, planeSql(p))} > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** The adaptive-bucket SQL twin: every plane term gated on `np`
    * (the cnt-CTE plane count), so the static oracle string computes
    * exactly the engine's first-np-planes bucket. */
  private def lshBucketSqlN(v: String): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"CASE WHEN $j < np AND ${Vectors.dotSql(v, planeSql(p))} > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Embedding near-dup detection: closest pairs among LSH candidates.
    * Candidates come from a sign-random-projection bucket equi-join
    * with hamming<=1 neighbor-bucket probes (each vector probes its
    * own bucket plus the single-bit flips, so any pair whose
    * signatures differ in at most one live plane is recalled) — never
    * an all-pairs product. A pair matches exactly one probe row (the
    * identity probe at hamming 0, the single flipped probe at hamming
    * 1), so no dedup pass is needed. The plane count SCALES with the
    * corpus via [[lshPlaneCount]]'s integer threshold ladder (r16:
    * the fixed 64-bucket form was quadratic by construction — the
    * whole-registry 100× suite measured 336 s / 390× on 200k vectors;
    * ~64-vector mean occupancy keeps the candidate volume linear,
    * and both gated SFs sit under the first threshold so their plane
    * count — and every oracle hash — is unchanged). The oracle
    * mirrors with a cnt CTE: every plane term and probe flip is
    * gated on the SAME count-derived np, so the static SQL computes
    * exactly the engine's first-np-planes blocking. At 100 TB the
    * corpus would be written bucket-partitioned and each probe
    * touches np+1 partitions. */
  val dEmbedNeardup: GraftQuery = GraftQuery.sql(
    "d_embed_neardup", {
      val ladder = (NPlanes until MaxPlanes)
        .map(j => s"(CASE WHEN count(*) > ${64L * (1L << j)} THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val flips = (0 until MaxPlanes)
        .map(j => s"CASE WHEN $j < np THEN xor(bucket, ${1L << j}) END")
        .mkString(", ")
      s"""WITH $corpusSql,
         |cnt AS (SELECT $NPlanes + $ladder AS np FROM embeddings),
         |bk AS (SELECT vec_id, v, nrm, ${lshBucketSqlN("v")} AS bucket FROM n, cnt),
         |pr AS (SELECT vec_id, v, nrm, pb
         |       FROM bk, cnt, unnest([CAST(bucket AS BIGINT), $flips]) AS u(pb)
         |       WHERE pb IS NOT NULL)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${Vectors.dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
         |FROM pr a JOIN bk b ON a.pb = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""".stripMargin
    }
  ) { (s, d) =>
    val np = lshPlaneCount(embCount(s, d))
    val bk = corpus(s, d).withColumn("bucket", lshBucketN(col("v"), np))
    val probes = bk.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"),
      explode(array(col("bucket") +: (0 until np).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("pb"))
    val right = bk.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket").as("bb"))
    probes.join(right, col("pb") === col("bb") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** LSH-bucketed ANN: candidates share the query's bucket. Same
    * output shape as brute force; recall is whatever the buckets give
    * (verifiable against s_ann_bruteforce). */
  val sAnnLsh: GraftQuery = GraftQuery.sql(
    "s_ann_lsh",
    s"""WITH $corpusSql,
       |bk AS (SELECT vec_id, v, nrm, ${lshBucketSql("v")} AS bucket FROM n),
       |q AS (SELECT * FROM bk WHERE vec_id < $QueryCount),
       |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${Vectors.dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       |       FROM q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val bk = corpus(s, d).withColumn("bucket", lshBucket(col("v")))
    val q = bk.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
      .filter(col("query_id") < QueryCount)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    bk.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // IVF: cells from NCells deterministic centroids, NProbe-cell search.
  val NCells = 8; val NProbe = 2

  /** Shared IVF oracle: cell assignment by argmax cosine against the
    * deterministic centroid slice, top-NProbe probes, cell-local
    * search — used verbatim by the join-form and the
    * partitioned-layout-form entries (identical semantics). */
  private val ivfCtesSql =
    s"""c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $NCells),
       |asg AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c),
       |cells AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid
       |           FROM asg WHERE vec_id < $QueryCount AND rk <= $NProbe)""".stripMargin

  private val ivfOracleSql =
    s"""WITH $corpusSql,
       |$ivfCtesSql,
       |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
       |         ${Vectors.dotSql("p.qv", "cl.v")} / (p.qnrm * cl.nrm) AS cosine
       |       FROM probes p JOIN cells cl ON p.cid = cl.cid AND cl.vec_id <> p.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** IVF-style cell-probed ANN. Centroids are a fixed deterministic
    * subset of the corpus (vec_id < NCells) standing in for trained
    * k-means centroids — the assignment/probe mechanics (argmax-cosine
    * cell assignment, top-NProbe probe, cell-local search) are the
    * real IVF plan shape. At cluster scale the corpus would be written
    * partitioned by cell so probes touch NProbe partitions. */
  /** Shared IVF mechanics: centroid slice + per-vector assignment
    * ranking — ONE definition for the join-form and partitioned-form
    * entries. Returns the ranked assignment frame (vec_id, v, nrm,
    * cid, rk). */
  private def ivfAssignment(s: SparkSession, d: String): DataFrame = {
    val n = corpus(s, d)
    val c = n.filter(col("vec_id") < NCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wAsg = Window.partitionBy(col("vec_id"))
      .orderBy((Vectors.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).desc, col("cid"))
    n.crossJoin(broadcast(c)).withColumn("rk", row_number().over(wAsg))
  }

  private def ivfProbes(asg: DataFrame): DataFrame =
    asg.filter(col("vec_id") < QueryCount && col("rk") <= NProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid").as("pcid"))

  /** Cell-local probe scoring + per-query top-k over any cells frame
    * (in-memory or a partitioned layout read). */
  private def ivfScore(cells: DataFrame, probes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    cells.join(broadcast(probes),
        col("cid") === col("pcid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val sAnnIvf: GraftQuery = GraftQuery.sql(
    "s_ann_ivf",
    ivfOracleSql
  ) { (s, d) =>
    val asg = ivfAssignment(s, d)
    val cells = asg.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
    ivfScore(cells, ivfProbes(asg))
  }

  /** IVF over a CELL-PARTITIONED physical layout — the 100 TB form of
    * s_ann_ivf made concrete: the assigned corpus is WRITTEN
    * partitioned by cell id, and the probe join hits the layout on
    * the partition column against a broadcast probe set, so dynamic
    * partition pruning (or an explicit cell-list filter at planning
    * time) restricts the scan to the NProbe cells each query probes —
    * a probe reads partitions, not the corpus. Same semantics and
    * oracle as s_ann_ivf; the spec asserts result equality with the
    * join form and that the scan is partition-pruned. */
  val sAnnIvfPartitioned: GraftQuery = GraftQuery.sql(
    "s_ann_ivf_partitioned",
    ivfOracleSql
  ) { (s, d) =>
    val asg = ivfAssignment(s, d)
    // Idempotent layout provisioning, gated on a METADATA-ONLY source
    // signature (same discipline as the bucketed-join layout): the
    // cell-partitioned corpus is written once per source content, so
    // the measured query is the partition-pruned probe — the layout
    // shuffle amortizes over every future probe, exactly as at 100 TB.
    val (path, _) = Lake.layout(s, "ivf_cells", d, Seq("embeddings"), s"|nc=$NCells") { path =>
      asg.filter(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(path)
    }
    ivfScore(s.read.parquet(path), ivfProbes(asg))
  }

  /** FILTERED vector search — top-k under a metadata predicate, the
    * standard vector-store capability (pgvector/Qdrant-style
    * pre-filtering). The predicate restricts the CANDIDATE side
    * BEFORE scoring (post-filtering a top-k loses recall: the k
    * survivors may all fail the filter); queries are unrestricted.
    * Runs through the same IVF probe blocking as s_ann_ivf — at
    * 100 TB this is the cell-partitioned layout with the label
    * predicate pushed into the pruned partition scan, so a filtered
    * probe reads NProbe partitions AND skips non-matching row groups
    * on column stats. Oracle mirrors the probe blocking + filter. */
  val sAnnFiltered: GraftQuery = GraftQuery.sql(
    "s_ann_filtered",
    s"""WITH $corpusSql,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $NCells),
       |asg AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c),
       |cells AS (SELECT a.vec_id, a.v, a.nrm, a.cid FROM asg a
       |          JOIN embeddings em ON em.vec_id = a.vec_id
       |          WHERE a.rk = 1 AND em.label < 3),
       |probes AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cid
       |           FROM asg WHERE vec_id < $QueryCount AND rk <= $NProbe),
       |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
       |         ${Vectors.dotSql("p.qv", "cl.v")} / (p.qnrm * cl.nrm) AS cosine
       |       FROM probes p JOIN cells cl ON p.cid = cl.cid AND cl.vec_id <> p.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val asg = ivfAssignment(s, d)
    val lbl = Tables.embeddings(s, d)
      .filter(col("label") < 3)                 // pushed to the scan
      .select(col("vec_id").as("l_vid"))
    val cells = asg.filter(col("rk") === 1)
      .join(lbl, col("vec_id") === col("l_vid")) // pre-filter candidates
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
    ivfScore(cells, ivfProbes(asg))
  }

  // PQ: M subspaces of SubDim dims; NCodes centroids per subspace.
  val M = 8; val SubDim = 8; val NCodes = 16

  /** PQ-ADC CTE chain (through the per-candidate aggregated distance
    * `ad`) — shared verbatim by the s_ann_pq and s_ann_rerank
    * oracles so the two stages can never drift. */
  private val pqAdSql =
    s"""cb AS (SELECT vec_id AS cid, v AS cv FROM e
       |       WHERE vec_id >= $QueryCount AND vec_id < ${QueryCount + NCodes}),
       |ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
       |sd AS (SELECT e.vec_id, ms.m, cb.cid,
       |         ${Vectors.subL2Sql("e.v", "cb.cv", "ms.m", SubDim)} AS dist
       |       FROM e CROSS JOIN ms CROSS JOIN cb),
       |codes AS (SELECT vec_id, m, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, cid) AS rk FROM sd) WHERE rk = 1),
       |qd AS (SELECT vec_id AS query_id, m, cid, dist AS qdist
       |       FROM sd WHERE vec_id < $QueryCount),
       |j AS (SELECT qd.query_id, codes.vec_id AS neighbor_id, qd.m, qd.qdist
       |      FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
       |      WHERE codes.vec_id <> qd.query_id),
       |ad AS (SELECT query_id, neighbor_id,
       |         list_reduce(list(qdist ORDER BY m), (x, y) -> x + y) AS adist
       |       FROM j GROUP BY query_id, neighbor_id)""".stripMargin

  /** PQ-ADC candidate distances (query_id, neighbor_id, adist) —
    * the Scala twin of pqAdSql, shared by s_ann_pq and s_ann_rerank. */
  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = n.filter(col("vec_id") >= QueryCount && col("vec_id") < QueryCount + NCodes)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val ms = s.range(M).select(col("id").cast("int").as("m"))
    // (vector, subspace, centroid) sub-distances: the corpus-wide
    // frame feeds ONLY the code assignment and is consumed in the
    // same stage it is produced (cross-join → min_by partial
    // aggregate, all map-side) — the r9 form persisted it to also
    // derive the query distance table, paying a corpus×M×K cache
    // write; the query table is instead recomputed below from the
    // vec_id<QueryCount scan, which parquet prunes to the handful of
    // query vectors (sf-independent cost).
    def subDists(src: DataFrame) = src
      .crossJoin(broadcast(ms)).crossJoin(broadcast(cb))
      .select(col("vec_id"), col("m"), col("cid"),
        Vectors.subL2(col("v"), col("cv"), col("m"), SubDim).as("dist"))
    // argmin centroid per (vector, subspace) as a map-side-combining
    // group-min_by — the row_number window paid a per-group sort of
    // the K=NCodes candidates after the same shuffle (VERDICT r9 #3);
    // the (dist, cid) struct ordering keeps the tie-break identical
    // to the oracle's ORDER BY dist, cid.
    // The code table is the PQ INDEX — a pure function of corpus
    // content and the (M, SubDim, NCodes) constants, and the whole
    // corpus-linear term of both PQ ops (the encode touches
    // corpus×M×K sub-distances; everything downstream is codes-sized).
    // r18: disk-backed per content signature like the knn/cells/
    // shingle layouts (an index is BUILT once, then SERVED), so
    // s_ann_pq and s_ann_rerank read ~M bytes/vector instead of
    // re-encoding per session; the sig salts the constants and the
    // formula version so a constant change rebuilds, never serves
    // stale codes.
    val (path, srcSig) = Lake.layout(s, "pq_codes", d, Seq("embeddings"),
        s"|m=$M|sd=$SubDim|k=$NCodes|q=$QueryCount|pqc1") { path =>
      subDists(n).groupBy(col("vec_id"), col("m"))
        .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))
        .select(col("vec_id"), col("m"), col("cid"))
        .write.mode("overwrite").parquet(path)
    }
    val codes = famMemoized(s, d, "pq_codes", srcSig)(Lake.readLayout(s, path, srcSig))
    val qd = subDists(n.filter(col("vec_id") < QueryCount))
      .select(col("vec_id").as("query_id"), col("m").as("qm"),
        col("cid").as("qcid"), col("dist").as("qdist"))
    // Fixed-m-order ADC fold WITHOUT the interpreted HOF chain: the
    // r17 form collected (m, dist) structs per (query, candidate)
    // group and folded them through sort_array+transform+aggregate —
    // four non-codegen expression evaluations per group (guide §4:
    // prefer codegen'd built-ins in the hot path; this group frame is
    // corpus×M×Q rows and was most of the op's linear constant). Each
    // m appears EXACTLY once per group (codes has one row per
    // (vector, m); qd one per (query, m, cid)), so M conditional
    // sums + one fixed-order chained add compute the identical
    // left-fold: 0.0 + d0 + d1 + ... + d_{M-1}, bit-for-bit the
    // oracle's list_reduce(list(qdist ORDER BY m)).
    val mSums = (0 until M).map(m =>
      sum(when(col("qm") === m, col("qdist"))).as(s"__s$m"))
    codes.join(broadcast(qd),
        col("m") === col("qm") && col("cid") === col("qcid") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(mSums.head, mSums.tail: _*)
      .select(col("query_id"), col("neighbor_id"),
        (0 until M).foldLeft(lit(0.0))((acc, m) => acc + col(s"__s$m"))
          .as("adist"))
  }

  /** Product-quantization ANN: corpus vectors are compressed to M
    * one-byte codes (argmin squared-L2 centroid per subspace), queries
    * score candidates through an asymmetric-distance table (query ->
    * centroid distances per subspace, summed in fixed m order so the
    * double fold is bit-deterministic). The codebook is a fixed
    * deterministic corpus slice standing in for trained k-means
    * centroids — the compression/ADC mechanics are the real PQ shape.
    * At 100 TB the codes table is ~M bytes/vector (64x smaller than
    * the float corpus), the distance table is built per query on the
    * driver-free broadcast path, and the scan touches codes only. */
  val sAnnPq: GraftQuery = GraftQuery.sql(
    "s_ann_pq",
    s"""WITH $corpusSql,
       |$pqAdSql,
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adist, neighbor_id) AS rank FROM ad)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    pqAdc(s, d)
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
      .orderBy(col("query_id"), col("rank"))
  }

  // RRF fusion: top-FuseN from each modality, k=60 dampening.
  val RrfK = 60; val FuseN = 20

  /** Hybrid search: reciprocal-rank fusion of an embedding-cosine
    * ranking and a text-shingle-Jaccard ranking over the shared id
    * space (doc i <-> vec i). Each arm contributes 1/(60+rank) for its
    * top-FuseN; the fused score is a fixed-order two-term sum, so it
    * is bit-deterministic.
    *
    * BOTH arms are index-backed (VERDICT r3 finding 1 — no arm scans
    * the corpus per query). The embedding arm retrieves from the
    * sign-random-projection bucket index: each query probes its own
    * bucket plus the `NPlanes` single-bit flips (the d_embed_neardup
    * probe set), and candidates come from a bucket equi-join against
    * the broadcast probe list — a pair matches exactly one probe row,
    * so no dedup pass. The text arm probes the banded-MinHash index
    * QUERY-OUTWARD: the query docs' band rows (a broadcast-sized
    * frame) equi-join the full band index, so candidate generation
    * and Jaccard scoring touch only pairs involving a query — never
    * the corpus all-pairs frame the dedup family materializes for
    * corpus-wide dedup (retrieval for Q queries is Q-scoped by
    * construction; the r10 rework dropped the cold-path all-pairs
    * build this arm previously shared). Signatures/bands still come
    * from the family-memoized signature frame, so in-family the index
    * build is shared. The oracle mirrors both blockings exactly, so
    * recall differences are part of the op's contract, not a
    * divergence. At 100 TB each arm touches candidate buckets/bands,
    * never the corpus per query. */
  val sHybridRrf: GraftQuery = GraftQuery.sql(
    "s_hybrid_rrf", {
      val probeList = ("bucket" +: (0 until NPlanes).map(j => s"xor(bucket, ${1L << j})"))
        .mkString("[", ", ", "]")
      s"""WITH $corpusSql,
         |${Dedup.minhashBandsCtes()},
         |bk AS (SELECT vec_id, v, nrm, ${lshBucketSql("v")} AS bucket FROM n),
         |pr AS (SELECT vec_id, v, nrm, unnest($probeList) AS pb FROM bk
         |       WHERE vec_id < $QueryCount),
         |vsc AS (SELECT pr.vec_id AS query_id, c.vec_id AS neighbor_id,
         |          ${Vectors.dotSql("pr.v", "c.v")} / (pr.nrm * c.nrm) AS cosine
         |        FROM pr JOIN bk c ON pr.pb = c.bucket AND pr.vec_id <> c.vec_id),
         |vr AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cosine DESC, neighbor_id) AS vrank FROM vsc),
         |vtop AS (SELECT * FROM vr WHERE vrank <= $FuseN),
         |tdir AS (SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS neighbor_id
         |         FROM bl q JOIN bl c ON q.band_idx = c.band_idx
         |           AND q.band_key = c.band_key AND c.doc_id <> q.doc_id
         |         WHERE q.doc_id < $QueryCount),
         |tsc AS (SELECT t.query_id, t.neighbor_id,
         |          ${graft.functions.Shingles.jaccardSql("x.sh", "y.sh")} AS jac
         |        FROM tdir t JOIN sh x ON t.query_id = x.doc_id
         |                    JOIN sh y ON t.neighbor_id = y.doc_id),
         |tr AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY jac DESC, neighbor_id) AS trank FROM tsc),
         |ttop AS (SELECT * FROM tr WHERE trank <= $FuseN),
         |f AS (SELECT COALESCE(v.query_id, t.query_id) AS query_id,
         |             COALESCE(v.neighbor_id, t.neighbor_id) AS neighbor_id,
         |             COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + v.vrank), 0.0)
         |               + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + t.trank), 0.0) AS rrf
         |      FROM vtop v FULL OUTER JOIN ttop t
         |        ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY rrf DESC, neighbor_id) AS rank FROM f)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, rrf
         |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
    }
  ) { (s, d) =>
    // Embedding arm: SRP-bucket index probe (own bucket + NPlanes
    // single-bit flips), candidates via bucket equi-join — each
    // (query, neighbor) pair matches exactly one probe row.
    val bk = corpus(s, d).withColumn("bucket", lshBucket(col("v")))
    val probes = bk.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(array(col("bucket") +: (0 until NPlanes).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("pb"))
    val wV = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val vtop = bk.join(broadcast(probes),
        col("bucket") === col("pb") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cosine"))
      .withColumn("vrank", row_number().over(wV).cast("long"))
      .filter(col("vrank") <= FuseN)
      .select(col("query_id").as("vq"), col("neighbor_id").as("vn"), col("vrank"))
    // Text arm: query-outward probe of the banded-MinHash index. The
    // query docs' band rows are broadcast against the full band
    // index, so candidates and Jaccard scoring are Q-scoped — the
    // corpus-wide all-pairs candidate frame (what corpus dedup needs)
    // is never built on this path. Signatures are family-memoized.
    val sh = graft.api.Graft.dedup.shingleSets(Tables.documents(s, d), "doc_id", "text")
    val bl = graft.api.Graft.dedup.bandedKeys(sh, Dedup.K, Dedup.Bands)
      .select(col("band_idx"), col("band_key"), col("doc_id"))
    val qb = bl.filter(col("doc_id") < QueryCount)
      .select(col("band_idx").as("qbi"), col("band_key").as("qbk"),
        col("doc_id").as("tq"))
    val candIds = bl.join(broadcast(qb),
        col("band_idx") === col("qbi") && col("band_key") === col("qbk") &&
          col("doc_id") =!= col("tq"))
      .select(col("tq").as("query_id"), col("doc_id").as("neighbor_id"))
      .distinct()
    val cand = candIds
      .join(sh.select(col("doc_id"), col("sh").as("sh_q")),
        col("query_id") === col("doc_id")).drop("doc_id")
      .join(sh.select(col("doc_id"), col("sh").as("sh_n")),
        col("neighbor_id") === col("doc_id")).drop("doc_id")
      .withColumn("jac", graft.functions.Shingles.jaccardSorted(col("sh_q"), col("sh_n")))
    val wT = Window.partitionBy(col("query_id")).orderBy(col("jac").desc, col("neighbor_id"))
    val ttop = cand
      .withColumn("trank", row_number().over(wT).cast("long"))
      .filter(col("trank") <= FuseN)
      .select(col("query_id").as("tq_"), col("neighbor_id").as("tn"), col("trank"))
    val wR = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("neighbor_id"))
    vtop.join(ttop, col("vq") === col("tq_") && col("vn") === col("tn"), "full_outer")
      .select(
        coalesce(col("vq"), col("tq_")).as("query_id"),
        coalesce(col("vn"), col("tn")).as("neighbor_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("vrank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("trank")), lit(0.0))).as("rrf"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Index-quality evaluation: recall@k of the LSH-bucketed index
    * against the exact brute-force baseline, per query — the
    * measurement every production ANN deployment runs before trusting
    * an index (tune planes/probes until recall clears the bar). The
    * exact arm is the intentional brute-force baseline (the same scan
    * s_ann_bruteforce measures); the index arm is the bucket
    * equi-join; recall is the per-query overlap of the two top-k sets.
    * Both arms are bit-deterministic, so recall itself is exact and
    * oracle-checkable — no sampling noise. */
  val sAnnRecall: GraftQuery = GraftQuery.sql(
    "s_ann_recall",
    s"""WITH $corpusSql,
       |q AS (SELECT * FROM n WHERE vec_id < $QueryCount),
       |bsc AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |          ${Vectors.dotSql("q.v", "n.v")} / (q.nrm * n.nrm) AS cosine
       |        FROM q JOIN n ON q.vec_id <> n.vec_id),
       |br AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, neighbor_id) AS rank FROM bsc),
       |btop AS (SELECT query_id, neighbor_id FROM br WHERE rank <= $TopK),
       |bk AS (SELECT vec_id, v, nrm, ${lshBucketSql("v")} AS bucket FROM n),
       |lq AS (SELECT * FROM bk WHERE vec_id < $QueryCount),
       |lsc AS (SELECT lq.vec_id AS query_id, c.vec_id AS neighbor_id,
       |          ${Vectors.dotSql("lq.v", "c.v")} / (lq.nrm * c.nrm) AS cosine
       |        FROM lq JOIN bk c ON lq.bucket = c.bucket AND lq.vec_id <> c.vec_id),
       |lr AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, neighbor_id) AS rank FROM lsc),
       |ltop AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= $TopK),
       |hits AS (SELECT b.query_id, COUNT(l.neighbor_id) AS n_hits
       |         FROM btop b LEFT JOIN ltop l
       |           ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |         GROUP BY b.query_id)
       |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(n_hits AS DOUBLE) / $TopK AS recall
       |FROM hits ORDER BY query_id""".stripMargin
  ) { (s, d) =>
    // Both arms read the ONE persisted normalized corpus (a second
    // cosineTopK-style read would re-scan and re-normalize the
    // parquet). The exact arm is the intentional brute-force
    // baseline: broadcast query set, one corpus pass.
    val bk = corpus(s, d).withColumn("bucket", lshBucket(col("v")))
    val bq = bk.select(col("vec_id").as("query_id"), col("v").as("bqv"),
        col("nrm").as("bqn"))
      .filter(col("query_id") < QueryCount)
    val wB = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val btop = bk.crossJoin(broadcast(bq))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("bqv"), col("v")) / (col("bqn") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wB))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"))
    // index arm: the same bucket equi-join s_ann_lsh measures
    val q = bk.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
      .filter(col("query_id") < QueryCount)
    val wL = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val ltop = bk.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wL))
      .filter(col("rank") <= TopK)
      .select(col("query_id").as("lq_"), col("neighbor_id").as("ln"))
    btop.join(ltop, col("query_id") === col("lq_") && col("neighbor_id") === col("ln"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("ln")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / TopK).as("recall"))
      .orderBy(col("query_id"))
  }

  // Two-stage retrieval: PQ-ADC shortlist, then exact re-rank.
  val RerankDepth = 20

  /** TWO-STAGE ANN (shortlist + exact re-rank): stage 1 scans only
    * the compact PQ codes to produce a RerankDepth shortlist per
    * query (~64x less data than raw vectors); stage 2 fetches ONLY
    * the shortlisted full vectors and re-ranks by exact cosine. The
    * production retrieval shape at 100 TB: approximate distances
    * decide WHAT to read, exact distances decide the ORDER — recall
    * of the exact metric at a fraction of the scan. Oracle composes
    * the SAME PQ CTE chain (pqAdSql) + an exact-cosine re-rank. */
  val sAnnRerank: GraftQuery = GraftQuery.sql(
    "s_ann_rerank",
    s"""WITH $corpusSql,
       |$pqAdSql,
       |shortlist AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS rk FROM ad) WHERE rk <= $RerankDepth),
       |ex AS (SELECT sl.query_id, sl.neighbor_id,
       |         ${Vectors.dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       |       FROM shortlist sl
       |       JOIN n q ON q.vec_id = sl.query_id
       |       JOIN n c ON c.vec_id = sl.neighbor_id),
       |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, neighbor_id) AS rank FROM ex)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM rr WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  ) { (s, d) =>
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val shortlist = pqAdc(s, d)
      .withColumn("rk", row_number().over(wShort))
      .filter(col("rk") <= RerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    val n = corpus(s, d)
    val q = n.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("c_id"), col("v").as("cv2"), col("nrm").as("cn"))
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(q), col("query_id") === col("q_id"))
      .join(c, col("neighbor_id") === col("c_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Vectors.dot(col("qv"), col("cv2")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** K-MEANS — one exact Lloyd iteration over the embedding corpus:
    * the TRAINING step that the IVF/PQ entries' deterministic centroid
    * slices stand in for. Seeds are the same fixed slice (vec_id <
    * NCells); the iteration assigns every vector to its argmax-cosine
    * seed, recomputes each centroid as the member mean, then
    * reassigns against the updated centroids. The centroid mean is
    * routed through per-(cluster, position) INTEGER micro-unit sums
    * (components quantized at 1e-10: round(x*1e10) as BIGINT — exact
    * and associative, order-independent at any parallelism; every
    * value stays < 2^53 so the final int->double conversions are
    * exact, sidestepping DuckDB's double-rounding decimal->double
    * path), so the updated centroids — and therefore every downstream
    * assignment comparison — are bit-identical cross-engine
    * (functions/Parity.scala discipline, integer form).
    * Plan shape at 100 TB: the component explode + groupBy(cid, pos)
    * is the standard distributed centroid update (map-side partial
    * aggregation reduces to K x dim rows); reassignment broadcasts
    * the K x dim centroid table. Per-cluster output: seed-assignment
    * size, post-update size, members that changed cluster, and the
    * cosine between seed and updated centroid (convergence signal).
    * Reference: the reference engine has no ML surface; this is pure
    * engine capability (iterative refinement over an aggregate, the
    * Balancer.java:1 iterate-until-stable pattern applied to data). */
  val sKmeans: GraftQuery = GraftQuery.sql(
    "s_kmeans",
    s"""WITH $corpusSql,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $NCells),
       |asg AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c),
       |cl AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rk = 1),
       |comp AS (SELECT cid, i AS pos, v[i] AS x
       |         FROM cl, unnest(generate_series(1, len(v))) AS t(i)),
       |cent AS (SELECT cid, pos,
       |           CAST(SUM(CAST(round(x * 1e10) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1e10) AS mu
       |         FROM comp GROUP BY cid, pos),
       |c2 AS (SELECT cid, list(mu ORDER BY pos) AS cv2 FROM cent GROUP BY cid),
       |c2n AS (SELECT cid, cv2, ${Vectors.normSql("cv2")} AS cnrm2 FROM c2),
       |asg2 AS (SELECT n.vec_id, c2n.cid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "c2n.cv2")} / (n.nrm * c2n.cnrm2) DESC, c2n.cid) AS rk
       |  FROM n CROSS JOIN c2n),
       |a2 AS (SELECT vec_id, cid FROM asg2 WHERE rk = 1),
       |s1 AS (SELECT cid, COUNT(*) AS size_seed FROM cl GROUP BY cid),
       |s2 AS (SELECT a2.cid, COUNT(*) AS size_lloyd,
       |         SUM(CASE WHEN cl.cid <> a2.cid THEN 1 ELSE 0 END) AS n_moved
       |       FROM a2 JOIN cl ON a2.vec_id = cl.vec_id GROUP BY a2.cid),
       |dr AS (SELECT c.cid,
       |         ${Vectors.dotSql("c.cv", "c2n.cv2")} / (c.cnrm * c2n.cnrm2) AS drift_cos
       |       FROM c JOIN c2n ON c.cid = c2n.cid)
       |SELECT s1.cid, CAST(s1.size_seed AS BIGINT) AS size_seed,
       |  CAST(COALESCE(s2.size_lloyd, 0) AS BIGINT) AS size_lloyd,
       |  CAST(COALESCE(s2.n_moved, 0) AS BIGINT) AS n_moved, dr.drift_cos
       |FROM s1 LEFT JOIN s2 ON s1.cid = s2.cid
       |JOIN dr ON s1.cid = dr.cid ORDER BY s1.cid""".stripMargin
  ) { (s, d) =>
    val n = corpus(s, d)
    val cSeed = n.filter(col("vec_id") < NCells)
      .select(col("vec_id").as("scid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val asg1 = ivfAssignment(s, d).filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("cid"))
    // Exact integer centroid update: K x dim rows after partial agg.
    val comp = asg1.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
    val cent = comp.groupBy(col("cid"), col("pos"))
      .agg((sum(round(col("x") * 1e10).cast("long")).cast("double")
        / (count(lit(1)).cast("double") * 1e10)).as("mu"))
    val c2 = cent.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        p => p.getField("mu")).as("cv2"))
      .withColumn("cnrm2", Vectors.norm(col("cv2")))
    val w2 = Window.partitionBy(col("vec_id"))
      .orderBy((Vectors.dot(col("v"), col("cv2")) / (col("nrm") * col("cnrm2"))).desc,
        col("cid2"))
    val asg2 = n.crossJoin(broadcast(c2.select(col("cid").as("cid2"), col("cv2"), col("cnrm2"))))
      .withColumn("rk", row_number().over(w2)).filter(col("rk") === 1)
      .select(col("vec_id").as("vid2"), col("cid2"))
    val a1 = asg1.select(col("vec_id").as("vid1"), col("cid").as("cid1"))
    val s2 = asg2.join(a1, col("vid2") === col("vid1"))
      .groupBy(col("cid2"))
      .agg(count(lit(1)).as("size_lloyd"),
        sum(when(col("cid1") =!= col("cid2"), 1L).otherwise(0L)).as("n_moved"))
    val s1 = a1.groupBy(col("cid1")).agg(count(lit(1)).as("size_seed"))
    val dr = c2.join(broadcast(cSeed), col("cid") === col("scid"))
      .select(col("scid").as("dcid"),
        (Vectors.dot(col("cv"), col("cv2")) / (col("cnrm") * col("cnrm2"))).as("drift_cos"))
    s1.join(s2, col("cid1") === col("cid2"), "left")
      .join(dr, col("cid1") === col("dcid"))
      .select(col("cid1").as("cid"), col("size_seed"),
        coalesce(col("size_lloyd"), lit(0L)).as("size_lloyd"),
        coalesce(col("n_moved"), lit(0L)).as("n_moved"), col("drift_cos"))
      .orderBy(col("cid"))
  }

  /** Fixed Lloyd-iteration count for the oracle-gated loop entry. */
  val KmIters = 3

  /** DuckDB oracle for s_kmeans_loop: the SAME `KmIters` Lloyd
    * iterations unrolled as CTEs (the g_pagerank fixed-iteration
    * discipline) — per iteration: argmax-cosine assignment against
    * the previous centroids, integer micro-unit centroid update, and
    * the micro-unit movement vs the previous component table. */
  private def kmeansLoopOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $corpusSql,\n"
    sb ++= s"c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $k),\n"
    sb ++= s"m0 AS (SELECT vec_id AS cid, i AS pos, CAST(round(v[i] * 1e10) AS BIGINT) AS micro\n"
    sb ++= s"      FROM n, unnest(generate_series(1, len(v))) AS t(i) WHERE vec_id < $k),\n"
    for (r <- 1 to iters) {
      val p = r - 1
      sb ++= s"""asg$r AS (SELECT n.vec_id, n.v, c.cid,
                |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
                |  FROM n CROSS JOIN c$p c),
                |cl$r AS (SELECT vec_id, v, cid FROM asg$r WHERE rk = 1),
                |comp$r AS (SELECT cid, i AS pos, v[i] AS x
                |           FROM cl$r, unnest(generate_series(1, len(v))) AS t(i)),
                |cent$r AS (SELECT cid, pos, CAST(SUM(CAST(round(x * 1e10) AS BIGINT)) AS DOUBLE)
                |             / (COUNT(*) * 1e10) AS mu FROM comp$r GROUP BY cid, pos),
                |m$r AS (SELECT cid, pos, CAST(round(mu * 1e10) AS BIGINT) AS micro, mu FROM cent$r),
                |mv$r AS (SELECT a.cid, MAX(ABS(a.micro - b.micro)) AS move_micro
                |         FROM m$r a JOIN m$p b ON a.cid = b.cid AND a.pos = b.pos GROUP BY a.cid),
                |cg$r AS (SELECT cid, list(mu ORDER BY pos) AS cv FROM m$r GROUP BY cid),
                |c$r AS (SELECT cid, cv, ${Vectors.normSql("cv")} AS cnrm FROM cg$r),
                |""".stripMargin
    }
    sb ++= s"""fasg AS (SELECT n.vec_id, c.cid,
              |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
              |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
              |  FROM n CROSS JOIN c$iters c),
              |mem AS (SELECT cid, COUNT(*) AS n_members FROM fasg WHERE rk = 1 GROUP BY cid)
              |SELECT c.cid, CAST(mem.n_members AS BIGINT) AS n_members, mv.move_micro,
              |  c.cnrm AS centroid_norm
              |FROM c$iters c JOIN mv$iters mv ON c.cid = mv.cid JOIN mem ON c.cid = mem.cid
              |ORDER BY c.cid""".stripMargin
    sb.toString
  }

  /** K-MEANS TO CONVERGENCE — the multi-iteration training loop
    * (api Graft.ann.kmeansCentroids/kmeansLoop) s_kmeans's single
    * Lloyd step builds toward: up to KmIters iterations, each
    * materialized through ScopedCache so the iterate plan stays
    * one-iteration shallow (the g_pagerank discipline — Similarity
    * Spec asserts plan size does not grow with iteration count), with
    * the exact integer micro-unit centroid parity end to end. The
    * early-stop test (max component movement in micro-units <=
    * tolMicro) is an exact integer on both engines; at tolMicro=0 an
    * early stop requires a true fixed point, so the oracle's fixed
    * KmIters unroll is exact by construction. Output per surviving
    * cluster: final membership, last-iteration movement (the
    * convergence signal), and the final centroid norm. */
  val sKmeansLoop: GraftQuery = GraftQuery.sql(
    "s_kmeans_loop",
    kmeansLoopOracleSql(NCells, KmIters)
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val cents = graft.api.Graft.ann.kmeansCentroids(
      e, "vec_id", "embedding", NCells, KmIters)
    val members = graft.api.Graft.ann.assignCentroids(e, "vec_id", "embedding", cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    cents.select(col("cid"), col("cnrm").as("centroid_norm"), col("move_micro"))
      .join(members, Seq("cid"))
      .select(col("cid"), col("n_members"), col("move_micro"), col("centroid_norm"))
      .orderBy(col("cid"))
  }

  /** Semantic-duplicate cosine threshold (~p99 of within-cluster
    * pair mass on this corpus; a real deployment tunes this). */
  val SemTheta = 0.3

  /** SEMDEDUP (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication by cluster-then-prune: embeddings are clustered
    * (argmax-cosine assignment to the centroid set), pairwise cosine
    * is computed ONLY within a cluster, and any document with a
    * higher-similarity-than-theta cluster-mate of lower id is pruned
    * (the paper keeps one representative per semantic duplicate
    * group; lowest-id is the deterministic pick). The cluster is the
    * blocking key — candidate generation is an equi-join on cid,
    * never an all-pairs product; at 100 TB the centroid count scales
    * with the corpus (K ~ N/target_cluster_size), keeping
    * within-cluster pair counts bounded per cluster, and the corpus
    * would be written cell-partitioned (s_ann_ivf_partitioned's
    * layout) so each cluster's pairs are partition-local. Theta=0.3
    * sits at ~p99 of this corpus's within-cluster cosine mass. */
  val dSemdedup: GraftQuery = GraftQuery.sql(
    "d_semdedup",
    s"""WITH $corpusSql,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $NCells),
       |asg AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c),
       |cl AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rk = 1),
       |pr AS (SELECT DISTINCT b.cid AS pcid, b.vec_id AS vb
       |       FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |       WHERE ${Vectors.dotSql("a.v", "b.v")} / (a.nrm * b.nrm) > $SemTheta),
       |pc AS (SELECT pcid, COUNT(*) AS n_pruned FROM pr GROUP BY pcid),
       |m AS (SELECT cid, COUNT(*) AS members FROM cl GROUP BY cid)
       |SELECT m.cid, CAST(m.members AS BIGINT) AS members,
       |  CAST(COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_pruned,
       |  CAST(m.members - COALESCE(pc.n_pruned, 0) AS BIGINT) AS n_kept
       |FROM m LEFT JOIN pc ON m.cid = pc.pcid ORDER BY m.cid""".stripMargin
  ) { (s, d) =>
    val cl = graft.ScopedCache(ivfAssignment(s, d).filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid")))
    val a = cl.select(col("cid").as("acid"), col("vec_id").as("va"),
      col("v").as("av"), col("nrm").as("an"))
    val b = cl.select(col("cid").as("bcid"), col("vec_id").as("vb"),
      col("v").as("bv"), col("nrm").as("bn"))
    val pruned = a.join(b, col("acid") === col("bcid") && col("va") < col("vb"))
      .filter(Vectors.dot(col("av"), col("bv")) / (col("an") * col("bn")) > SemTheta)
      .select(col("bcid").as("pcid"), col("vb")).distinct()
    val pc = pruned.groupBy(col("pcid")).agg(count(lit(1)).as("n_pruned"))
    cl.groupBy(col("cid")).agg(count(lit(1)).as("members"))
      .join(pc, col("cid") === col("pcid"), "left")
      .select(col("cid"), col("members"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        (col("members") - coalesce(col("n_pruned"), lit(0L))).as("n_kept"))
      .orderBy(col("cid"))
  }

  /** INDEX SCOREBOARD — the "which index do I deploy" decision table:
    * recall@k of every approximate index (LSH buckets, IVF probes,
    * PQ codes, PQ+exact re-rank) against the brute-force truth, in
    * one output. Composed from the SAME per-method top-k pipelines
    * (Scala side) and the SAME per-method oracle SQL embedded as
    * subqueries (DuckDB side) that the individual entries verify —
    * the scoreboard can never drift from the indexes it scores.
    * This is the index-selection evaluation a vector deployment runs
    * before committing to a layout; at 100 TB it runs on a sampled
    * query set while each arm keeps its own documented scale shape. */
  /** s_ann_ivf_sq8's oracle SQL, hoisted above the scoreboard that
    * embeds it (ADVICE r8: the former lazy-val forward reference to
    * sAnnIvfSq8 was init-order-fragile — any by-value val touching
    * the scoreboard during object init would have read a
    * partially-initialized oracle). Every val it mentions
    * (corpusSql, ivfCtesSql, M, SubDim, TopK) is defined above;
    * sq8DequantSql is a def, safe at any position. */
  private val sq8OracleSql: String =
    s"""WITH $corpusSql,
       |$ivfCtesSql,
       |dims AS (SELECT unnest(generate_series(1, ${M * SubDim})) AS pos),
       |bnd AS (SELECT pos, MIN(v[pos]) AS mn, MAX(v[pos]) - MIN(v[pos]) AS rng
       |        FROM cells CROSS JOIN dims GROUP BY pos),
       |ba AS (SELECT list(mn ORDER BY pos) AS mn, list(rng ORDER BY pos) AS rng
       |       FROM bnd),
       |cq AS (SELECT vec_id, cid, ${sq8DequantSql(M * SubDim)} AS xq
       |       FROM cells CROSS JOIN ba),
       |sc AS (SELECT p.query_id, c2.vec_id AS neighbor_id,
       |         ${Vectors.dotSql("p.qv", "c2.xq")} / (p.qnrm * ${Vectors.normSql("c2.xq")}) AS acos
       |       FROM probes p JOIN cq c2 ON p.cid = c2.cid AND c2.vec_id <> p.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY acos DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, acos
       |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // lazy: the graph arm (declared later in the file, next to the kNN
  // machinery it navigates) is referenced here; a strict val would
  // read its oracle before that val initializes
  lazy val sIndexScoreboard: GraftQuery = GraftQuery.sql(
    "s_index_scoreboard",
    s"""WITH b AS (SELECT query_id, neighbor_id FROM (${sAnnBruteforce.oracle.get}) bx),
       |l AS (SELECT query_id, neighbor_id FROM (${sAnnLsh.oracle.get}) lx),
       |i AS (SELECT query_id, neighbor_id FROM (${sAnnIvf.oracle.get}) ix),
       |p AS (SELECT query_id, neighbor_id FROM (${sAnnPq.oracle.get}) px),
       |rr AS (SELECT query_id, neighbor_id FROM (${sAnnRerank.oracle.get}) rx),
       |sq AS (SELECT query_id, neighbor_id FROM ($sq8OracleSql) sx),
       |gw AS (SELECT query_id, neighbor_id FROM (${sAnnGraph.oracle.get}) gx)
       |SELECT * FROM (
       |  SELECT 'ivf' AS method, CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       |    CAST(COUNT(*) AS BIGINT) AS n_possible,
       |    CAST(COUNT(i.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
       |  FROM b LEFT JOIN i ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |  UNION ALL
       |  SELECT 'lsh', CAST(COUNT(l.neighbor_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(COUNT(l.neighbor_id) AS DOUBLE) / COUNT(*)
       |  FROM b LEFT JOIN l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |  UNION ALL
       |  SELECT 'pq', CAST(COUNT(p.neighbor_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(COUNT(p.neighbor_id) AS DOUBLE) / COUNT(*)
       |  FROM b LEFT JOIN p ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
       |  UNION ALL
       |  SELECT 'rerank', CAST(COUNT(rr.neighbor_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(COUNT(rr.neighbor_id) AS DOUBLE) / COUNT(*)
       |  FROM b LEFT JOIN rr ON b.query_id = rr.query_id AND b.neighbor_id = rr.neighbor_id
       |  UNION ALL
       |  SELECT 'ivf_sq8', CAST(COUNT(sq.neighbor_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(COUNT(sq.neighbor_id) AS DOUBLE) / COUNT(*)
       |  FROM b LEFT JOIN sq ON b.query_id = sq.query_id AND b.neighbor_id = sq.neighbor_id
       |  UNION ALL
       |  SELECT 'graph', CAST(COUNT(gw.neighbor_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       |    CAST(COUNT(gw.neighbor_id) AS DOUBLE) / COUNT(*)
       |  FROM b LEFT JOIN gw ON b.query_id = gw.query_id AND b.neighbor_id = gw.neighbor_id
       |) ORDER BY method""".stripMargin
  ) { (s, d) =>
    val btop = sAnnBruteforce.fn(s, d).select(col("query_id"), col("neighbor_id"))
    def arm(name: String, m: DataFrame): DataFrame = {
      val mt = m.select(col("query_id").as("mq"), col("neighbor_id").as("mn"))
      btop.join(mt, col("query_id") === col("mq") && col("neighbor_id") === col("mn"),
          "left")
        .agg(count(col("mn")).as("n_hits"), count(lit(1)).as("n_possible"))
        .select(lit(name).as("method"), col("n_hits"), col("n_possible"),
          (col("n_hits").cast("double") / col("n_possible")).as("recall"))
    }
    arm("ivf", sAnnIvf.fn(s, d))
      .union(arm("lsh", sAnnLsh.fn(s, d)))
      .union(arm("pq", sAnnPq.fn(s, d)))
      .union(arm("rerank", sAnnRerank.fn(s, d)))
      .union(arm("ivf_sq8", sAnnIvfSq8.fn(s, d)))
      .union(arm("graph", sAnnGraph.fn(s, d)))
      .orderBy(col("method"))
  }

  /** Neighbors per node in the k-NN graph. */
  val KnnK = 3
  /** Target vectors per cell for the graph's ADAPTIVE cell count:
    * K = max(NCells, N/KnnCellTarget), so per-cell population — and
    * with it the cell-local pair work — stays ~constant as the corpus
    * grows (the d_semdedup K-scaling rule, here enforced in code, not
    * prose). N is the table row count: a metadata-cheap statistic
    * (table stats in a real deployment), mirrored by the oracle's cnt
    * CTE. */
  val KnnCellTarget = 64

  private[operators] def knnCellCount(n: Long): Long =
    math.max(NCells.toLong, n / KnnCellTarget)

  /** Coarse cell count for the two-level assignment, √-scaled with
    * the FINE count (r15: the fixed 8-cell coarse level made the
    * fine stage N·kc/8 ≈ N²/512 cosines — invisible at 10×/30× under
    * fixed latency, measured 23 s warm at 100× via the suite-100
    * ladder; √kc coarse cells balance the two stages at the standard
    * O(N^1.5) IVF-build shape). GREATEST floors it at NCells so at
    * every gated scale factor (N ≤ 4096 ⇒ ncc = 8) the assignment —
    * and every knn-family oracle hash — is bit-identical to the
    * fixed-coarse form. */
  private[operators] def knnCoarseCount(n: Long): Long =
    math.max(NCells.toLong,
      math.ceil(math.sqrt(knnCellCount(n).toDouble)).toLong)

  /** Cell-population CAP (the FAISS max_points_per_centroid
    * discipline, r15): downstream cell-local joins are Σ|cell|² —
    * one hot semantic cluster (at 100× inflation a single cell
    * absorbed 11,929 vectors; census sum_sq 201M pairs drove the
    * directed-knn build to 169 s) reintroduces the quadratic the
    * cell blocking exists to kill. Cells past the cap are
    * deterministically sub-sharded by vec_id modulo ⌈csz/cap⌉; the
    * sub-shard id is folded into the cid ABOVE bit 20 so uncapped
    * cids are unchanged. Inert at every gated scale factor (max
    * gated cell = 200 at sf0.1), so oracle hashes are identical; the
    * oracle CTE applies the same expression. */
  val KnnCellCap = 1024L

  /** Signature salt of the directed and mutual k-NN graph layouts. */
  private val KnnSalt = s"|nc=$NCells|tgt=$KnnCellTarget|cap=$KnnCellCap|cc4|k=$KnnK"

  /** Corpus assigned to ADAPTIVE cells, TWO-LEVEL (coarse→fine), so
    * the assignment stage itself scales: a flat argmax against
    * K = N/KnnCellTarget centroids would be O(N·K) = O(N²/64)
    * cosines with an N-proportional broadcast — the exact quadratic
    * shape the scale tool's base-vs-scaled ratio exists to catch.
    * Instead:
    * (1) every vector argmax-assigns to one of [[knnCoarseCount]]
    * ≈ √K COARSE centroids (O(N·√K), modest broadcast); (2) the K
    * fine centroids carry their own coarse assignment, so the fine
    * argmax is an EQUI-JOIN on the coarse cell (candidates = fine
    * centroids of one coarse cell, ~√K each; no broadcast hint — at
    * scale the K-row side shuffles on ccid). Total O(N·2√K) =
    * O(N^1.5/8) with every join a blocked equi-join — the standard
    * hierarchical-IVF assignment with the two stages balanced (the
    * r14 fixed-8-coarse form was O(N·K/8): fine candidates grew
    * linearly with the corpus and the 100× suite ladder caught the
    * build at 23 s warm). Each level's winner uses the same (cosine DESC,
    * cid) total order on both engines. The fine argmax is a LEFT
    * join with a coarse-cell fallback: a coarse cell containing
    * vectors but no fine centroid (possible only if sqrt rounding
    * ever kept cosine(v,v) below another centroid's — the r7 review's
    * edge case) keeps its vectors with cid = ccid instead of silently
    * dropping them from the graph. Family-memoized per (session,
    * dir): s_knn_graph and g_knn_triangles share one persisted copy
    * and the corpus-count statistic is read once, not per query. */
  private def adaptiveCells(s: SparkSession, d: String): DataFrame =
    famMemoized(s, d, "acells", embSig(s, d)) {
      val nEmb = Tables.embeddings(s, d).count()
      val kc = knnCellCount(nEmb)
      val ncc = knnCoarseCount(nEmb)
      val n = corpus(s, d)
      val cc = n.filter(col("vec_id") < ncc)
        .select(col("vec_id").as("ccid"), col("v").as("ccv"), col("nrm").as("ccnrm"))
      // Each level's argmax is a SLIM-ROW min_by hash aggregate, not a
      // row_number window (r15: the window form sorted N·√K candidate
      // rows each CARRYING TWO 128-dim vectors — ~2 KB/row, tens of
      // GB through the sort at 100×, measured 164 s; projecting to
      // (vec_id, candidate, cosine) before a partial-aggregated
      // min_by streams 24-byte rows through a hash agg instead). The
      // order struct (−cosine, id) is exactly the window's
      // (cosine DESC, id) total order, so the winner — and every
      // knn-family oracle hash — is unchanged; min_by skips
      // null-ordered rows, matching the oracle's DESC NULLS LAST.
      // null-cosine candidate rows (the fine stage's unmatched LEFT
      // side) are dropped BEFORE the aggregate — a struct with a null
      // field is not a null ordering key, so without the filter a
      // no-centroid row could sort first; dropping it instead makes a
      // no-candidate vector vanish from the pick frame and take the
      // ccid fallback through the left join below — DESC NULLS LAST
      def argmax(cands: DataFrame, idCol: String, outCol: String): DataFrame =
        cands.filter(col("cos").isNotNull).groupBy(col("vec_id"))
          .agg(min_by(col(idCol),
            struct((-col("cos")).as("nc"), col(idCol))).as(outCol))
      val coarsePick = argmax(
        n.crossJoin(broadcast(cc))
          .select(col("vec_id"), col("ccid"),
            (Vectors.dot(col("v"), col("ccv")) / (col("nrm") * col("ccnrm"))).as("cos")),
        "ccid", "ccid")
      val ca = graft.ScopedCache(n.join(coarsePick, Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("nrm"), col("ccid")))
      val fc = ca.filter(col("vec_id") < kc)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"),
          col("ccid").as("fccid"))
      val finePick = argmax(
        ca.join(fc, col("ccid") === col("fccid"), "left")
          .select(col("vec_id"), col("cid"),
            (Vectors.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("cos")),
        "cid", "cid")
      // a coarse cell with no fine centroid has no pick row — its
      // vectors keep cid = ccid through the left join, never dropped
      val assigned = ca.join(finePick, Seq("vec_id"), "left")
        .select(col("vec_id"), col("v"), col("nrm"),
          coalesce(col("cid"), col("ccid")).as("cid"))
      // cell cap (see [[KnnCellCap]]): counts via a slim groupBy +
      // equi-join back (cell-count-sized build side), never a window
      // sort of the vector-carrying rows
      // capped ids live in a DISJOINT id space (ADVICE r15): every
      // uncapped cid — fine centroid or ccid fallback — is < kc, so
      // offsetting by kc guarantees a capped id can never equal an
      // uncapped cid even when kc exceeds 2^20 (N > ~67M at target
      // 64, where the old cid*2^20+shard form wrapped back into the
      // live cid range and re-merged unrelated cells). Sub-shards
      // stay unique: shard < 2^20 ≪ the 2^20 stride, and the kc
      // offset is a constant, so (cid, shard) ↦ id is injective.
      val csz = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
      assigned.join(csz, Seq("cid"))
        .select(col("vec_id"), col("v"), col("nrm"),
          when(col("csz") <= KnnCellCap, col("cid"))
            .otherwise(lit(kc) + col("cid") * lit(1048576L) +
              col("vec_id") % ceil(col("csz") / lit(KnnCellCap.toDouble)).cast("long"))
            .as("cid"))
    }

  /** The adaptive-cell assignment PERSISTED as a cell-partitioned
    * layout — the r7 verdict's residual gap closed: the SURVEY row
    * promised "at 100 TB runs over the cell-partitioned layout" while
    * the assignment was computed in-query. Now the two-level
    * assignment is paid ONCE per source content (the
    * s_ann_ivf_partitioned provisioning discipline, metadata-only
    * staleness gate) and written partitionBy(cid); every graph build
    * reads the layout back, and a single cell is readable partition-
    * pruned (the incremental per-cell rebuild path — spec-asserted).
    * cid comes back as a partition column, cast to long to keep the
    * public schema identical to the in-query form. The write is
    * CLUSTERED (repartition on cid before partitionBy) so each cell
    * dir holds ONE file — without it every shuffle task writes a
    * sliver into every cell and the file count is cells×tasks (the
    * r8 scale step measured that read 5.2× at 10× data; clustered +
    * memoized it is ~1.4×). The read is family-memoized: the graph
    * and triangle queries join the layout against itself, so one
    * cached read serves all four plan legs. */
  private def adaptiveCellsLayout(s: SparkSession, d: String): DataFrame = {
    // the layout bakes in the cell constants — salt them into the
    // staleness signature so changing them rebuilds instead of
    // silently serving a layout cut with the old cell count
    // cc4 salts the assignment FORMULA version (r16: kc-offset
    // disjoint capped-id space; r15: √-scaled coarse count +
    // KnnCellCap sub-sharding) — a layout cut with an older formula
    // must rebuild, not silently serve
    val (path, srcSig) = Lake.layout(s, "knn_cells", d, Seq("embeddings"),
        s"|nc=$NCells|tgt=$KnnCellTarget|cap=$KnnCellCap|cc4") { path =>
      adaptiveCells(s, d).repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(path)
    }
    famMemoized(s, d, "cells_layout", srcSig) {
      Lake.readLayout(s, path, srcSig)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid").cast("long").as("cid"))
    }
  }

  /** Shared oracle CTE chain for the k-NN-graph family: two-level
    * cell assignment (coarse crk=1, then fine rk=1 restricted to the
    * vector's coarse cell — mirrors adaptiveCells exactly) through
    * the directed per-src top-KnnK list. Appended after corpusSql. */
  private val knnCtesSql =
    s"""cnt AS (SELECT GREATEST($NCells, count(*) // $KnnCellTarget) AS kc,
       |  GREATEST($NCells, CAST(CEIL(SQRT(GREATEST($NCells, count(*) // $KnnCellTarget))) AS BIGINT)) AS ncc
       |  FROM embeddings),
       |cc AS (SELECT vec_id AS ccid, v AS ccv, nrm AS ccnrm FROM n, cnt WHERE vec_id < ncc),
       |casg AS (SELECT n.vec_id, n.v, n.nrm, cc.ccid,
       |  ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |    ORDER BY ${Vectors.dotSql("n.v", "cc.ccv")} / (n.nrm * cc.ccnrm) DESC, cc.ccid) AS crk
       |  FROM n CROSS JOIN cc),
       |ca AS (SELECT vec_id, v, nrm, ccid FROM casg WHERE crk = 1),
       |fc AS (SELECT a.vec_id AS cid, a.v AS cv, a.nrm AS cnrm, a.ccid
       |       FROM ca a, cnt WHERE a.vec_id < kc),
       |asg AS (SELECT a.vec_id, a.v, a.nrm, f.cid, a.ccid,
       |  ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |    ORDER BY ${Vectors.dotSql("a.v", "f.cv")} / (a.nrm * f.cnrm) DESC NULLS LAST, f.cid) AS rk
       |  FROM ca a LEFT JOIN fc f ON a.ccid = f.ccid),
       |clraw AS (SELECT vec_id, v, nrm, COALESCE(cid, ccid) AS cid FROM asg WHERE rk = 1),
       |csz AS (SELECT cid, COUNT(*) AS csz FROM clraw GROUP BY cid),
       |cl AS (SELECT vec_id, v, nrm,
       |  CASE WHEN csz <= $KnnCellCap THEN c.cid
       |       ELSE kc + c.cid * 1048576 +
       |            (vec_id % CAST(CEIL(csz / CAST($KnnCellCap AS DOUBLE)) AS BIGINT)) END AS cid
       |  FROM clraw c JOIN csz USING (cid), cnt),
       |sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.cid,
       |         ${Vectors.dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |       FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |        ORDER BY cosine DESC, dst) AS rk FROM sc),
       |knn AS (SELECT * FROM r WHERE rk <= $KnnK)""".stripMargin

  /** Shared Spark arm for the k-NN-graph family: (cells, directed
    * top-k) — cells is adaptiveCells' output, knn carries
    * (src, dst, cid, cosine). */
  private def knnDirected(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cl = adaptiveCellsLayout(s, d)
    val b = cl.select(col("cid").as("bcid"), col("vec_id").as("dst"),
      col("v").as("bv"), col("nrm").as("bn"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    val knn = cl.join(b, col("cid") === col("bcid") && col("vec_id") =!= col("dst"))
      .select(col("vec_id").as("src"), col("dst"), col("cid"),
        (Vectors.dot(col("v"), col("bv")) / (col("nrm") * col("bn"))).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
    (cl, knn)
  }

  /** The DIRECTED per-src top-k frame, family-memoized: every graph
    * consumer (the symmetric artifact, NN-descent's base list, the
    * MST's weighted edges, the mutual-edge build below) was re-paying
    * the in-cell window per query — one persisted N·K-row copy per
    * (session, dir, source content) retires that, and — as important
    * on the driver — consumers' logical plans now reference a frame
    * whose own subtree is the layout read + one window, not a fresh
    * copy of the whole assignment pipeline. */
  private def knnDirectedMemo(s: SparkSession, d: String): DataFrame = {
    // DISK-BACKED (r17): the directed top-k is the family's most
    // expensive derivation — 28.5 s at 100× from a cold cache,
    // and EVERY fresh session or cache-clear
    // boundary re-paid it. A real pipeline materializes its k-NN
    // graph as a table (it IS the artifact downstream dedup/graph
    // stages consume); the layout verb makes the rebuild a parquet
    // re-READ (~1 s) instead of a re-derivation, once per source
    // content. Slim columns only — no vector ever lands on disk
    // twice; consumers needing v re-join the cells layout.
    val (path, sig) = Lake.layout(s, "knn_dir", d, Seq("embeddings"), KnnSalt) { path =>
      knnDirected(s, d)._2.write.mode("overwrite").parquet(path)
    }
    famMemoized(s, d, "knn_dir", sig)(Lake.readLayout(s, path, sig))
  }

  /** Mutual (reciprocal) edge set of the k-NN graph — shared by the
    * triangle/component/hops family: ONE persisted copy per (session,
    * dir, source content) instead of each query re-paying the
    * directed top-k window plus the edge-key groupBy (the famMemoized
    * discipline; the r8 bench showed the three graph-derived queries
    * each rebuilding this frame). Carries n_dir so callers filter
    * mutuality themselves, and mcos (max of the two directions' fold
    * cosines — exact: per-component products commute) so the
    * weighted consumers (symmetric artifact, MST, cluster cut) read
    * the ONE persisted copy instead of re-running the edge-key
    * shuffle with their own cosine aggregate. */
  private def knnMutual(s: SparkSession, d: String): DataFrame = {
    // Disk-backed like knn_dir (same rationale: the mutual-edge
    // shuffle at 100× is seconds of recompute vs a sub-second
    // metadata-sized re-read, and it feeds SEVEN graph consumers).
    val (path, sig) = Lake.layout(s, "knn_mutual", d, Seq("embeddings"), KnnSalt) { path =>
      knnDirectedMemo(s, d)
        .groupBy(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .agg(max(col("cid")).as("cid"), count(lit(1)).as("n_dir"),
          max(col("cosine")).as("mcos"))
        .select(col("a"), col("b"), col("cid"), col("n_dir"), col("mcos"))
        .write.mode("overwrite").parquet(path)
    }
    famMemoized(s, d, "knn_mutual", sig)(Lake.readLayout(s, path, sig))
  }

  /** Shared per-round lineage cut for the iterating graph ops
    * (kcore peel, Boruvka rounds, the modularity edge frame, the
    * dupClusters label loop):
    * reliable checkpoint when the session has a checkpoint dir
    * (fault-tolerant on a real cluster — an executor/driver restart
    * replays from the checkpoint files), else localCheckpoint
    * (single-JVM bench/test runs). Either way the LOGICAL plan
    * truncates — persist alone still prints the InMemoryRelation
    * inner plan at every reference, and a loop that references the
    * previous frame k times grows the AQE plan-update string ~k^R. */
  private[graft] def ckptLineage(s: SparkSession, df: DataFrame): DataFrame =
    if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** SYMMETRIC k-NN GRAPH — the graph artifact downstream semantic
    * pipelines consume (graph-based near-dup clustering, label
    * propagation, NN-descent seeding, SemDeDup variants that prune on
    * graph components instead of cluster mates): per vector, its
    * KnnK nearest cell-mates by exact cosine, then symmetrized into
    * undirected edges (a < b) carrying whether the edge is MUTUAL
    * (in both endpoints' top-k — the reciprocal-NN signal that
    * separates true near-dups from hub artifacts). Candidate
    * generation is the IVF cell blocking, never all-pairs: the
    * per-src top-k is a window inside the cell, and the cell count is
    * CORPUS-ADAPTIVE (knnCellCount: K = max(8, N/KnnCellTarget), the
    * d_semdedup K-scaling rule enforced in code) so per-cell
    * population — and the cell-local pair work — stays ~constant as
    * the corpus grows. The assignment itself is TWO-LEVEL
    * (adaptiveCells: coarse argmax then an equi-joined fine argmax,
    * O(N·(8 + K/8)) — a flat argmax against N/64 centroids would
    * itself be quadratic); at 100 TB this runs over the
    * cell-partitioned layout (s_ann_ivf_partitioned's dirs). The
    * symmetrize step is a groupBy on the edge key: edge-proportional,
    * not corpus-quadratic. Cosine parity is the left-fold dot
    * (functions.Vectors), so MAX over the two directions is exact
    * (per-component products commute — both directions fold the same
    * value). */
  val sKnnGraph: GraftQuery = GraftQuery.sql(
    "s_knn_graph",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |sym AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
       |          MAX(cosine) AS cosine, COUNT(*) AS n_dir FROM knn GROUP BY 1, 2)
       |SELECT a, b, cosine, CAST(n_dir AS BIGINT) AS n_dir,
       |  CAST(CASE WHEN n_dir = 2 THEN 1 ELSE 0 END AS BIGINT) AS mutual
       |FROM sym ORDER BY a, b""".stripMargin
  ) { (s, d) =>
    knnMutual(s, d)
      .select(col("a"), col("b"), col("mcos").as("cosine"), col("n_dir"),
        when(col("n_dir") === 2, 1L).otherwise(0L).as("mutual"))
      .orderBy(col("a"), col("b"))
  }

  /** TRIANGLE CENSUS over the mutual k-NN graph — the corpus-structure
    * signal downstream curation reads off the graph s_knn_graph
    * builds: a triangle of RECIPROCAL neighbors is the strongest
    * local evidence of a tight semantic cluster (dedup candidates,
    * topic knots), and per-cell triangle density is the
    * graph-quality number an ANN deployment tracks. Classic
    * distributed triangle counting: canonical a<b edges, two
    * equi-joins (e1.b=e2.a wedge build, closing-edge check) — never
    * enumerates node neighborhoods driver-side; triangles are
    * cell-local by construction (every edge is within-cell), so the
    * joins inherit the cell blocking and the edge table is
    * ≤ K·N/2 rows whatever the corpus size. Output: per-cell nodes,
    * mutual edges, triangles — exact integers on both engines. */
  val gKnnTriangles: GraftQuery = GraftQuery.sql(
    "g_knn_triangles",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |tri AS (SELECT e1.cid, COUNT(*) AS n_tri
       |        FROM me e1 JOIN me e2 ON e1.b = e2.a
       |                   JOIN me e3 ON e3.a = e1.a AND e3.b = e2.b
       |        GROUP BY e1.cid),
       |nn AS (SELECT cid, COUNT(*) AS n_nodes FROM cl GROUP BY cid),
       |ne AS (SELECT cid, COUNT(*) AS n_edges FROM me GROUP BY cid)
       |SELECT nn.cid, CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(COALESCE(ne.n_edges, 0) AS BIGINT) AS n_mutual_edges,
       |  CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_triangles
       |FROM nn LEFT JOIN ne ON nn.cid = ne.cid LEFT JOIN tri ON nn.cid = tri.cid
       |ORDER BY nn.cid""".stripMargin
  ) { (s, d) =>
    val cl = knnDirected(s, d)._1
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"))
    val e2 = me.select(col("a").as("wa"), col("b").as("wb"))
    val e3 = me.select(col("a").as("ca"), col("b").as("cb"))
    val tri = me.join(e2, col("b") === col("wa"))
      .join(e3, col("a") === col("ca") && col("wb") === col("cb"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_tri"))
    val nn = cl.groupBy(col("cid")).agg(count(lit(1)).as("n_nodes"))
    val ne = me.groupBy(col("cid").as("necid")).agg(count(lit(1)).as("n_edges"))
    nn.join(ne, col("cid") === col("necid"), "left")
      .join(tri.withColumnRenamed("cid", "tcid"), col("cid") === col("tcid"), "left")
      .select(col("cid"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_mutual_edges"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .orderBy(col("cid"))
  }

  /** SEMANTIC COMPONENTS over the mutual k-NN graph — the cluster
    * extraction step downstream pipelines run on the graph artifact
    * (near-dup groups beyond pairwise thresholds, topic knots for
    * diversity sampling; the graph-component flavor of what
    * d_semdedup does with k-means cells): connected components of
    * the RECIPROCAL-edge graph, summarized per component. Reuses the
    * two production pieces end-to-end — candidate generation is the
    * persisted cell layout (edges are cell-local equi-joins, never
    * all-pairs), and the closure is api.Graft.dedup.dupClusters
    * (pointer-jumped min-label propagation, O(log n) rounds; driver
    * union-find below the adjudicated 2M-pair threshold). Because
    * every mutual edge lives inside one IVF cell, components never
    * span cells, so component diameter — and the propagation round
    * count — is bounded by the ~constant cell population however
    * large the corpus grows. The oracle recomputes the same closure
    * as a recursive CTE over the same edge CTEs: two independent
    * formulations of transitive closure over an identically-derived
    * graph. Output: component label (min member id), its cell,
    * member count, reciprocal-edge count — exact integers. */
  val gKnnComponents: GraftQuery = GraftQuery.sql(
    "g_knn_components",
    s"""WITH RECURSIVE $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |ed AS (SELECT a AS src, b AS dst FROM me
       |       UNION ALL SELECT b AS src, a AS dst FROM me),
       |reach AS (SELECT src AS node, src AS lbl FROM ed
       |          UNION
       |          SELECT e.dst AS node, r.lbl AS lbl
       |          FROM reach r JOIN ed e ON r.node = e.src),
       |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
       |cm AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY 1),
       |ce AS (SELECT c.component, COUNT(*) AS n_edges, MAX(m.cid) AS cid
       |       FROM me m JOIN comp c ON m.a = c.node GROUP BY 1)
       |SELECT cm.component, ce.cid, CAST(cm.n_members AS BIGINT) AS n_members,
       |  CAST(ce.n_edges AS BIGINT) AS n_edges
       |FROM cm JOIN ce ON cm.component = ce.component
       |ORDER BY cm.component""".stripMargin
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"))
    val labels = graft.api.Graft.dedup.dupClusters(me, "a", "b")
    val cm = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    val ce = me.join(labels, col("a") === col("node"))
      .groupBy(col("lbl").as("elbl"))
      .agg(count(lit(1)).as("n_edges"), max(col("cid")).as("cid"))
    cm.join(ce, col("lbl") === col("elbl"))
      .select(col("lbl").as("component"), col("cid"), col("n_members"),
        col("n_edges"))
      .orderBy(col("component"))
  }

  /** The elementwise SQ8 dequantization expression (shared shape of
    * both engines): code = clamp(floor((x−mn)·255/rng)), value =
    * mn + (code+0.5)·rng/255 (midpoint reconstruction — the exact
    * inverse of the 255-level quantizer, roundtrip error ≤ rng/510;
    * a /256 reconstruction is NOT the inverse and biases every value
    * by ~rng/500, which the spec's error bound catches). Operator
    * association is written identically on both sides so every IEEE
    * intermediate matches bit-for-bit. */
  private def sq8DequantSpark(dim: Int): String =
    s"""transform(sequence(1, $dim), i ->
       |  element_at(mn, i) + (least(floor(CASE WHEN element_at(rng, i) > 0d
       |      THEN (element_at(v, i) - element_at(mn, i)) * 255d / element_at(rng, i)
       |      ELSE 0d END), 255d) + 0.5d) * element_at(rng, i) / 255d)""".stripMargin

  private def sq8DequantSql(dim: Int): String =
    s"""list_transform(generate_series(1, $dim), i ->
       |  mn[i] + (LEAST(FLOOR(CASE WHEN rng[i] > 0
       |      THEN (v[i] - mn[i]) * 255 / rng[i]
       |      ELSE 0 END), 255) + 0.5) * rng[i] / 255)""".stripMargin

  /** IVF + SCALAR QUANTIZATION (SQ8) — the FAISS IVF_SQ8 index shape:
    * the cell-probed search of s_ann_ivf runs over 8-bit-quantized
    * codes instead of the float corpus. Per-dimension [min, max]
    * bounds are ONE tiny aggregate (dim rows — posexplode + min/max,
    * map-side combined; broadcast back as two dim-length arrays);
    * each vector stores only its byte codes (64 B vs 256 B of floats
    * at dim 64 — a 4× scan-bandwidth cut, the reason this index
    * exists), and scoring dequantizes by midpoint reconstruction
    * (mn + (code+0.5)·rng/255) inside the probe join. Quantize and
    * dequantize are fused here (the roundtrip is exercised end to
    * end; a layout variant would persist the byte codes like
    * s_ann_ivf_partitioned persists cells). Candidates stay the IVF
    * cell equi-join — quantization changes the bytes scanned, never
    * the blocking — and approximate cosine = dot(q, dequant(x)) /
    * (|q|·|dequant(x)|) with the proven left-fold parity, so ranks
    * are bit-deterministic cross-engine. */
  val sAnnIvfSq8: GraftQuery = GraftQuery.sql(
    "s_ann_ivf_sq8",
    sq8OracleSql
  ) { (s, d) =>
    val asg = ivfAssignment(s, d)
    val cells = graft.ScopedCache(asg.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid")))
    val bnd = cells.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), (max(col("x")) - min(col("x"))).as("rng"))
    val ba = bnd.agg(
      transform(sort_array(collect_list(struct(col("pos"), col("mn")))),
        x => x.getField("mn")).as("mn"),
      transform(sort_array(collect_list(struct(col("pos"), col("rng")))),
        x => x.getField("rng")).as("rng"))
    val cq = cells.crossJoin(broadcast(ba))
      .select(col("vec_id"), col("cid"), expr(sq8DequantSpark(M * SubDim)).as("xq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    cq.join(broadcast(ivfProbes(asg).withColumnRenamed("pcid", "pc")),
        col("cid") === col("pc") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("xq")) /
          (col("qnrm") * Vectors.norm(col("xq")))).as("acos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("acos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** BFS hop cap — bounds the oracle recursion AND the Spark loop
    * identically; cell-local components make real eccentricities tiny
    * (cap hit only on a pathological chain, reported as unreached). */
  val KnnBfsMaxHops = 12

  /** BFS HOP PROFILE over the mutual k-NN graph — the transitivity
    * audit of the near-dup relation: hop 1 from a cluster's canonical
    * node is a direct reciprocal neighbor, hop ≥2 is a CHAINED
    * near-dup (kept only because of an intermediate doc — exactly the
    * members a conservative dedup pass re-examines), and nodes
    * unreached from any seed are edge-bearing but in a different
    * component of their cell. Seeds = min edge-endpoint per cell; the
    * Spark side is PATH-DOUBLED min-plus BFS (Graft.graph.bfsHops):
    * squaring the bounded length relation three times then composing
    * the seeds through it — 4 sequential jobs where the r8
    * level-synchronous loop paid 13, so wall-time no longer scales
    * with hop budget × scheduler latency (VERDICT r8 `weak` item).
    * The oracle walks the same edges with a bounded recursive CTE
    * and takes MIN(hop). Because every edge is cell-local,
    * components — and with them the squared relation — stay bounded
    * by cell population however large the corpus. Output: nodes per
    * hop (-1 = unreached), exact integers. */
  val gKnnHops: GraftQuery = GraftQuery.sql(
    "g_knn_hops",
    s"""WITH RECURSIVE $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |ed AS (SELECT a AS src, b AS dst FROM me
       |       UNION ALL SELECT b AS src, a AS dst FROM me),
       |seed AS (SELECT MIN(a) AS node FROM me GROUP BY cid),
       |walk AS (SELECT node, 0 AS hop FROM seed
       |         UNION
       |         SELECT e.dst AS node, w.hop + 1 AS hop
       |         FROM walk w JOIN ed e ON w.node = e.src
       |         WHERE w.hop < $KnnBfsMaxHops),
       |dist AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node),
       |uni AS (SELECT DISTINCT src AS node FROM ed)
       |SELECT CAST(COALESCE(d.hop, -1) AS BIGINT) AS hop,
       |  COUNT(*) AS n_nodes
       |FROM uni u LEFT JOIN dist d ON u.node = d.node
       |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"))
    val ed = me.select(col("a").as("src"), col("b").as("dst"))
      .union(me.select(col("b").as("src"), col("a").as("dst")))
    val seeds = me.groupBy(col("cid")).agg(min(col("a")).as("node"))
    // the BFS engine (path-doubled min-plus: 3 squaring jobs + one
    // compose at the hop cap of 12) lives in the public API —
    // Graft.graph.bfsHops
    val dist = graft.api.Graft.graph.bfsHops(ed, seeds, KnnBfsMaxHops)
    ed.select(col("src").as("node")).distinct()
      .join(dist, Seq("node"), "left")
      .groupBy(coalesce(col("hop"), lit(-1L)).as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hop"))
  }

  /** LOCAL CLUSTERING COEFFICIENT over the mutual k-NN graph — the
    * per-node tightness score downstream curation ranks on (a node
    * whose reciprocal neighbors are themselves reciprocal neighbors
    * sits in a dense semantic knot — near-dup risk, low marginal
    * value for training; a low-coefficient node is a bridge/outlier —
    * diversity signal). Classic definition c(v) = 2·T(v) / (deg(v)·
    * (deg(v)−1)), reported in integer PER-MILLE via floor division —
    * both engines compute ⌊2000·T / (deg·(deg−1))⌋ on exact integers,
    * no floating point. Triangle incidence reuses the SAME wedge-join
    * census as g_knn_triangles (each triangle credits its 3 corners
    * via a row-local array explode — no extra joins), degrees are one
    * groupBy over the edge endpoints, and every edge is cell-local by
    * construction, so per-node work is bounded by the ~constant cell
    * population at any corpus size. Nodes with deg < 2 (coefficient
    * undefined) are excluded on both engines. */
  val gKnnClusteringCoeff: GraftQuery = GraftQuery.sql(
    "g_knn_clustering_coeff",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |dg AS (SELECT node, COUNT(*) AS deg FROM (
       |         SELECT a AS node FROM me UNION ALL SELECT b AS node FROM me)
       |       GROUP BY 1),
       |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |       FROM me e1 JOIN me e2 ON e1.b = e2.a
       |                  JOIN me e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tn AS (SELECT node, COUNT(*) AS n_tri FROM (
       |         SELECT x AS node FROM tr UNION ALL SELECT y FROM tr
       |         UNION ALL SELECT z FROM tr)
       |       GROUP BY 1)
       |SELECT dg.node AS node, MAX(cl.cid) AS cid,
       |  CAST(dg.deg AS BIGINT) AS deg,
       |  CAST(COALESCE(MAX(tn.n_tri), 0) AS BIGINT) AS n_tri,
       |  CAST((2000 * COALESCE(MAX(tn.n_tri), 0)) //
       |       (dg.deg * (dg.deg - 1)) AS BIGINT) AS coeff_pm
       |FROM dg JOIN cl ON dg.node = cl.vec_id
       |        LEFT JOIN tn ON dg.node = tn.node
       |WHERE dg.deg >= 2
       |GROUP BY dg.node, dg.deg
       |ORDER BY node""".stripMargin
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"))
    val dg = me.select(col("a").as("node"))
      .union(me.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val e2 = me.select(col("a").as("wa"), col("b").as("wb"))
    val e3 = me.select(col("a").as("ca"), col("b").as("cb"))
    // Each triangle credits its three corners row-locally.
    val tn = me.join(e2, col("b") === col("wa"))
      .join(e3, col("a") === col("ca") && col("wb") === col("cb"))
      .select(explode(array(col("a"), col("b"), col("wb"))).as("tnode"))
      .groupBy(col("tnode")).agg(count(lit(1)).as("n_tri"))
    val cid = knnDirected(s, d)._1.select(col("vec_id").as("cnode"), col("cid"))
    dg.filter(col("deg") >= 2)
      .join(tn, col("node") === col("tnode"), "left")
      .join(cid, col("node") === col("cnode"))
      .select(col("node"), col("cid"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_pm", expr("(2000 * n_tri) div (deg * (deg - 1))"))
      .orderBy(col("node"))
  }

  // MMR: select MmrK of MmrCand candidates, relevance weight 0.7.
  val MmrCand = 20; val MmrK = 5

  /** MMR DIVERSIFIED RERANK — maximal marginal relevance (Carbonell &
    * Goldstein 1998), the standard post-retrieval diversification
    * every RAG stack runs: a plain top-k returns five near-copies of
    * the same best hit; MMR greedily picks argmax of
    * 0.7·relevance − 0.3·max-similarity-to-already-picked, so each
    * pick buys new information. First pick is pure relevance; four
    * further unrolled greedy stages (bounded k ⇒ bounded plan).
    *
    * Scale shape: retrieval cost is the candidate fetch (here the
    * brute-force truth arm for determinism; any index arm drops in).
    * Everything after is per-query bounded: the candidate×candidate
    * similarity frame is Q·C² rows with C=20 fixed, and the greedy
    * selection itself runs as ONE typed mapGroups fold per query
    * over that bounded frame — selection is inherently sequential
    * in k but local per query, so the distributed axis is queries,
    * not greedy stages (an unrolled join-per-stage plan computes the
    * same thing in ~3k·Q-row joins and pays a stage wave per stage —
    * plan-audited out; the oracle keeps the unrolled form, which IS
    * the relational semantics being matched). The corpus is never
    * touched after candidate fetch. Floats stay parity-safe: cosines
    * are the family's left-fold dot (bit-identical to the oracle's
    * list_reduce), and 0.7·x − 0.3·y on identical doubles is
    * identical IEEE arithmetic in JVM and DuckDB. */
  val sMmrRerank: GraftQuery = GraftQuery.sql(
    "s_mmr_rerank", {
      val stages = (2 to MmrK).map { i =>
        s"""rem$i AS (SELECT c.* FROM cand c LEFT JOIN sel${i - 1} s
           |  ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
           |  WHERE s.neighbor_id IS NULL),
           |ms$i AS (SELECT r.query_id, r.neighbor_id, r.rel, MAX(p.sim) AS m
           |  FROM rem$i r JOIN ps p ON p.query_id = r.query_id AND p.ca = r.neighbor_id
           |  JOIN sel${i - 1} s ON s.query_id = p.query_id AND s.neighbor_id = p.cb
           |  GROUP BY r.query_id, r.neighbor_id, r.rel),
           |pick$i AS (SELECT query_id, neighbor_id, rel FROM (
           |  SELECT query_id, neighbor_id, rel,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY 0.7 * rel - 0.3 * m DESC, neighbor_id) AS rk
           |  FROM ms$i) t WHERE rk = 1),
           |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
           |  SELECT query_id, neighbor_id, rel, $i AS rank FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $corpusSql,
         |q AS (SELECT * FROM n WHERE vec_id < $QueryCount),
         |cand AS (SELECT query_id, neighbor_id, cosine AS rel FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    ${Vectors.dotSql("q.v", "n.v")} / (q.nrm * n.nrm) AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${Vectors.dotSql("q.v", "n.v")} / (q.nrm * n.nrm) DESC,
         |        n.vec_id) AS rk
         |  FROM q JOIN n ON q.vec_id <> n.vec_id) t WHERE rk <= $MmrCand),
         |ps AS (SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
         |    ${Vectors.dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS sim
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
         |  JOIN n x ON a.neighbor_id = x.vec_id
         |  JOIN n y ON b.neighbor_id = y.vec_id),
         |sel1 AS (SELECT query_id, neighbor_id, rel, 1 AS rank FROM (
         |  SELECT query_id, neighbor_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, neighbor_id) AS rk FROM cand) t WHERE rk = 1),
         |$stages
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |  rel AS cosine
         |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cand =
      graft.api.Graft.ann.cosineTopK(e, e.filter(col("vec_id") < QueryCount),
          "vec_id", "embedding", MmrCand)
        .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
    val n = corpus(s, d) // shared zero-norm gate + family memoization
    // every candidate PAIR with both its row's relevance and the
    // pairwise sim — C·(C−1) rows per query, the bounded frame the
    // local greedy fold consumes. LEFT join: a query with a single
    // candidate has no pairs but must still form a group (the oracle
    // emits its rank-1 relevance pick), so the lone candidate rides
    // through with null partner columns.
    val pairs = cand.as("a")
      .join(cand.select(col("query_id").as("qb"), col("neighbor_id").as("cb")),
        col("query_id") === col("qb") && col("neighbor_id") =!= col("cb"), "left")
      .select(col("query_id"), col("neighbor_id").as("ca"), col("rel"), col("cb"))
      .join(n.select(col("vec_id"), col("v").as("xv"), col("nrm").as("xn")),
        col("ca") === col("vec_id")).drop("vec_id")
      .join(n.select(col("vec_id"), col("v").as("yv"), col("nrm").as("yn")),
        col("cb") === col("vec_id"), "left").drop("vec_id")
      .select(col("query_id"), col("ca"), col("rel"), col("cb"),
        when(col("cb").isNotNull,
          Vectors.dot(col("xv"), col("yv")) / (col("xn") * col("yn"))).as("sim"))
      .as[(Long, Long, Double, Option[Long], Option[Double])]
    pairs.groupByKey(_._1)
      .mapGroups { (q, it) =>
        val rows = it.toArray
        val rel = new scala.collection.mutable.HashMap[Long, Double]
        val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
        rows.foreach { case (_, ca, r, cb, sm) =>
          rel(ca) = r
          for (b <- cb; v <- sm) sim((ca, b)) = v
        }
        // greedy: pure-relevance first pick, then argmax of the MMR
        // affine score with (score desc, id asc) tie order — the
        // identical comparisons the oracle's unrolled stages make
        val first = rel.toSeq.minBy { case (id, r) => (-r, id) }._1
        val selected = scala.collection.mutable.ArrayBuffer(first)
        while (selected.size < MmrK && rel.size > selected.size) {
          val next = rel.iterator
            .filterNot { case (id, _) => selected.contains(id) }
            .map { case (id, r) =>
              val m = selected.iterator.map(sl => sim((id, sl))).max
              (id, 0.7 * r - 0.3 * m)
            }.minBy { case (id, sc) => (-sc, id) }._1
          selected += next
        }
        (q, selected.toSeq.zipWithIndex.map { case (id, i) =>
          (i + 1L, id, rel(id))
        })
      }
      .flatMap { case (q, picks) => picks.map(p => (q, p._1, p._2, p._3)) }
      .toDF("query_id", "rank", "neighbor_id", "cosine")
      .orderBy(col("query_id"), col("rank"))
  }

  /** SEMI-SUPERVISED LABEL PROPAGATION over the mutual k-NN graph —
    * the cheap-label amplifier (you can afford to hand-label or
    * trust-metadata-label 20% of a corpus; propagation pushes those
    * labels along semantic edges to the rest — the standard
    * weak-supervision step before training a classifier, and on this
    * graph the "label the near-dups of what you labeled" discipline):
    * seed nodes (every 5th id) carry their document's language; two
    * synchronous MONOTONE rounds — an unlabeled node takes the
    * MAJORITY label of its already-labeled neighbors under the
    * (count desc, label asc) total order, and once labeled is pinned
    * (the incremental-LPA variant: monotone, so deterministic and
    * expressible as two unrolled rounds on both engines, no
    * oscillation). Output: per label, nodes labeled at each hop.
    *
    * Scale: edges are the family's memoized mutual-kNN frame
    * (cell-local by construction); each round is one edge⋈labels
    * join + a majority rank over the vote aggregate (edge-
    * proportional, map-side combinable) — the g_pagerank/BFS
    * iterate family's cost model with a fixed 2-round unroll. */
  /** Shared oracle CTE chain for the label-propagation family:
    * mutual edges (me/ed), seeds, two monotone majority rounds,
    * ending in l2(node, lang, round). Both g_knn_label_prop and
    * g_knn_modularity read it verbatim — one definition of the
    * labeling on the SQL side. */
  private val labelPropCtes: String =
    s"""me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |ed AS (SELECT a AS src, b AS dst FROM me
       |       UNION ALL SELECT b AS src, a AS dst FROM me),
       |seeds AS (SELECT e2.vec_id AS node, d.lang
       |          FROM embeddings e2 JOIN documents d ON e2.vec_id = d.doc_id
       |          WHERE e2.vec_id % 5 = 0),
       |v1 AS (SELECT e.dst AS node, s.lang, COUNT(*) AS c
       |       FROM ed e JOIN seeds s ON e.src = s.node
       |       WHERE e.dst NOT IN (SELECT node FROM seeds)
       |       GROUP BY e.dst, s.lang),
       |p1 AS (SELECT node, lang FROM (
       |       SELECT node, lang, ROW_NUMBER() OVER (PARTITION BY node
       |         ORDER BY c DESC, lang) AS rk FROM v1) t WHERE rk = 1),
       |l1 AS (SELECT node, lang, 0 AS round FROM seeds
       |       UNION ALL SELECT node, lang, 1 FROM p1),
       |v2 AS (SELECT e.dst AS node, l.lang, COUNT(*) AS c
       |       FROM ed e JOIN l1 l ON e.src = l.node
       |       WHERE e.dst NOT IN (SELECT node FROM l1)
       |       GROUP BY e.dst, l.lang),
       |p2 AS (SELECT node, lang FROM (
       |       SELECT node, lang, ROW_NUMBER() OVER (PARTITION BY node
       |         ORDER BY c DESC, lang) AS rk FROM v2) t WHERE rk = 1),
       |l2 AS (SELECT * FROM l1 UNION ALL SELECT node, lang, 2 FROM p2)""".stripMargin

  /** Spark twin of labelPropCtes: (node, lang, round) assignments.
    * FAMILY-memoized (keyed on the embeddings content signature, plus
    * the documents signature the seeds read) so the label board and
    * the modularity score share ONE materialized labeling in-suite —
    * without it the second consumer re-ran both majority rounds
    * (+3 s measured); inner rounds still ScopedCache so round 2
    * never recomputes round 1 on a cold build. */
  private def labelPropAssignments(s: SparkSession, d: String): DataFrame =
    famMemoized(s, d, "label_prop", Lake.tablesSig(s, d, Seq("embeddings", "documents")))(
      labelPropBuild(s, d))

  private def labelPropBuild(s: SparkSession, d: String): DataFrame = {
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
    val ed = me.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(me.select(col("b").as("src"), col("a").as("dst")))
    val seeds = Tables.embeddings(s, d).select(col("vec_id").as("node"))
      .filter(col("node") % 5 === 0)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("node") === col("doc_id"))
      .select(col("node"), col("lang"))
    def round(labeled: DataFrame): DataFrame = {
      val votes = ed
        .join(labeled.select(col("node").as("sn"), col("lang")),
          col("src") === col("sn"))
        .join(labeled.select(col("node").as("xn")),
          col("dst") === col("xn"), "left_anti")
        .groupBy(col("dst").as("node"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val wMaj = Window.partitionBy(col("node")).orderBy(col("c").desc, col("lang"))
      votes.withColumn("rk", row_number().over(wMaj)).filter(col("rk") === 1)
        .select(col("node"), col("lang"))
    }
    val l0 = graft.ScopedCache(seeds.withColumn("round", lit(0)))
    val p1 = graft.ScopedCache(round(l0).withColumn("round", lit(1)))
    val l1 = graft.ScopedCache(l0.unionByName(p1))
    val p2 = round(l1).withColumn("round", lit(2))
    l1.unionByName(p2)
  }

  val gKnnLabelProp: GraftQuery = GraftQuery.sql(
    "g_knn_label_prop",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |$labelPropCtes
       |SELECT lang,
       |  CAST(SUM(CASE WHEN round = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
       |  CAST(SUM(CASE WHEN round = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop1,
       |  CAST(SUM(CASE WHEN round = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop2,
       |  COUNT(*) AS n_labeled
       |FROM l2 GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    labelPropAssignments(s, d)
      .groupBy(col("lang"))
      .agg(sum(when(col("round") === 0, 1L).otherwise(0L)).as("n_seeds"),
        sum(when(col("round") === 1, 1L).otherwise(0L)).as("n_hop1"),
        sum(when(col("round") === 2, 1L).otherwise(0L)).as("n_hop2"),
        count(lit(1)).as("n_labeled"))
      .orderBy(col("lang"))
  }

  // Graph-walk search depth (greedy hops after the coarse entry).
  val GraphHops = 3

  /** GRAPH-WALK ANN — greedy best-first search over the mutual k-NN
    * graph (the HNSW/NSG family's base-layer search, the one index
    * shape the arm set lacked: LSH hashes, IVF partitions, PQ
    * compresses — graph methods NAVIGATE, following edges toward the
    * query and probing a tiny fraction of the corpus): entry = best
    * coarse centroid per query, then GraphHops greedy steps — each
    * hop evaluates the current node's mutual neighbors against the
    * query and moves to the best of (neighbors ∪ current) — and the
    * answer is the top-5 of every node EVALUATED along the walk.
    * Deterministic: exact left-fold cosines, (cosine desc, id) tie
    * order, a hop with no edges stays put; the oracle unrolls the
    * identical walk.
    *
    * Scale shape: per hop the Q-sized current frame equi-joins the
    * edge table — the frontier join IS distributed graph-ANN search
    * (edges would be bucketed by src at 100 TB); work per hop is
    * Q·degree, never corpus-proportional, and the walk shares the
    * family's memoized mutual-edge frame. */
  val sAnnGraph: GraftQuery = GraftQuery.sql(
    "s_ann_graph", {
      def cosQ(v: String, nrm: String) =
        s"${Vectors.dotSql("q.qv", v)} / (q.qn * $nrm)"
      val hops = (1 to GraphHops).map { i =>
        val prev = if (i == 1) "e0" else s"c${i - 1}"
        s"""s$i AS (SELECT e.qid, ed.dst AS cand,
           |    ${cosQ("x.v", "x.nrm")} AS cos
           |  FROM $prev e JOIN ed ON ed.src = e.cur
           |  JOIN n x ON ed.dst = x.vec_id JOIN qq q ON q.qid = e.qid),
           |c$i AS (SELECT qid, cur, curcos FROM (
           |  SELECT qid, id AS cur, cos AS curcos,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY cos DESC, id) AS rk
           |  FROM (SELECT qid, cand AS id, cos FROM s$i
           |        UNION SELECT qid, cur AS id, curcos AS cos FROM $prev) u
           |  ) t WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val visited = ("SELECT qid, cur AS id, curcos AS cos FROM e0" +:
        (1 to GraphHops).map(i => s"SELECT qid, cand, cos FROM s$i"))
        .mkString("\n        UNION ")
      s"""WITH $corpusSql,
         |$knnCtesSql,
         |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
         |ed AS (SELECT a AS src, b AS dst FROM me
         |       UNION ALL SELECT b AS src, a AS dst FROM me),
         |qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
         |       WHERE vec_id < $QueryCount),
         |e0 AS (SELECT qid, cur, curcos FROM (
         |  SELECT q.qid, c.vec_id AS cur, ${cosQ("c.v", "c.nrm")} AS curcos,
         |    ROW_NUMBER() OVER (PARTITION BY q.qid
         |      ORDER BY ${cosQ("c.v", "c.nrm")} DESC, c.vec_id) AS rk
         |  FROM qq q CROSS JOIN (SELECT * FROM n WHERE vec_id < $NCells) c
         |  ) t WHERE rk = 1),
         |$hops,
         |vis AS ($visited)
         |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank,
         |  id AS neighbor_id, cos AS cosine
         |FROM (SELECT qid, id, cos, ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, id) AS rn
         |      FROM vis WHERE id <> qid) f
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    }
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
    val ed = me.select(col("a").as("esrc"), col("b").as("edst"))
      .unionByName(me.select(col("b").as("esrc"), col("a").as("edst")))
    val n = corpus(s, d) // shared zero-norm gate + family memoization
    val qq = n.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val cents = n.filter(col("vec_id") < NCells)
    val wBest = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    def best(cands: DataFrame): DataFrame =
      cands.withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
        .select(col("qid"), col("qv"), col("qn"),
          col("id").as("cur"), col("cos").as("curcos"))
    var cur = best(qq.crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("qn"), col("vec_id").as("id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))
    var vis = cur.select(col("qid"), col("cur").as("id"), col("curcos").as("cos"))
    for (_ <- 1 to GraphHops) {
      val si = cur.join(ed, col("cur") === col("esrc"))
        .join(n.select(col("vec_id"), col("v").as("xv"), col("nrm").as("xn")),
          col("edst") === col("vec_id"))
        .select(col("qid"), col("qv"), col("qn"), col("edst").as("id"),
          (Vectors.dot(col("qv"), col("xv")) / (col("qn") * col("xn"))).as("cos"))
      vis = vis.unionByName(si.select(col("qid"), col("id"), col("cos")))
      cur = best(si.unionByName(cur.select(col("qid"), col("qv"), col("qn"),
        col("cur").as("id"), col("curcos").as("cos"))))
    }
    val wOut = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    vis.distinct()
      .filter(col("id") =!= col("qid"))
      .withColumn("rn", row_number().over(wOut))
      .filter(col("rn") <= 5)
      .select(col("qid").as("query_id"), col("rn").cast("long").as("rank"),
        col("id").as("neighbor_id"), col("cos").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The both-endpoints-labeled mutual-edge frame (sl, dl) — shared
    * by the community-quality pair (modularity, conductance), family-
    * memoized AND lineage-cut: the frame is referenced by multiple
    * aggregate legs per consumer, each of which would otherwise carry
    * two copies of the label tree (which itself embeds the knn
    * pipeline — the probe measured ~6 s of pure Catalyst planning per
    * run with every data memo warm). Checkpoint-truncating at the
    * 2-column edge frame makes every leg plan against a leaf, and the
    * memo means the second consumer pays nothing at all. */
  private def labeledEdges(s: SparkSession, d: String): DataFrame =
    famMemoized(s, d, "lbl_edges", embSig(s, d)) {
      val lbl = labelPropAssignments(s, d).select(col("node"), col("lang"))
      ckptLineage(s,
        knnMutual(s, d).filter(col("n_dir") === 2)
          .join(lbl.select(col("node").as("na"), col("lang").as("sl")),
            col("a") === col("na"))
          .join(lbl.select(col("node").as("nb"), col("lang").as("dl")),
            col("b") === col("nb"))
          .select(col("sl"), col("dl")))
    }

  /** COMMUNITY MODULARITY of the propagated labeling — the quality
    * score that says whether g_knn_label_prop's communities are REAL
    * graph structure (Newman modularity: intra-community edge mass
    * minus what a degree-preserving random graph would put there;
    * ≈0‰ means the labels ignore the topology, strongly positive
    * means semantic labels align with semantic edges — the check a
    * weak-supervision pipeline runs before trusting propagated
    * labels as training data): per label over the both-endpoints-
    * labeled subgraph, intra-edge count, degree mass, and the
    * modularity contribution ⌊1000·(4m·e_c − d_c²)/(4m²)⌋ — the
    * textbook e_c/m − (d_c/2m)² cross-multiplied into pure integer
    * arithmetic (Int64-safe while 4m² < 2⁶³, i.e. m < 1.5×10⁹
    * labeled edges; beyond, decimal — and both engines widen
    * together or the gate fails).
    *
    * Scale: the labeled-edge frame is two hash joins of the memoized
    * mutual edges against the assignment frame; everything after is
    * label-cardinality bounded. */
  val gKnnModularity: GraftQuery = GraftQuery.sql(
    "g_knn_modularity",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |$labelPropCtes,
       |lbl AS (SELECT node, lang FROM l2),
       |le AS (SELECT la.lang AS sl, lb.lang AS dl FROM me
       |       JOIN lbl la ON me.a = la.node JOIN lbl lb ON me.b = lb.node),
       |mm AS (SELECT COUNT(*) AS m FROM le),
       |ec AS (SELECT sl AS lang, COUNT(*) AS e_c FROM le
       |       WHERE sl = dl GROUP BY sl),
       |dc AS (SELECT lang, COUNT(*) AS d_c FROM (
       |       SELECT sl AS lang FROM le UNION ALL SELECT dl FROM le) u
       |       GROUP BY lang)
       |SELECT dc.lang, CAST(COALESCE(ec.e_c, 0) AS BIGINT) AS intra_edges,
       |  CAST(dc.d_c AS BIGINT) AS degree_mass,
       |  CAST((1000 * (4 * m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c))
       |    // (4 * m * m) AS BIGINT) AS contribution_pm
       |FROM dc LEFT JOIN ec ON dc.lang = ec.lang CROSS JOIN mm
       |ORDER BY dc.lang""".stripMargin
  ) { (s, d) =>
    val le = labeledEdges(s, d)
    val mm = le.agg(count(lit(1)).as("m"))
    val ec = le.filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("eclang")).agg(count(lit(1)).as("e_c"))
    val dc = le.select(col("sl").as("lang"))
      .unionByName(le.select(col("dl").as("lang")))
      .groupBy(col("lang")).agg(count(lit(1)).as("d_c"))
    dc.join(ec, col("lang") === col("eclang"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(mm)) // 1-row scalar — the adjudicated tiny class
      .select(col("lang"), col("e_c").as("intra_edges"),
        col("d_c").as("degree_mass"),
        expr("(1000 * (4 * m * e_c - d_c * d_c)) div (4 * m * m)")
          .as("contribution_pm"))
      .orderBy(col("lang"))
  }

  /** COMMUNITY CONDUCTANCE of the propagated labeling — the
    * complementary cut-quality score to g_knn_modularity (modularity
    * asks "is there MORE intra-community mass than chance"; the
    * conductance φ(S) = cut(S) / min(vol(S), vol(V∖S)) asks "how
    * LEAKY is each community's boundary" — the score spectral/
    * Cheeger-style partition evaluation cuts on, and the per-
    * community diagnostic that flags WHICH label bleeds across the
    * graph even when aggregate modularity looks healthy): per label
    * over the both-endpoints-labeled subgraph, boundary edge count
    * (edges with exactly one endpoint in the label — each such edge
    * is in BOTH endpoints' cuts), degree mass, and
    * ⌊1000·cut/min(vol, 2m−vol)⌋ — pure integer arithmetic, exact in
    * both engines; a community spanning the whole graph (min = 0)
    * reports 0 by convention.
    *
    * Scale: one pass over the family-memoized labeled-edge frame
    * (shared with modularity — the memo means whichever of the pair
    * runs second pays only label-cardinality-bounded aggregates). */
  val gKnnConductance: GraftQuery = GraftQuery.sql(
    "g_knn_conductance",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |$labelPropCtes,
       |lbl AS (SELECT node, lang FROM l2),
       |le AS MATERIALIZED (SELECT la.lang AS sl, lb.lang AS dl FROM me
       |       JOIN lbl la ON me.a = la.node JOIN lbl lb ON me.b = lb.node),
       |mm AS (SELECT COUNT(*) AS m FROM le),
       |cut AS (SELECT lang, COUNT(*) AS cut_c FROM (
       |        SELECT sl AS lang FROM le WHERE sl <> dl
       |        UNION ALL SELECT dl FROM le WHERE sl <> dl) u GROUP BY lang),
       |dc AS (SELECT lang, COUNT(*) AS d_c FROM (
       |       SELECT sl AS lang FROM le UNION ALL SELECT dl FROM le) u
       |       GROUP BY lang)
       |SELECT dc.lang, CAST(COALESCE(cut.cut_c, 0) AS BIGINT) AS cut_edges,
       |  CAST(dc.d_c AS BIGINT) AS degree_mass,
       |  CAST(CASE WHEN LEAST(dc.d_c, 2 * m - dc.d_c) > 0
       |    THEN (1000 * COALESCE(cut.cut_c, 0)) // LEAST(dc.d_c, 2 * m - dc.d_c)
       |    ELSE 0 END AS BIGINT) AS conductance_pm
       |FROM dc LEFT JOIN cut ON dc.lang = cut.lang CROSS JOIN mm
       |ORDER BY dc.lang""".stripMargin
  ) { (s, d) =>
    val le = labeledEdges(s, d)
    val mm = le.agg(count(lit(1)).as("m"))
    val cut = le.filter(col("sl") =!= col("dl"))
    val cutC = cut.select(col("sl").as("clang"))
      .unionByName(cut.select(col("dl").as("clang")))
      .groupBy(col("clang")).agg(count(lit(1)).as("cut_c"))
    val dc = le.select(col("sl").as("lang"))
      .unionByName(le.select(col("dl").as("lang")))
      .groupBy(col("lang")).agg(count(lit(1)).as("d_c"))
    dc.join(cutC, col("lang") === col("clang"), "left")
      .na.fill(0L, Seq("cut_c"))
      .crossJoin(broadcast(mm)) // 1-row scalar — the adjudicated tiny class
      .select(col("lang"), col("cut_c").as("cut_edges"),
        col("d_c").as("degree_mass"),
        when(least(col("d_c"), lit(2) * col("m") - col("d_c")) > 0,
          expr("(1000 * cut_c) div least(d_c, 2 * m - d_c)"))
          .otherwise(0L).as("conductance_pm"))
      .orderBy(col("lang"))
  }

  /** SNN EDGE WEIGHTS over the mutual k-NN graph — per-edge
    * shared-nearest-neighbor Jaccard (Ertöz–Steinbach–Kumar SNN
    * similarity; the edge re-weighting step density-based semantic
    * clustering runs before cutting: a reciprocal edge whose
    * endpoints ALSO share most of their other reciprocal neighbors
    * is intra-cluster wiring, one with no shared neighbors is a
    * spurious pairing or an inter-cluster bridge — exactly the edges
    * SNN clustering deletes first). For edge (a,b): common = number
    * of shared mutual-neighbors = triangles THROUGH the edge, union =
    * (deg(a)−1) + (deg(b)−1) − common, reported as integer per-mille
    * floor division (0 when the union is empty) — exact on both
    * engines, no floating point. Common-neighbor counting reuses the
    * g_knn_triangles wedge-join census with each triangle crediting
    * its THREE edges via a row-local array explode (all three are
    * already canonical a<b, so the credit lands by plain equi-key —
    * no re-canonicalization); degrees are one groupBy over edge
    * endpoints. Every edge is cell-local by construction, so the
    * wedge joins inherit the adaptive cell blocking and per-edge work
    * is bounded by the ~constant cell population at any corpus size;
    * output is edge-proportional (≤ K·N/2 rows), the s_knn_graph
    * artifact contract. */
  val gKnnJaccardEdges: GraftQuery = GraftQuery.sql(
    "g_knn_jaccard_edges",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |dg AS (SELECT node, COUNT(*) AS deg FROM (
       |         SELECT a AS node FROM me UNION ALL SELECT b AS node FROM me)
       |       GROUP BY 1),
       |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |       FROM me e1 JOIN me e2 ON e1.b = e2.a
       |                  JOIN me e3 ON e3.a = e1.a AND e3.b = e2.b),
       |ce AS (SELECT ea, eb, COUNT(*) AS com FROM (
       |         SELECT x AS ea, y AS eb FROM tr
       |         UNION ALL SELECT y, z FROM tr
       |         UNION ALL SELECT x, z FROM tr)
       |       GROUP BY 1, 2)
       |SELECT m.a, m.b, m.cid,
       |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
       |  CAST(COALESCE(ce.com, 0) AS BIGINT) AS common,
       |  CAST(CASE WHEN da.deg + db.deg - 2 - COALESCE(ce.com, 0) = 0 THEN 0
       |       ELSE (1000 * COALESCE(ce.com, 0)) //
       |            (da.deg + db.deg - 2 - COALESCE(ce.com, 0)) END AS BIGINT)
       |    AS jac_pm
       |FROM me m JOIN dg da ON m.a = da.node JOIN dg db ON m.b = db.node
       |LEFT JOIN ce ON m.a = ce.ea AND m.b = ce.eb
       |ORDER BY m.a, m.b""".stripMargin
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"))
    val dg = me.select(col("a").as("node"))
      .union(me.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val e2 = me.select(col("a").as("wa"), col("b").as("wb"))
    val e3 = me.select(col("a").as("ca"), col("b").as("cb"))
    // Each triangle credits its three (already-canonical) edges.
    val ce = me.join(e2, col("b") === col("wa"))
      .join(e3, col("a") === col("ca") && col("wb") === col("cb"))
      .select(explode(array(
        struct(col("a").as("ea"), col("b").as("eb")),
        struct(col("b").as("ea"), col("wb").as("eb")),
        struct(col("a").as("ea"), col("wb").as("eb")))).as("e"))
      .select(col("e.ea").as("ea"), col("e.eb").as("eb"))
      .groupBy(col("ea"), col("eb")).agg(count(lit(1)).as("com"))
    me.join(dg.select(col("node").as("na"), col("deg").as("deg_a")), col("a") === col("na"))
      .join(dg.select(col("node").as("nb"), col("deg").as("deg_b")), col("b") === col("nb"))
      .join(ce, col("a") === col("ea") && col("b") === col("eb"), "left")
      .select(col("a"), col("b"), col("cid"), col("deg_a"), col("deg_b"),
        coalesce(col("com"), lit(0L)).as("common"))
      .withColumn("jac_pm", expr(
        """CASE WHEN deg_a + deg_b - 2 - common = 0 THEN 0L
          |ELSE (1000 * common) div (deg_a + deg_b - 2 - common) END""".stripMargin))
      .orderBy(col("a"), col("b"))
  }

  /** Peel-round bound for g_knn_kcore — the SEMANTICS on both
    * engines is "R synchronous peel rounds", so the bound is part of
    * the operator definition (not a convergence hope): cell-local
    * components make real peel depths tiny, and an unconverged
    * pathological chain peels identically on both sides. */
  val KcoreRounds = 6

  /** Edge-row bound under which the k-core peel runs on the driver
    * (one collect of the cell-local mutual edges); above it the
    * distributed per-round shuffle+checkpoint peel is the scale
    * path — the dupClusters/MST regime discipline. Heap-derived
    * (ADVICE r15): boxed Rows + tuple peel state + the degree
    * HashMap cost ~300 B/edge, not the 16-byte payload. */
  def KcoreDriverBound: Long =
    sys.props.get("graft.regime.kcoreBound").flatMap(_.toLongOption)
      .getOrElse(graft.api.Graft.driverRegimeBound(2000000L, 300L))

  /** 2-CORE of the mutual k-NN graph via BOUNDED synchronous peeling
    * (Matula–Beck degeneracy peel, the k=2 slice): iteratively delete
    * degree-<2 nodes and their edges — what survives is the part of
    * the near-dup graph held up by REDUNDANT evidence (every core
    * member keeps ≥2 reciprocal neighbors after all pendant chains
    * unravel), versus the tree-like fringe where one spurious
    * reciprocal pairing is the only thing attaching a document to a
    * cluster. Curation reads the split directly: core = high-
    * confidence near-dup mass (safe to dedup aggressively), fringe =
    * single-evidence attachments (the members a conservative pass
    * re-examines — the g_knn_hops chain audit's set-level summary).
    * Exactly KcoreRounds synchronous rounds on BOTH engines (each:
    * degree census, drop deg<2 nodes, keep edges with both endpoints
    * alive — the oracle unrolls the same rounds as generated CTEs),
    * each round edge-proportional with map-side-combinable degree
    * counts and every edge cell-local, so peel work per round is
    * bounded by cell population at any corpus size; the Spark loop
    * CHECKPOINTS each round's edge frame (see the ckpt note in the
    * body) so the plan stays R shallow stages, not one ~5^R lineage.
    * Output per cell: population, mutual edges, core nodes/edges —
    * exact integers. */
  val gKnnKcore: GraftQuery = GraftQuery.sql(
    "g_knn_kcore", {
      // MATERIALIZED (DuckDB CTE hint — the oracle never runs in
      // Spark): each round references the previous k-frame 3x, so
      // letting the optimizer inline would multiply the knn pipeline
      // scan ~3^R times (observed as an EMFILE storm of parquet
      // opens at round 6) — the oracle-side twin of the Spark loop's
      // per-round checkpoint.
      val rounds = (1 to KcoreRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
           |  SELECT a AS node FROM k${i - 1} UNION ALL SELECT b AS node FROM k${i - 1})
           |  GROUP BY 1),
           |s$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 2),
           |k$i AS MATERIALIZED (SELECT e.a, e.b, e.cid FROM k${i - 1} e
           |  JOIN s$i x ON e.a = x.node JOIN s$i y ON e.b = y.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $corpusSql,
         |$knnCtesSql,
         |me AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid
         |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
         |k0 AS MATERIALIZED (SELECT a, b, cid FROM me),
         |$rounds,
         |cn AS (SELECT cid, COUNT(*) AS n_nodes FROM cl GROUP BY 1),
         |e0 AS (SELECT cid, COUNT(*) AS n_edges FROM k0 GROUP BY 1),
         |cv AS (SELECT cid, COUNT(*) AS core_nodes FROM (
         |         SELECT DISTINCT node, cid FROM (
         |           SELECT a AS node, cid FROM k$KcoreRounds
         |           UNION ALL SELECT b AS node, cid FROM k$KcoreRounds))
         |       GROUP BY 1),
         |ke AS (SELECT cid, COUNT(*) AS core_edges FROM k$KcoreRounds GROUP BY 1)
         |SELECT cn.cid, CAST(cn.n_nodes AS BIGINT) AS n_nodes,
         |  CAST(COALESCE(e0.n_edges, 0) AS BIGINT) AS n_mutual_edges,
         |  CAST(COALESCE(cv.core_nodes, 0) AS BIGINT) AS core_nodes,
         |  CAST(COALESCE(ke.core_edges, 0) AS BIGINT) AS core_edges
         |FROM cn LEFT JOIN e0 ON cn.cid = e0.cid
         |        LEFT JOIN cv ON cn.cid = cv.cid
         |        LEFT JOIN ke ON cn.cid = ke.cid
         |ORDER BY cn.cid""".stripMargin
    }
  ) { (s, d) =>
    val cl = knnDirected(s, d)._1
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"))
    // Lineage control each round (the bfsHops ckpt discipline, NOT
    // persist): each round references the previous frame ~5x (once
    // directly, twice via each alive side), and a persisted frame
    // still PRINTS its InMemoryRelation inner plan at every
    // reference — the AQE plan-update string grows ~5^R and the
    // driver OOMs building it. Checkpointing truncates the logical
    // plan itself: reliable checkpoint when the session has a
    // checkpoint dir (fault-tolerant on a real cluster), else
    // localCheckpoint (single-JVM bench/test runs).
    def ckpt(df: DataFrame): DataFrame = ckptLineage(s, df)
    val cn = cl.groupBy(col("cid")).agg(count(lit(1)).as("n_nodes"))
    // Regime pick, the dupClusters/MST discipline: the mutual-edge
    // frame is the blocked candidate OUTPUT (cell-local reciprocal
    // pairs), not the corpus — below the ~32 MB (long,long,long)
    // bound the whole peel runs on the driver from one collect,
    // exactly KcoreRounds rounds or to the (monotone) fixpoint, and
    // the per-cell census comes back as a LocalRelation the final
    // join broadcasts. The distributed peel (the r15 probe read 35
    // AQE jobs for its 6 shuffle+checkpoint rounds) stays the path
    // above the bound.
    val meC = graft.ScopedCache(me)
    val nMe = meC.count()
    val (e0, cv, ke) =
      if (nMe <= KcoreDriverBound) {
        val rows = meC.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        var es = rows
        var r = 0
        var converged = false
        while (r < KcoreRounds && !converged) {
          val deg = new java.util.HashMap[Long, Int]()
          es.foreach { case (a, b, _) =>
            deg.merge(a, 1, _ + _); deg.merge(b, 1, _ + _)
          }
          val keep = es.filter { case (a, b, _) => deg.get(a) >= 2 && deg.get(b) >= 2 }
          converged = keep.length == es.length
          es = keep
          r += 1
        }
        import s.implicits._
        val e0l = rows.groupBy(_._3).toSeq
          .map { case (c, g) => (c, g.length.toLong) }
          .toDF("ecid", "n_edges")
        val cvl = es.flatMap { case (a, b, c) => Seq((a, c), (b, c)) }
          .distinct.groupBy(_._2).toSeq
          .map { case (c, g) => (c, g.length.toLong) }
          .toDF("vcid", "core_nodes")
        val kel = es.groupBy(_._3).toSeq
          .map { case (c, g) => (c, g.length.toLong) }
          .toDF("kcid", "core_edges")
        (e0l, cvl, kel)
      } else {
        var edges = meC
        // FIXPOINT EARLY-EXIT (VERDICT r14 #3): peeling is monotone —
        // a round that removes no edge proves every later round is
        // the identity, so k_i = k_KcoreRounds and stopping is
        // output-identical to the oracle's fixed unroll.
        var nEdges = nMe
        var r = 0
        var converged = false
        while (r < KcoreRounds && !converged) {
          val alive = edges.select(col("a").as("node"))
            .union(edges.select(col("b").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 2).select(col("node"))
          edges = ckpt(
            edges.join(alive.select(col("node").as("na")), col("a") === col("na"))
              .join(alive.select(col("node").as("nb")), col("b") === col("nb"))
              .select(col("a"), col("b"), col("cid")))
          val n = edges.count()
          converged = n == nEdges
          nEdges = n
          r += 1
        }
        (meC.groupBy(col("cid").as("ecid")).agg(count(lit(1)).as("n_edges")),
          edges.select(col("a").as("node"), col("cid"))
            .union(edges.select(col("b").as("node"), col("cid"))).distinct()
            .groupBy(col("cid").as("vcid")).agg(count(lit(1)).as("core_nodes")),
          edges.groupBy(col("cid").as("kcid")).agg(count(lit(1)).as("core_edges")))
      }
    cn.join(e0, col("cid") === col("ecid"), "left")
      .join(cv, col("cid") === col("vcid"), "left")
      .join(ke, col("cid") === col("kcid"), "left")
      .select(col("cid"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_mutual_edges"),
        coalesce(col("core_nodes"), lit(0L)).as("core_nodes"),
        coalesce(col("core_edges"), lit(0L)).as("core_edges"))
      .orderBy(col("cid"))
  }

  /** ONE NN-DESCENT ROUND over the directed k-NN graph — the
    * standard distributed graph-ANN index BUILD step (Dong et al.'s
    * NN-Descent: "a neighbor of a neighbor is likely a neighbor"),
    * the counterpart to s_ann_graph's SEARCH walk. The cell-blocked
    * build (s_knn_graph) can only see cell-mates; NN-descent's local
    * join is exactly how the index ESCAPES its blocking artifacts:
    * candidates(q) = q's undirected neighbors plus their undirected
    * neighbors — pairs that may cross cells — evaluated by exact
    * cosine, and the new per-node top-KnnK is ranked over candidates
    * under the same (cosine DESC, id) total order as the base build.
    * was_knn flags entries that were already in q's DIRECTED top-k,
    * so the output self-reports the refinement yield (was_knn=0 rows
    * are graph edges the cell blocking missed). Deterministic: exact
    * left-fold cosines, total-order ties, one synchronous round (the
    * production loop iterates until yield decays; one round IS the
    * operator so the oracle stays a finite unroll). Work is
    * edge-proportional — candidate pairs ≤ N·K² (K=KnnK, never
    * corpus-quadratic), generated by the LOCAL JOIN (one vector
    * fetch per undirected edge, one m-co-partitioned self-join, pairs
    * projected slim in-stage), the new top-k one window over slim
    * scored rows.
    * The directed edge list is ScopedCache'd: four plan legs (two
    * und arms, the was_knn join, the base) read ONE materialization
    * of the top-k window; the oracle mirrors with kd AS MATERIALIZED
    * (the DuckDB CTE-inlining hazard the kcore oracle documented). */
  val sAnnNnDescent: GraftQuery = GraftQuery.sql(
    "s_ann_nn_descent",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |kd AS MATERIALIZED (SELECT src, dst FROM knn),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM kd UNION SELECT dst AS src, src AS dst FROM kd),
       |cand AS (SELECT a.src AS q, b.dst AS c
       |         FROM und a JOIN und b ON a.dst = b.src WHERE b.dst <> a.src
       |         UNION SELECT src AS q, dst AS c FROM und),
       |nsc AS (SELECT cand.q, cand.c,
       |         ${Vectors.dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS cosine
       |       FROM cand JOIN n x ON cand.q = x.vec_id
       |                 JOIN n y ON cand.c = y.vec_id),
       |nr AS (SELECT q, c, cosine, ROW_NUMBER() OVER (PARTITION BY q
       |        ORDER BY cosine DESC, c) AS rk FROM nsc)
       |SELECT nr.q AS src, CAST(nr.rk AS BIGINT) AS rk, nr.c AS dst, nr.cosine,
       |  CAST(CASE WHEN kd.dst IS NULL THEN 0 ELSE 1 END AS BIGINT) AS was_knn
       |FROM nr LEFT JOIN kd ON nr.q = kd.src AND nr.c = kd.dst
       |WHERE nr.rk <= $KnnK ORDER BY src, rk""".stripMargin
  ) { (s, d) =>
    // LOCAL-JOIN dataflow (VERDICT r15 #1 — the one perf-weak op):
    // the r15 form materialized the full candidate id set, then
    // fetched BOTH vectors with two corpus joins — the second join
    // exchanged N·K² rows each already carrying a ~1 KB vector
    // (p ≈ 1.19–1.34 at the 100× anchor). Dong et al.'s local join
    // is the slim shape: und is symmetric, so (q,c) is a candidate
    // iff q and c are BOTH undirected neighbors of some shared m —
    // group by m, fetch each neighbor's vector ONCE from the
    // memoized corpus (2NK wide rows total, one self-join
    // co-partitioned on m), and project pairs to slim (q,c,cosine)
    // in the same stage, so no pair row ever carries a vector
    // through an exchange. Direct-edge candidates need no vector
    // fetch at all: the base build already computed their cosines
    // (dot is symmetric term-by-term, so the reversed edge reuses
    // the identical double). Identical candidate set + identical
    // left-fold cosines + the same (cosine DESC, id) order ⇒ the
    // oracle is unchanged.
    val n = corpus(s, d)
    val kdc = graft.ScopedCache(
      knnDirectedMemo(s, d).select(col("src"), col("dst"), col("cosine")))
    val undc = kdc.union(
      kdc.select(col("dst").as("src"), col("src").as("dst"), col("cosine")))
    // slim distinct BEFORE the vector fetch: a mutual edge appears in
    // both directions of undc and would double its nb row (and 4x its
    // generated pairs) — dedup costs one slim exchange instead
    val und = undc.select(col("src"), col("dst")).distinct()
    val nb = graft.ScopedCache(und.select(col("src").as("m"), col("dst").as("x"))
      .join(n.select(col("vec_id").as("x"), col("v").as("xv"), col("nrm").as("xn")),
        Seq("x")))
    val nn = nb.join(nb.select(col("m").as("m2"), col("x").as("y"),
        col("xv").as("yv"), col("xn").as("yn")),
        col("m") === col("m2") && col("x") =!= col("y"))
      .select(col("x").as("q"), col("y").as("c"),
        (Vectors.dot(col("xv"), col("yv")) / (col("xn") * col("yn"))).as("cosine"))
    // set-dedup on the SLIM scored rows: the same pair arises from
    // every shared neighbor (and from the direct arm), always with
    // the bit-identical cosine, so max() is the identity pick
    val scored = nn.union(undc.select(col("src").as("q"), col("dst").as("c"),
        col("cosine")))
      .groupBy(col("q"), col("c")).agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("q")).orderBy(col("cosine").desc, col("c"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= KnnK)
      .join(kdc.select(col("src").as("kq"), col("dst").as("kdst")),
        col("q") === col("kq") && col("c") === col("kdst"), "left")
      .select(col("q").as("src"), col("rk").cast("long").as("rk"),
        col("c").as("dst"), col("cosine"),
        when(col("kdst").isNull, 0L).otherwise(1L).as("was_knn"))
      .orderBy(col("src"), col("rk"))
  }

  /** Borůvka round/jump bounds for g_knn_mst — like KcoreRounds, the
    * bounds ARE the semantics (both engines run exactly this
    * schedule): 3 rounds, each hook → 2-cycle break → 2 pointer
    * jumps (labels flatten through parent^4 per round). Cell-local
    * components are small, so this typically contracts fully; a
    * pathological chain leaves some cross-label edges unchosen —
    * identically on both engines, and every edge that IS chosen is a
    * true MSF edge regardless (cut property: each label group is a
    * node set, its minimum outgoing edge under a total order crosses
    * that cut). */
  val MstRounds = 3
  val MstJumps = 2

  /** Row bound under which a Borůvka round's hook/jump runs on the
    * driver (ch is one row per still-merging component, the
    * api.Graft.dupClusters localThreshold); above it the distributed
    * pointer-jump chain is the scale path. Heap-derived (ADVICE
    * r15): boxed Rows + the chMap entries + the changed-pairs seq
    * cost ~200 B/row materialized, not the 16-byte payload. */
  def MstDriverBound: Long =
    sys.props.get("graft.regime.mstBound").flatMap(_.toLongOption)
      .getOrElse(graft.api.Graft.driverRegimeBound(2000000L, 200L))

  /** MINIMUM SPANNING FOREST of the mutual k-NN graph — bounded
    * synchronous Borůvka over integer edge weights, the
    * single-linkage-clustering backbone (cutting the MSF at a
    * distance threshold IS single-linkage HAC: the dendrogram a
    * curation pass thresholds per-cluster instead of re-running
    * dedup at every radius, and the classic HDBSCAN/OPTICS
    * substrate). Weights: w = ⌊(1 − cosine)·10¹²⌋ as BIGINT —
    * cosines are the bit-identical left-fold doubles, so the floor
    * is exact on both engines; ties broken by the (w, a, b) total
    * order, making weights effectively distinct (Borůvka's
    * chosen-edge union is then provably acyclic). Each round: label
    * lookup (two hash joins), per-label minimum incident edge (one
    * window over the 2-direction incidence view), hook to the
    * chosen edge's other label, deterministic 2-cycle break (the
    * smaller label becomes root), then MstJumps pointer-jump
    * self-joins; node labels re-map through the contracted parent
    * table. All edges are cell-local (the s_knn_graph artifact), so
    * every join inherits the cell blocking and per-round work is
    * edge-proportional; the label frame is CHECKPOINTED per round
    * (the g_knn_kcore lineage lesson — persist alone lets the AQE
    * explain string grow multiplicatively). Output: the forest
    * edges (a, b, cid, w, round chosen) — ≤ nodes−1 rows per
    * component. */
  val gKnnMst: GraftQuery = GraftQuery.sql(
    "g_knn_mst", {
      val rounds = (1 to MstRounds).map { r =>
        val jumps = (1 to MstJumps).map { j =>
          val prev = if (j == 1) s"p1_$r" else s"j${j - 1}_$r"
          s"""j${j}_$r AS MATERIALIZED (
             |  SELECT x.comp, y.p FROM $prev x JOIN $prev y ON x.p = y.comp)""".stripMargin
        }.mkString(",\n")
        s"""el_$r AS MATERIALIZED (
           |  SELECT e.a, e.b, e.w, e.cid, la.lbl AS ca, lb.lbl AS cb
           |  FROM we e JOIN lab${r - 1} la ON e.a = la.node
           |            JOIN lab${r - 1} lb ON e.b = lb.node
           |  WHERE la.lbl <> lb.lbl),
           |inc_$r AS (SELECT ca AS comp, w, a, b, cid, cb AS oc FROM el_$r
           |           UNION ALL SELECT cb, w, a, b, cid, ca FROM el_$r),
           |ch_$r AS MATERIALIZED (
           |  SELECT comp, w, a, b, cid, oc FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
           |      ORDER BY w, a, b) AS rk FROM inc_$r) WHERE rk = 1),
           |cp_$r AS (SELECT DISTINCT lbl AS comp FROM lab${r - 1}),
           |p0_$r AS MATERIALIZED (
           |  SELECT c.comp, COALESCE(ch.oc, c.comp) AS p
           |  FROM cp_$r c LEFT JOIN ch_$r ch ON c.comp = ch.comp),
           |p1_$r AS MATERIALIZED (
           |  SELECT x.comp, CASE WHEN y.p = x.comp AND x.comp < x.p
           |    THEN x.comp ELSE x.p END AS p
           |  FROM p0_$r x JOIN p0_$r y ON x.p = y.comp),
           |$jumps,
           |lab$r AS MATERIALIZED (
           |  SELECT l.node, j.p AS lbl
           |  FROM lab${r - 1} l JOIN j${MstJumps}_$r j ON l.lbl = j.comp)""".stripMargin
      }.mkString(",\n")
      val forest = (1 to MstRounds).map { r =>
        s"SELECT DISTINCT a, b, cid, w, $r AS round FROM ch_$r"
      }.mkString("\nUNION ALL ")
      s"""WITH $corpusSql,
         |$knnCtesSql,
         |we AS MATERIALIZED (
         |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MAX(cid) AS cid,
         |    CAST(FLOOR((1 - MAX(cosine)) * 1000000000000) AS BIGINT) AS w
         |  FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
         |lab0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lbl FROM cl),
         |$rounds
         |SELECT a, b, cid, w, CAST(MIN(round) AS BIGINT) AS round FROM ($forest)
         |GROUP BY a, b, cid, w
         |ORDER BY a, b""".stripMargin
    }
  ) { (s, d) =>
    val cl = knnDirected(s, d)._1
    val we = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"), col("cid"),
        floor((lit(1.0) - col("mcos")) * lit(1.0e12)).cast("long").as("w"))
    def ckpt(df: DataFrame): DataFrame = ckptLineage(s, df)
    // node-proportional label frame gets SIZE-SCALED partitioning
    // (the g_pagerank iterateParts discipline: 1 partition locally,
    // 1 per ~10M nodes on a cluster) — the layout read hands cl ~32
    // thin partitions and the broadcast-join label updates PRESERVE
    // partitioning, so without the coalesce every round's join and
    // checkpoint ran 32 near-empty tasks (the probe's 1154-task op)
    val labParts = graft.api.Graft.graph.iterateParts(cl.count())
    var lab = ckpt(cl.select(col("vec_id").as("node"), col("vec_id").as("lbl"))
      .coalesce(labParts))
    var merged = true // fixpoint flag: false once a round chose no edge
    val forests = (1 to MstRounds).map { r =>
      if (!merged)
        // FIXPOINT EARLY-EXIT (VERDICT r14 #3): Borůvka is monotone —
        // a round with no cross-component edge proves every later
        // round chooses nothing (labels are already the forest's
        // components), so the remaining rounds' ch_r are empty in the
        // oracle too and skipping them is output-identical while
        // saving each round's two checkpoint jobs.
        we.limit(0).select(col("a"), col("b"), col("cid"), col("w"))
          .withColumn("round", lit(r.toLong))
      else {
      // checkpointed frames carry no size stats (the dupClusters
      // lesson) — while the label frame sits in one partition,
      // broadcast it explicitly so each round's edge labeling is two
      // map-side joins over the memoized edge frame, not two 32-wide
      // shuffles of it
      def bcL(df: DataFrame): DataFrame = if (labParts == 1) broadcast(df) else df
      val el = we
        .join(bcL(lab.select(col("node").as("na"), col("lbl").as("ca"))), col("a") === col("na"))
        .join(bcL(lab.select(col("node").as("nb"), col("lbl").as("cb"))), col("b") === col("nb"))
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("w"), col("cid"), col("ca"), col("cb"))
      // both incidence directions in ONE scan of el (a union would
      // execute the we ⋈ lab ⋈ lab subtree twice per round): each
      // cross-component edge explodes into its two (comp, oc) rows
      val inc = el.select(col("w"), col("a"), col("b"), col("cid"),
          explode(array(
            struct(col("ca").as("comp"), col("cb").as("oc")),
            struct(col("cb").as("comp"), col("ca").as("oc")))).as("e"))
        .select(col("e.comp").as("comp"), col("w"), col("a"), col("b"),
          col("cid"), col("e.oc").as("oc"))
      // min_by with the (w, a, b) tie-break struct picks exactly the
      // row_number()-over-(comp ORDER BY w,a,b) winner, but as a HASH
      // AGGREGATE with map-side partial combine — the shuffle moves
      // one candidate per (partition, comp) instead of the whole
      // incidence frame through a sort (the r14 plan-pass: at 100 TB
      // the window sorted 2·|E| rows per round for a per-group MIN)
      val pick = min_by(
        struct(col("w"), col("a"), col("b"), col("cid"), col("oc")),
        struct(col("w"), col("a"), col("b")))
      val ch = graft.ScopedCache(
        inc.groupBy(col("comp")).agg(pick.as("m"))
          .select(col("comp"), col("m.w").as("w"), col("m.a").as("a"),
            col("m.b").as("b"), col("m.cid").as("cid"), col("m.oc").as("oc")))
      // One count materializes ch's cache, arms the fixpoint exit,
      // and picks the hook/jump regime — the api.Graft.dupClusters
      // AQE-style discipline: ch is one row per still-merging
      // component (shrinks geometrically round over round), NOT the
      // corpus, so below the ~32 MB bound the hook + 2-cycle break +
      // MstJumps pointer jumps run pointwise on the driver from the
      // collected (comp → oc) map — EXACTLY the p0/p1/j^MstJumps
      // composition the oracle unrolls, at zero scheduler
      // round-trips — and the label update becomes one broadcast
      // left-join (the probe read 107 AQE jobs / 2401 tasks for the
      // distributed chain: every jump level re-planned its
      // exchanges). Above the bound, the distributed chain below is
      // the scale path, every level cached so j2's four references
      // to j1 read blocks instead of re-executing.
      val chRows = ch.count()
      merged = chRows > 0
      if (merged) {
        if (chRows <= MstDriverBound) {
          val chMap = new java.util.HashMap[Long, Long]()
          ch.select(col("comp"), col("oc")).collect()
            .foreach(row => chMap.put(row.getLong(0), row.getLong(1)))
          def p0f(x: Long): Long = if (chMap.containsKey(x)) chMap.get(x) else x
          def p1f(x: Long): Long = {
            val px = p0f(x); val ppx = p0f(px)
            if (ppx == x && x < px) x else px
          }
          var jf: Long => Long = p1f
          (1 to MstJumps).foreach { _ =>
            val prev = jf; jf = (x: Long) => prev(prev(x))
          }
          import scala.jdk.CollectionConverters._
          val changed = chMap.keySet().asScala.toSeq
            .map(x => (x, jf(x))).filter { case (x, p) => p != x }
          val s2 = s; import s2.implicits._
          val jumpedBc = broadcast(changed.toDF("jl", "p"))
          // comps without a chosen edge keep their label (identity
          // mappings are omitted from the broadcast) — left + coalesce
          lab = ckpt(lab.join(jumpedBc, col("lbl") === col("jl"), "left")
            .select(col("node"), coalesce(col("p"), col("lbl")).as("lbl")))
        } else {
          val p0 = graft.ScopedCache(lab.select(col("lbl").as("comp")).distinct()
            .join(ch.select(col("comp").as("chc"), col("oc")), col("comp") === col("chc"), "left")
            .select(col("comp"), coalesce(col("oc"), col("comp")).as("p")))
          val p1 = graft.ScopedCache(p0.as("x")
            .join(p0.select(col("comp").as("yc"), col("p").as("yp")), col("x.p") === col("yc"))
            .select(col("x.comp").as("comp"),
              when(col("yp") === col("x.comp") && col("x.comp") < col("x.p"), col("x.comp"))
                .otherwise(col("x.p")).as("p")))
          val jumped = (1 to MstJumps).foldLeft(p1) { (pj, _) =>
            graft.ScopedCache(pj.as("x")
              .join(pj.select(col("comp").as("yc"), col("p").as("yp")), col("x.p") === col("yc"))
              .select(col("x.comp").as("comp"), col("yp").as("p")))
          }
          lab = ckpt(lab.join(jumped.select(col("comp").as("jl"), col("p")),
              col("lbl") === col("jl"))
            .select(col("node"), col("p").as("lbl")))
        }
      }
      // no per-round distinct: an edge chosen by BOTH its components
      // appears twice here, but the final group-min over
      // (a, b, cid, w) collapses within-round duplicates exactly as
      // it collapses cross-round re-chooses — one exchange per round
      // saved, oracle aggregation identical
      ch.select(col("a"), col("b"), col("cid"), col("w"))
        .withColumn("round", lit(r.toLong))
      }
    }
    // An edge can be re-chosen in a later round when MstJumps-bounded
    // flattening left its endpoints under different labels (deep hook
    // chains) — collapse to the FIRST round chosen so the output is
    // one row per forest edge and the documented <= nodes-1 bound
    // holds (review finding; the oracle aggregates identically).
    forests.reduce(_.union(_))
      .groupBy(col("a"), col("b"), col("cid"), col("w"))
      .agg(min(col("round")).as("round"))
      .select(col("a"), col("b"), col("cid"), col("w"), col("round"))
      .orderBy(col("a"), col("b"))
  }

  /** Cosine thresholds (per-mille) for the single-linkage cut ladder
    * — chosen to span the mutual-edge cosine distribution (p10≈0.25,
    * p90≈0.37 on this corpus) so the sweep shows real dendrogram
    * structure: tight knots at 400‰, the mid mass at 300‰, near-full
    * connectivity at 250‰. */
  val CutThresholdsPm: Seq[Long] = Seq(400L, 300L, 250L)

  /** SINGLE-LINKAGE CLUSTER-CUT LADDER over the mutual k-NN graph —
    * the dendrogram view g_knn_mst is the substrate for, delivered
    * as the summary a curation pass actually reads: for each cosine
    * threshold, the connected components of the edges at least that
    * similar (single-linkage property: thresholding the FULL edge
    * set gives exactly the same components as thresholding the MSF,
    * so the cut is computed straight off the mutual edges and the
    * MST stays the edge-level artifact). Per threshold: kept edges,
    * touched nodes, cluster count, largest cluster — the
    * multi-resolution profile that answers "how aggressive can the
    * dedup radius get before clusters chain together" without
    * re-running dedup per radius. Weights are the MST's integer
    * w = ⌊(1−cosine)·10¹²⌋ (bit-identical fold cosines), the closure
    * is the g_knn_components machinery (pointer-jumped min-label /
    * union-find below the adjudicated pair bound) per rung, and the
    * oracle recomputes each rung as a bounded-free recursive CTE —
    * two independent transitive-closure formulations per threshold.
    * All edges cell-local; per-rung work is edge-proportional. */
  val gKnnClusterCut: GraftQuery = GraftQuery.sql(
    "g_knn_cluster_cut", {
      val rungs = CutThresholdsPm.map { t =>
        val wMax = (1000L - t) * 1000000000L
        s"""ed_$t AS (SELECT a AS src, b AS dst FROM we WHERE w <= $wMax
           |          UNION ALL SELECT b, a FROM we WHERE w <= $wMax),
           |reach_$t AS (SELECT src AS node, src AS lbl FROM ed_$t
           |             UNION
           |             SELECT e.dst AS node, r.lbl AS lbl
           |             FROM reach_$t r JOIN ed_$t e ON r.node = e.src),
           |comp_$t AS (SELECT node, MIN(lbl) AS lbl FROM reach_$t GROUP BY node),
           |sz_$t AS (SELECT lbl, COUNT(*) AS n FROM comp_$t GROUP BY lbl)""".stripMargin
      }.mkString(",\n")
      val rows = CutThresholdsPm.map { t =>
        val wMax = (1000L - t) * 1000000000L
        s"""SELECT $t AS thr_pm,
           |  (SELECT COUNT(*) FROM we WHERE w <= $wMax) AS n_edges,
           |  (SELECT COALESCE(SUM(n), 0) FROM sz_$t) AS n_nodes,
           |  (SELECT COUNT(*) FROM sz_$t) AS n_clusters,
           |  (SELECT COALESCE(MAX(n), 0) FROM sz_$t) AS max_size""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE $corpusSql,
         |$knnCtesSql,
         |we AS MATERIALIZED (
         |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
         |    CAST(FLOOR((1 - MAX(cosine)) * 1000000000000) AS BIGINT) AS w
         |  FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
         |$rungs
         |SELECT CAST(thr_pm AS BIGINT) AS thr_pm, CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(max_size AS BIGINT) AS max_size
         |FROM ($rows) ORDER BY thr_pm DESC""".stripMargin
    }
  ) { (s, d) =>
    val we = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"),
        floor((lit(1.0) - col("mcos")) * lit(1.0e12)).cast("long").as("w"))
    val rows = CutThresholdsPm.map { t =>
      val wMax = (1000L - t) * 1000000000L
      val kept = we.filter(col("w") <= wMax)
      val labels = graft.api.Graft.dedup.dupClusters(kept, "a", "b")
      val sz = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n"))
      val agg = sz.agg(coalesce(sum(col("n")), lit(0L)).as("n_nodes"),
        count(lit(1)).as("n_clusters"),
        coalesce(max(col("n")), lit(0L)).as("max_size"))
      val ne = kept.agg(count(lit(1)).as("n_edges"))
      // two 1-row scalars — the adjudicated tiny broadcast class
      broadcast(ne).crossJoin(broadcast(agg))
        .select(lit(t).as("thr_pm"), col("n_edges"),
          col("n_nodes"), col("n_clusters"), col("max_size"))
    }
    rows.reduce(_.union(_)).orderBy(col("thr_pm").desc)
  }

  /** DEGREE ASSORTATIVITY of the mutual k-NN graph — Newman's r, the
    * hub-structure diagnostic an ANN deployment reads off its graph
    * index (negative r = high-degree hubs attach to low-degree
    * leaves, the hub pathology that degrades graph-ANN recall and
    * that K-mutualization is supposed to suppress; r near 0 =
    * degree-neutral wiring, the healthy reciprocal-graph shape).
    * Over the 2E symmetric directed endpoint-degree pairs the two
    * marginals are IDENTICAL, so Pearson r needs NO square root:
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²), reported as per-mille
    * integer floor division — exact end to end. The moment products
    * run in exact WIDE integers on both engines (DuckDB HUGEINT
    * natively, Spark through decimal(38,0) — n·Σxy reaches 9n² which
    * crosses int64 at n≈10⁹ directed pairs, the st_stream_anomaly
    * widening discipline); degree-equal graphs (zero variance)
    * report 0 by convention on both engines. One degree census + two
    * hash joins against the memoized mutual edges, then a single
    * 5-field aggregate — edge-proportional, map-side combinable. */
  val gKnnAssortativity: GraftQuery = GraftQuery.sql(
    "g_knn_assortativity",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |dg AS (SELECT node, COUNT(*) AS deg FROM (
       |         SELECT a AS node FROM me UNION ALL SELECT b AS node FROM me)
       |       GROUP BY 1),
       |de AS (SELECT da.deg AS x, db.deg AS y
       |       FROM me JOIN dg da ON me.a = da.node JOIN dg db ON me.b = db.node),
       |dp AS (SELECT x, y FROM de UNION ALL SELECT y AS x, x AS y FROM de),
       |ag AS (SELECT COUNT(*) AS n, SUM(x) AS sx,
       |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |         SUM(CAST(x AS HUGEINT) * y) AS sxy FROM dp)
       |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(sx AS BIGINT) AS sum_deg,
       |  CAST(sxy AS BIGINT) AS sum_xy, CAST(sxx AS BIGINT) AS sum_x2,
       |  CAST(CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN 0
       |       ELSE (1000 * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx)) //
       |            (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) END AS BIGINT)
       |    AS r_pm
       |FROM ag""".stripMargin
  ) { (s, d) =>
    val me = knnMutual(s, d).filter(col("n_dir") === 2)
      .select(col("a"), col("b"))
    val dg = me.select(col("a").as("node"))
      .union(me.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val de = me
      .join(dg.select(col("node").as("na"), col("deg").as("x")), col("a") === col("na"))
      .join(dg.select(col("node").as("nb"), col("deg").as("y")), col("b") === col("nb"))
      .select(col("x"), col("y"))
    val dp = de.union(de.select(col("y").as("x"), col("x").as("y")))
    dp.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(col("n").as("n_pairs"), col("sx").as("sum_deg"),
        col("sxy").cast("long").as("sum_xy"), col("sxx").cast("long").as("sum_x2"),
        expr(
          """CAST(CASE WHEN cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx = 0 THEN 0
            |ELSE (1000 * (cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sx)) div
            |     (cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx) END AS BIGINT)
            |""".stripMargin).as("r_pm"))
  }

  /** LABEL CENTROID SEPARATION — the class-separability audit over
    * the embedding space (the diagnostic a curation pipeline runs
    * before trusting `label` for stratified sampling, semdedup
    * blocking, or classifier-filtered mixtures: labels whose
    * centroids sit at near-1 cosine are not distinguishable classes,
    * and downstream per-label quotas silently mix them): per ordered
    * label pair (a < b), both class sizes and the cosine between the
    * EXACT class centroids. Centroid parity is the s_kmeans
    * discipline — per-dimension integer micro-unit sums (1e10) over
    * a partial-aggregated (label, pos) frame, so the trained means
    * are bit-identical cross-engine before the final double fold.
    *
    * Scale: one map-side-combined aggregate over the exploded corpus
    * (rows = labels × dims after partials), then an all-pairs join of
    * the LABEL-cardinality centroid table — 10 rows here, broadcast;
    * pair work is O(L²·dim) with L the label count, never corpus-
    * proportional. */
  val sCentroidSeparation: GraftQuery = GraftQuery.sql(
    "s_centroid_separation",
    s"""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
       |       CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |comp AS (SELECT label, i AS pos, v[i] AS x
       |         FROM e, unnest(generate_series(1, len(v))) AS t(i)),
       |cent AS (SELECT label, pos,
       |           CAST(SUM(CAST(round(x * 1e10) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1e10) AS mu
       |         FROM comp GROUP BY label, pos),
       |sz AS (SELECT label, COUNT(*) AS n FROM e GROUP BY label),
       |cv AS (SELECT label, list(mu ORDER BY pos) AS c FROM cent GROUP BY label),
       |cn AS (SELECT label, c, ${Vectors.normSql("c")} AS nrm FROM cv)
       |SELECT a.label AS label_a, b.label AS label_b,
       |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       |  ${Vectors.dotSql("a.c", "b.c")} / (a.nrm * b.nrm) AS centroid_cos
       |FROM cn a JOIN cn b ON a.label < b.label
       |JOIN sz sa ON sa.label = a.label JOIN sz sb ON sb.label = b.label
       |ORDER BY label_a, label_b""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val comp = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg((sum(round(col("x") * 1e10).cast("long")).cast("double")
        / (count(lit(1)).cast("double") * 1e10)).as("mu"))
    val cv = cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        p => p.getField("mu")).as("c"))
      .withColumn("nrm", Vectors.norm(col("c")))
    val sz = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val a = cv.join(sz, "label")
      .select(col("label").as("label_a"), col("c").as("ca"),
        col("nrm").as("nrma"), col("n").as("n_a"))
    val b = cv.join(sz, "label")
      .select(col("label").as("label_b"), col("c").as("cb"),
        col("nrm").as("nrmb"), col("n").as("n_b"))
    // label-cardinality frame (10 rows) — the adjudicated tiny class
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (Vectors.dot(col("ca"), col("cb")) / (col("nrma") * col("nrmb")))
          .as("centroid_cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** EDGE RECIPROCITY CENSUS — the evidence-quality summary of the
    * k-NN graph itself (every mutual-kNN consumer — triangles,
    * components, MST, label-prop — silently conditions on edges being
    * RECIPROCATED; this measures how much of the directed top-k
    * evidence survives that filter, per cell: low reciprocity = the
    * cell's neighborhoods are asymmetric hub-and-spoke structure and
    * mutual-gated dedup is conservative there, high = dense clique
    * mass): per cell, nodes with out-edges, directed edge count,
    * mutual pair count, and reciprocity 2·|mutual|/|directed| in
    * per-mille.
    *
    * Scale: both inputs are the family memos (directed top-k, mutual
    * pairs) — this op adds only two cell-grain map-side-combined
    * aggregates and a cell-bounded left join; edges are cell-local
    * by construction so nothing crosses cells. */
  val gKnnReciprocity: GraftQuery = GraftQuery.sql(
    "g_knn_reciprocity",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |dir AS (SELECT cid, COUNT(*) AS n_directed,
       |          COUNT(DISTINCT src) AS n_nodes
       |        FROM knn GROUP BY 1),
       |me AS (SELECT MAX(cid) AS cid FROM knn
       |       GROUP BY LEAST(src, dst), GREATEST(src, dst)
       |       HAVING COUNT(*) = 2),
       |mu AS (SELECT cid, COUNT(*) AS n_mutual FROM me GROUP BY 1)
       |SELECT CAST(dir.cid AS BIGINT) AS cid,
       |  CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(n_directed AS BIGINT) AS n_directed,
       |  CAST(COALESCE(n_mutual, 0) AS BIGINT) AS n_mutual,
       |  CAST((2000 * COALESCE(n_mutual, 0)) // n_directed AS BIGINT) AS recip_pm
       |FROM dir LEFT JOIN mu ON mu.cid = dir.cid
       |ORDER BY cid""".stripMargin
  ) { (s, d) =>
    val dir = knnDirectedMemo(s, d).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_directed"),
        countDistinct(col("src")).as("n_nodes"))
    val mu = knnMutual(s, d).filter(col("n_dir") === 2)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_mutual"))
    dir.join(mu.select(col("cid").as("mcid"), col("n_mutual")),
        col("mcid") === col("cid"), "left")
      .select(col("cid").cast("long").as("cid"), col("n_nodes"),
        col("n_directed"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        expr("(2000 * coalesce(n_mutual, 0L)) div n_directed").as("recip_pm"))
      .orderBy(col("cid"))
  }

  /** CROSS-MODAL DEDUP BOARD — joint caption×embedding near-dup
    * evidence (the LAION-style curation decision: an image pair that
    * is near in EMBEDDING space might be a re-encode of the same
    * asset, or two distinct assets of one subject; the caption's
    * n-gram Jaccard is the independent second modality that splits
    * those — both-high = true duplicate pair, emb-high/text-low =
    * subject cluster to KEEP): every mutual-kNN candidate pair whose
    * BOTH sides carry both modalities (the m_caption_pairs staging
    * rule: asset exists iff id%13≠0, caption iff id%11≠0), with
    * embedding cosine and exact caption shingle-Jaccard in per-mille
    * and the both-thresholds flag. ALL candidate pairs report (the
    * degenerate-rows rule) — the flag carries the verdict.
    *
    * Scale: candidates are the family-memoized mutual-kNN edge frame
    * (cell-blocked, never all-pairs); the caption side joins the
    * memoized sorted shingle sets (shared with the whole dedup
    * family) and pays one merge-scan Jaccard per CANDIDATE. Nothing
    * corpus-quadratic anywhere. */
  val mCrossModalDedup: GraftQuery = GraftQuery.sql(
    "m_cross_modal_dedup",
    s"""WITH $corpusSql,
       |$knnCtesSql,
       |me AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
       |         MAX(cosine) AS mcos
       |       FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |mp AS (SELECT a, b, mcos FROM me WHERE a % 13 <> 0 AND b % 13 <> 0),
       |cap AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
       |${Shingles.shingleCteSql(source = "cap")},
       |j AS (SELECT mp.a, mp.b, mp.mcos,
       |        ${Shingles.jaccardSql("sa.sh", "sb.sh")} AS jac
       |      FROM mp JOIN sh sa ON sa.doc_id = mp.a
       |              JOIN sh sb ON sb.doc_id = mp.b)
       |SELECT a, b, CAST(FLOOR(1000 * mcos) AS BIGINT) AS cos_pm,
       |  CAST(FLOOR(1000 * jac) AS BIGINT) AS jac_pm,
       |  CAST(CASE WHEN mcos >= 0.95 AND jac >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
       |    AS cross_dup
       |FROM j ORDER BY a, b""".stripMargin
  ) { (s, d) =>
    val mp = knnMutual(s, d).filter(col("n_dir") === 2
      && col("a") % 13 =!= 0 && col("b") % 13 =!= 0)
    // shingle the TABLE (disk-backed layout, shared with the whole
    // dedup family) and filter the result — shingling is per-row, so
    // filter-after-shingle ≡ shingle-after-filter, and the former
    // reads the provisioned parquet instead of re-shingling the %11
    // caption slice from raw text every fresh session (r17 verdict:
    // that re-shingle was most of this op's 100× first-run wall)
    val sh = graft.api.Graft.dedup.shingleSets(
        Tables.documents(s, d), "doc_id", "text")
      .filter(col("doc_id") % 11 =!= 0)
    mp.join(sh.select(col("doc_id").as("said"), col("sh").as("sh_a")),
        col("a") === col("said"))
      .join(sh.select(col("doc_id").as("sbid"), col("sh").as("sh_b")),
        col("b") === col("sbid"))
      .withColumn("jac", Shingles.jaccardSorted(col("sh_a"), col("sh_b")))
      .select(col("a"), col("b"),
        floor(lit(1000) * col("mcos")).cast("long").as("cos_pm"),
        floor(lit(1000) * col("jac")).cast("long").as("jac_pm"),
        when(col("mcos") >= 0.95 && col("jac") >= 0.5, 1L).otherwise(0L)
          .as("cross_dup"))
      .orderBy(col("a"), col("b"))
  }

  def all: Seq[GraftQuery] =
    Seq(sAnnBruteforce, dEmbedNeardup, sAnnLsh, sAnnIvf, sAnnIvfPartitioned,
      sAnnPq, sAnnRerank, sHybridRrf, sAnnRecall, sAnnFiltered,
      sKmeans, sKmeansLoop, dSemdedup, sIndexScoreboard, sKnnGraph,
      gKnnTriangles, gKnnComponents, gKnnHops, sAnnIvfSq8,
      gKnnClusteringCoeff, sMmrRerank, gKnnLabelProp, sAnnGraph,
      gKnnModularity, gKnnConductance, gKnnJaccardEdges, gKnnKcore,
      sAnnNnDescent, gKnnMst, gKnnClusterCut, gKnnAssortativity,
      sCentroidSeparation, gKnnReciprocity, mCrossModalDedup)
}
