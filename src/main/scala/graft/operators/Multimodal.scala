package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2): media as opaque binary
  * columns + typed metadata, decoded/feature-extracted per partition.
  *
  * The Spark-side plumbing is real — binary payload column, metadata
  * struct, typed Dataset, partition-wise batch decode via
  * mapPartitions (the JVM analogue of mapInPandas batch UDFs) — while
  * the codec itself is a clearly-marked deterministic stub (this
  * container has no image/audio libraries). Swapping `decodeStub` for
  * a real JNI/FFmpeg/JPEG decoder changes nothing in the plan shape:
  * one narrow pass, no shuffle, batch-local decode.
  */
object Multimodal {

  /** An asset as it would arrive from an object store manifest. */
  case class MediaAsset(doc_id: Long, codec: String, n_frames: Long, media: Array[Byte])

  /** Features a decoder would emit per asset. */
  case class MediaFeature(doc_id: Long, codec: String, n_bytes: Long,
                          n_frames: Long, checksum: Long, sample_mean: Double)

  /** STUB DECODER — deterministic fake standing in for image/audio
    * decode. Consumes raw bytes, emits per-asset features: byte count,
    * additive checksum, and the mean of a stride-64 "frame sample".
    * Replace with a real codec; the surrounding plan is unchanged. */
  def decodeStub(a: MediaAsset): MediaFeature = {
    val bytes = a.media
    var checksum = 0L
    var i = 0
    while (i < bytes.length) { checksum += bytes(i) & 0xffL; i += 1 }
    var sampleSum = 0L; var n = 0L; var j = 0
    while (j < bytes.length) { sampleSum += bytes(j) & 0xffL; n += 1; j += 64 }
    MediaFeature(a.doc_id, a.codec, bytes.length.toLong, n,
      checksum % 997, sampleSum.toDouble / n)
  }

  /** Binary ingestion + metadata + partition-wise stub decode. The
    * oracle recomputes the same features from the source text (the
    * corpus is pure ASCII, so codepoints == bytes). */
  val mMultimodalMeta: GraftQuery = GraftQuery.sql(
    "m_multimodal_meta",
    """SELECT doc_id, 'utf8' AS codec,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(len(generate_series(1, length(text), 64)) AS BIGINT) AS n_frames,
      |  CAST(list_sum(list_transform(string_split(text, ''), ch -> ord(ch))) % 997 AS BIGINT) AS checksum,
      |  CAST(list_sum(list_transform(generate_series(1, length(text), 64), i -> ord(substring(text, i, 1)))) AS DOUBLE)
      |    / len(generate_series(1, length(text), 64)) AS sample_mean
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val assets = Tables.documents(s, d)
      .select(col("doc_id"),
        lit("utf8").as("codec"),
        lit(0L).as("n_frames"),                 // unknown until decode
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
    assets
      .mapPartitions(_.map(decodeStub))         // batch-local decode, no shuffle
      .toDF()
      .select(col("doc_id"), col("codec"), col("n_bytes"),
        col("n_frames"), col("checksum"), col("sample_mean"))
      .orderBy(col("doc_id"))
  }

  /** Output of the resize/frame-sample stage. */
  case class ResizeFeature(doc_id: Long, thumb_bytes: Long,
                           thumb_checksum: Long, frame_mean: Double)

  /** STUB RESIZE — deterministic fake for media resize + frame
    * sampling: "thumbnail" = first 128 payload bytes, "frames" =
    * stride-32 samples of the thumbnail. Same batch-local plan shape
    * as a real image resize / video frame sampler. */
  def resizeStub(a: MediaAsset): ResizeFeature = {
    val thumb = if (a.media.length > 128) java.util.Arrays.copyOf(a.media, 128) else a.media
    var checksum = 0L
    var i = 0
    while (i < thumb.length) { checksum += thumb(i) & 0xffL; i += 1 }
    var sampleSum = 0L; var n = 0L; var j = 0
    while (j < thumb.length) { sampleSum += thumb(j) & 0xffL; n += 1; j += 32 }
    ResizeFeature(a.doc_id, thumb.length.toLong, checksum % 997, sampleSum.toDouble / n)
  }

  /** Resize + frame-sample over the binary payload column. */
  val mMediaResize: GraftQuery = GraftQuery.sql(
    "m_media_resize",
    """SELECT doc_id,
      |  CAST(LEAST(128, length(text)) AS BIGINT) AS thumb_bytes,
      |  CAST(list_sum(list_transform(string_split(substring(text, 1, 128), ''), ch -> ord(ch))) % 997 AS BIGINT) AS thumb_checksum,
      |  CAST(list_sum(list_transform(generate_series(1, LEAST(128, length(text)), 32), i -> ord(substring(text, i, 1)))) AS DOUBLE)
      |    / len(generate_series(1, LEAST(128, length(text)), 32)) AS frame_mean
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), lit("utf8").as("codec"), lit(0L).as("n_frames"),
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
      .mapPartitions(_.map(resizeStub))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Stub feature-extraction output: an 8-dim byte-bucket histogram
    * standing in for a real image/audio embedding. */
  case class EmbedFeature(doc_id: Long, emb: Array[Double])

  /** STUB EMBEDDER — code-point histogram (16-wide buckets over the
    * ASCII range, code points >= 128 fall outside every bucket but
    * still count toward the normalizer) so the feature definition is
    * byte-encoding-independent and matches the character-based oracle
    * for any input, not just pure-ASCII payloads. Replace with a real
    * vision/audio encoder; the downstream similarity plan is
    * unchanged. */
  def embedStub(a: MediaAsset): EmbedFeature = {
    val text = new String(a.media, java.nio.charset.StandardCharsets.UTF_8)
    val counts = new Array[Long](8)
    var i = 0
    var n = 0L
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (cp < 128) counts(cp >> 4) += 1
      n += 1
      i += Character.charCount(cp)
    }
    EmbedFeature(a.doc_id,
      if (n == 0) new Array[Double](8) else counts.map(_.toDouble / n))
  }

  // Feature-pair LSH: deterministic hyperplanes in the 8-dim
  // histogram space. Histograms all sit near the corpus centroid, so
  // projections are taken on the CENTERED vector (emb - 1/8 per
  // bucket) — signs then split on content, not the shared baseline.
  // The plane COUNT scales with the corpus: np = clamp(4..12,
  // ceil_log2(ceil(N/64))) targets ~64 docs per bucket instead of the
  // ~N^2/2^np a FIXED plane count degrades to (round-7 scale run
  // measured the fixed-16-bucket version at 11.9x wall-clock for 10x
  // data). The LCG plane sequence is shared, so smaller corpora use a
  // prefix of the same planes; past N ~ 64*2^12 extend FpPlanesMax.
  // Buckets alone are NOT enough: corpora with cluster structure
  // (domains, languages — or the scale-step corpus, whose per-copy
  // token shifts each copy's whole histogram identically) pile a
  // cluster into one bucket and within-bucket all-pairs goes
  // quadratic in the cluster (measured 26x at 10x data even with
  // adaptive np). So within each bucket docs are SORTED by their
  // projection on FpSortDirs reserved directions and each doc pairs
  // only with its FpWindow successors per direction — the classic
  // sorted-neighborhood method. Candidates are exactly
  // <= R*W*N whatever the skew; the per-bucket sort (n log n,
  // spillable) is the only superlinear-in-bucket cost.
  val FpPlanesMax = 12
  val FpSortDirs = 4
  val FpWindow = 8
  private val fplanes =
    graft.functions.Vectors.hyperplanes(FpPlanesMax + FpSortDirs, 8)
  private val sortPlanes = fplanes.drop(FpPlanesMax)

  /** clamp(4..FpPlanesMax, ceil_log2(ceil(n/64))) — integer-exact on
    * both engines (the oracle's length(bin(m-1)) is the same
    * ceil_log2). */
  def fpPlaneCount(n: Long): Int = {
    val m = (n + 63) / 64
    val cl2 = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(FpPlanesMax, math.max(4, cl2))
  }

  /** Multimodal feature pipeline end-to-end: binary payload ->
    * batch-local stub embedding -> cosine closest pairs among
    * bucketed sorted-neighborhood candidates (the oracle mirrors the
    * blocking exactly, including the corpus-adaptive plane count:
    * Spark picks np from one driver-side count before planning — the
    * AQE-style adaptive decision, read from table stats in a real
    * deployment — while the oracle gates 12 pre-generated plane terms
    * on the same np computed in SQL). Swapping in a real encoder
    * re-uses the whole downstream plan. Zero-NORM embeddings are
    * filtered on both arms (not just zero-LENGTH payloads: an
    * all-non-ASCII document also yields the zero vector under this
    * stub) — a direction-free vector would turn every cosine it
    * touches into NaN, and Spark sorts NaN above every real double,
    * flooding the top-k. */
  val mFeaturePairs: GraftQuery = GraftQuery.sql(
    "m_feature_pairs", {
      import graft.functions.Vectors
      def planeSql(p: Seq[Double]): String = p.mkString("[", ", ", "]")
      val bucketSql = fplanes.take(FpPlanesMax).zipWithIndex.map { case (p, j) =>
        s"CASE WHEN $j < np AND ${Vectors.dotSql("ce", planeSql(p))} > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString("(", " + ", ")")
      val projSql = sortPlanes.zipWithIndex.map { case (p, r) =>
        s"WHEN $r THEN ${Vectors.dotSql("ce", planeSql(p))}"
      }.mkString("CASE r ", " ", " END")
      s"""WITH cnt AS (SELECT LEAST($FpPlanesMax, GREATEST(4,
         |    CASE WHEN (count(*) + 63) // 64 <= 1 THEN 0
         |         ELSE length(bin((count(*) + 63) // 64 - 1)) END)) AS np
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    list_transform(generate_series(0, 7), b ->
         |      CAST(len(list_filter(string_split(text, ''), ch -> ord(ch) // 16 = b)) AS DOUBLE)
         |        / length(text)) AS emb
         |  FROM documents WHERE length(text) > 0),
         |n2 AS (SELECT doc_id, emb, ${Vectors.normSql("emb")} AS nrm,
         |         list_transform(emb, x -> x - 0.125) AS ce FROM h),
         |bk AS (SELECT doc_id, emb, nrm, ce, $bucketSql AS bucket
         |       FROM n2, cnt WHERE nrm > 0),
         |rk AS (SELECT doc_id, bucket, r,
         |         row_number() OVER (PARTITION BY r, bucket
         |                            ORDER BY $projSql, doc_id) AS rn
         |       FROM (SELECT *, unnest(generate_series(0, ${FpSortDirs - 1})) AS r FROM bk)),
         |lk AS (SELECT r, bucket, doc_id AS ida,
         |         unnest(generate_series(rn + 1, rn + $FpWindow)) AS rnb FROM rk),
         |pq AS (SELECT DISTINCT LEAST(l.ida, k.doc_id) AS doc_a,
         |         GREATEST(l.ida, k.doc_id) AS doc_b
         |       FROM lk l JOIN rk k ON l.r = k.r AND l.bucket = k.bucket AND l.rnb = k.rn)
         |SELECT p.doc_a, p.doc_b,
         |  ${Vectors.dotSql("x.emb", "y.emb")} / (x.nrm * y.nrm) AS cosine
         |FROM pq p JOIN bk x ON p.doc_a = x.doc_id JOIN bk y ON p.doc_b = y.doc_id
         |ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.Vectors
    // np comes from the TOTAL table row count — a metadata-cheap
    // statistic (no text decode; table stats in a real deployment) —
    // not the filtered non-empty count: bucket sizing needs only the
    // order of magnitude of N, and scanning the text column of a
    // 100 TB corpus just to pick a plane count would cost more than
    // it saves. The oracle's cnt CTE counts the same unfiltered table.
    val docs0 = Tables.documents(s, d).filter(length(col("text")) > 0)
    val np = fpPlaneCount(Tables.rowCount(s, d, "documents"))
    def planeLit(p: Seq[Double]) = array(p.map(lit(_)): _*)
    def fpBucket(ce: org.apache.spark.sql.Column) =
      fplanes.take(np).zipWithIndex.map { case (p, j) =>
        when(Vectors.dot(ce, planeLit(p)) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    val ce = transform(col("emb"), x => x - lit(0.125))
    val feats = docs0
      .select(col("doc_id"), lit("utf8").as("codec"), lit(0L).as("n_frames"),
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
      .mapPartitions(_.map(embedStub))
      .toDF()
      .withColumn("nrm", Vectors.norm(col("emb")))
      .filter(col("nrm") > 0)
      .withColumn("bucket", fpBucket(ce))
      .transform(graft.ScopedCache.apply)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("r"), col("bucket")).orderBy(col("proj"), col("doc_id"))
    val rk = feats
      .select(col("doc_id"), col("bucket"),
        posexplode(array(sortPlanes.map(p => Vectors.dot(ce, planeLit(p))): _*))
          .as(Seq("r", "proj")))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("bucket"), col("r"), col("rn"))
      // materialized: rk feeds both sides of the successor equi-join —
      // without the persist the per-bucket window sort runs twice
      .transform(graft.ScopedCache.apply)
    val lk = rk.select(col("r"), col("bucket"), col("doc_id").as("ida"),
      explode(sequence(col("rn") + 1, col("rn") + FpWindow)).as("rnb"))
    val pq = lk.join(rk.withColumnRenamed("rn", "rnb"), Seq("r", "bucket", "rnb"))
      .select(least(col("ida"), col("doc_id")).as("doc_a"),
        greatest(col("ida"), col("doc_id")).as("doc_b"))
      .distinct()
    pq.join(feats.select(col("doc_id").as("doc_a"), col("emb").as("ea"), col("nrm").as("na")), Seq("doc_a"))
      .join(feats.select(col("doc_id").as("doc_b"), col("emb").as("eb"), col("nrm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** FIXED-WINDOW CHUNKING with per-chunk features — the audio/video
    * frame pipeline shape: each payload splits into 256-byte windows
    * at a 128-byte stride (50% overlap), each chunk gets a content
    * feature (here the parity hash; a real pipeline would emit MFCCs
    * or frame embeddings). Chunking is posexplode over a generated
    * offset sequence — pure compute, no shuffle, and each chunk row
    * carries (doc, index, offset) so downstream windowed aggregation
    * or alignment can join on position. Bounded to 50 docs so the
    * oracle result stays reviewable. */
  val mChunkedFeatures: GraftQuery = GraftQuery.sql(
    "m_chunked_features", {
      import graft.functions.GraftHash
      s"""WITH ch AS (
         |  SELECT doc_id, text, unnest(generate_series(1, length(text), 128)) AS p
         |  FROM documents WHERE doc_id < 50 AND length(text) > 0),
         |c2 AS (SELECT doc_id, CAST((p - 1) // 128 AS BIGINT) AS chunk_idx,
         |         substring(text, p, 256) AS chunk FROM ch)
         |SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS chunk_len,
         |  ${GraftHash.charHashSql("chunk")} AS chunk_hash
         |FROM c2 ORDER BY doc_id, chunk_idx""".stripMargin
    }
  ) { (s, d) =>
    import graft.functions.GraftHash
    Tables.documents(s, d)
      .filter(col("doc_id") < 50 && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), length(col("text")), lit(128))).as(Seq("chunk_idx", "p")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr("substring(text, p, 256)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        GraftHash.charHash(col("chunk")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** SCENE-CUT DETECTION over the chunk stream — the shot-boundary
    * step of a video/audio ingest pipeline (frame-histogram delta >
    * threshold => cut), run here over m_chunked_features' windows
    * with a character-class rate standing in for the stubbed frame
    * histogram: a boundary is flagged when the vowel RATE shifts by
    * more than 5% between adjacent chunks of the same doc. Rate
    * comparison is integer cross-multiplied
    * (20·|nv·plen − pnv·clen| > clen·plen) so trailing partial
    * chunks don't false-positive on length alone and the cut
    * decision is bit-exact on both engines. Cost shape: the chunk
    * stream is position-generated (no shuffle), the lag() is a
    * per-doc window — embarrassingly parallel in docs; output is
    * cut-proportional. At 100 TB the same plan runs over real frame
    * histograms from the decode stage (m_multimodal_meta's
    * mapPartitions site). */
  val mSceneCuts: GraftQuery = GraftQuery.sql(
    "m_scene_cuts",
    """WITH ch AS (
      |  SELECT doc_id, text, unnest(generate_series(1, length(text), 128)) AS p
      |  FROM documents WHERE length(text) > 0),
      |c2 AS (SELECT doc_id, CAST((p - 1) // 128 AS BIGINT) AS chunk_idx,
      |         substring(text, p, 256) AS chunk FROM ch),
      |f AS (SELECT doc_id, chunk_idx,
      |        CAST(length(chunk) AS BIGINT) AS clen,
      |        CAST(len(regexp_extract_all(chunk, '[aeiou]')) AS BIGINT) AS nv
      |      FROM c2),
      |d AS (SELECT doc_id, chunk_idx, clen, nv,
      |        LAG(clen) OVER w AS plen, LAG(nv) OVER w AS pnv
      |      FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx))
      |SELECT doc_id, chunk_idx, clen, nv, plen, pnv
      |FROM d WHERE plen IS NOT NULL
      |  AND 20 * ABS(nv * plen - pnv * clen) > clen * plen
      |ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), length(col("text")), lit(128))).as(Seq("chunk_idx", "p")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr("substring(text, p, 256)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("clen"),
        size(regexp_extract_all(col("chunk"), lit("[aeiou]"), lit(0))).cast("long").as("nv"))
      .withColumn("plen", lag(col("clen"), 1).over(w))
      .withColumn("pnv", lag(col("nv"), 1).over(w))
      .filter(col("plen").isNotNull &&
        abs(col("nv") * col("plen") - col("pnv") * col("clen")) * 20 >
          col("clen") * col("plen"))
      .select(col("doc_id"), col("chunk_idx"), col("clen"), col("nv"),
        col("plen"), col("pnv"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** BINARY-FILE INGESTION — the missing FIRST step of the multimodal
    * pipeline: media arrives as FILES in an object store, and Spark's
    * built-in `binaryFile` source reads them distributed as
    * (path, modificationTime, length, content) with no driver byte
    * path — the on-ramp every other m_* entry's synthetic `media`
    * column stands downstream of (reference analogue: the
    * DFSInputStream byte-stream read path, DFSInputStream.java:1 —
    * whole-file reads as opaque payloads). Twenty documents are
    * staged as .bin files (bounded driver loop standing in for the
    * object store manifest); the measured query is the binaryFile
    * scan itself: per file its name, the SOURCE's length metadata
    * column, and the parity checksum of the payload — the oracle
    * recomputes all three from the source table (ASCII corpus, so
    * codepoints == bytes). */
  val mBinaryIngest: GraftQuery = GraftQuery.sql(
    "m_binary_ingest",
    s"""SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  ${graft.functions.GraftHash.charHashSql("text")} AS checksum
       |FROM documents WHERE doc_id < 20 ORDER BY file_name""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("binary_ingest")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    Tables.documents(s, d).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).collect() // 20-row staging, bounded
      .foreach { r =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(dir, s"doc_${r.getLong(0)}.bin"), true)
        try out.write(r.getString(1).getBytes("UTF-8")) finally out.close()
      }
    s.read.format("binaryFile").load(dir)
      .select(element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length").as("n_bytes"), // source metadata, not a recount
        graft.functions.GraftHash.charHash(decode(col("content"), "UTF-8"))
          .as("checksum"))
      .orderBy(col("file_name"))
  }

  /** Per-asset output of the frame-sampling stage. */
  case class FrameSample(doc_id: Long, n_frames: Long, n_sampled: Long,
                         checksum: Long, frame_mean: Double)

  /** STUB FRAME SAMPLER — deterministic fake for fps-downsampling a
    * video stream: the payload is an 8-byte-per-frame stream, and the
    * sampler keeps every 3rd frame with a per-asset PHASE (doc_id
    * mod 3) so sampling isn't aligned across assets (the real-world
    * "sample at t0 + k/fps" discipline). Features per asset: total
    * frames, sampled frames, additive checksum and mean of the
    * sampled frames' first byte. Same batch-local plan shape as a
    * real ffmpeg `-vf fps=` pass. */
  def frameSampleStub(a: MediaAsset): FrameSample = {
    val bytes = a.media
    val nf = (bytes.length + 7) / 8
    var sum = 0L; var n = 0L
    var i = (a.doc_id % 3).toInt
    while (i < nf) { sum += bytes(i * 8) & 0xffL; n += 1; i += 3 }
    FrameSample(a.doc_id, nf.toLong, n,
      if (n > 0) sum % 997 else 0L,
      if (n > 0) sum.toDouble / n else 0.0)
  }

  /** FPS-based FRAME SAMPLING over the binary payload — the
    * decode-side downsampling step between ingestion and feature
    * extraction (every video pipeline samples frames before
    * embedding; processing all frames is the classic 30× cost
    * mistake). One narrow mapPartitions pass, no shuffle; the oracle
    * recomputes the identical stride/phase arithmetic from the
    * source text (ASCII corpus: codepoints == bytes). */
  val mFrameSample: GraftQuery = GraftQuery.sql(
    "m_frame_sample",
    """WITH f AS (SELECT doc_id, text,
      |    list_filter(generate_series(0, (length(text) + 7) // 8 - 1),
      |                i -> (i % 3) = (doc_id % 3)) AS idx
      |  FROM documents),
      |v AS (SELECT doc_id, (length(text) + 7) // 8 AS nf, len(idx) AS ns,
      |    list_sum(list_transform(idx, i -> ord(substring(text, i * 8 + 1, 1))::BIGINT)) AS sm
      |  FROM f)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(ns AS BIGINT) AS n_sampled,
      |  CAST(CASE WHEN ns > 0 THEN sm % 997 ELSE 0 END AS BIGINT) AS checksum,
      |  CASE WHEN ns > 0 THEN CAST(sm AS DOUBLE) / ns ELSE 0.0 END AS frame_mean
      |FROM v ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), lit("utf8").as("codec"), lit(0L).as("n_frames"),
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
      .mapPartitions(_.map(frameSampleStub))   // batch-local decode, no shuffle
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** CAPTION–ASSET PAIR ALIGNMENT — the contrastive-training pair
    * manifest (CLIP-style image–text corpora live or die on this
    * join): captions (documents) FULL-OUTER-joined to vision-side
    * features (embeddings) on the shared id, rolled up per language
    * into paired / caption-only / asset-only counts plus the paired
    * token and feature-dim mass — the completeness audit run before
    * any multimodal training job, because silently dropped orphans
    * skew the mixture and paired-row counts are the denominator of
    * every downstream metric. Modality dropout is simulated with
    * deterministic residue classes (doc_id mod 11 / vec_id mod 13 —
    * the corpus ships fully aligned, so the orphan paths would
    * otherwise be dead code; the lake_image_report discipline).
    *
    * Scale shape: the full outer join IS the pair-alignment shuffle —
    * both modality tables hash-partition once on the shared id (at
    * 100 TB this is unavoidable and optimal: alignment is a join),
    * then one language-keyed rollup of per-partition partials.
    * Asset-only rows carry no language and group under 'no_caption'. */
  val mCaptionPairs: GraftQuery = GraftQuery.sql(
    "m_caption_pairs",
    """WITH cap AS (
      |  SELECT doc_id AS cid, lang, len(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id % 11 <> 0),
      |ast AS (
      |  SELECT vec_id AS aid, len(embedding) AS dims
      |  FROM embeddings WHERE vec_id % 13 <> 0),
      |j AS (SELECT * FROM cap FULL OUTER JOIN ast ON cap.cid = ast.aid)
      |SELECT COALESCE(lang, 'no_caption') AS lang,
      |  CAST(SUM(CASE WHEN cid IS NOT NULL AND aid IS NOT NULL
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN aid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caption_only,
      |  CAST(SUM(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_asset_only,
      |  CAST(SUM(CASE WHEN cid IS NOT NULL AND aid IS NOT NULL
      |       THEN toks ELSE 0 END) AS BIGINT) AS pair_tokens,
      |  CAST(SUM(CASE WHEN cid IS NOT NULL AND aid IS NOT NULL
      |       THEN dims ELSE 0 END) AS BIGINT) AS pair_dims
      |FROM j GROUP BY 1 ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val cap = Tables.documents(s, d)
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("cid"), col("lang"),
        size(split(col("text"), " ", -1)).cast("long").as("toks"))
    val ast = Tables.embeddings(s, d)
      .filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id").as("aid"), size(col("embedding")).cast("long").as("dims"))
    val pair = col("cid").isNotNull && col("aid").isNotNull
    cap.join(ast, col("cid") === col("aid"), "full_outer")
      .select(coalesce(col("lang"), lit("no_caption")).as("lang"),
        when(pair, 1L).otherwise(0L).as("is_pair"),
        when(col("aid").isNull, 1L).otherwise(0L).as("cap_only"),
        when(col("cid").isNull, 1L).otherwise(0L).as("ast_only"),
        when(pair, col("toks")).otherwise(0L).as("ptoks"),
        when(pair, col("dims")).otherwise(0L).as("pdims"))
      .groupBy(col("lang"))
      .agg(sum(col("is_pair")).as("n_pairs"),
        sum(col("cap_only")).as("n_caption_only"),
        sum(col("ast_only")).as("n_asset_only"),
        sum(col("ptoks")).as("pair_tokens"),
        sum(col("pdims")).as("pair_dims"))
      .orderBy(col("lang"))
  }

  /** Per-asset output of the voice-activity stage. */
  case class VadReport(doc_id: Long, n_samples: Long, n_voiced: Long,
                       n_segments: Long, longest_seg: Long, voiced_pm: Long)

  /** STUB VOICE-ACTIVITY DETECTOR — deterministic fake for the
    * energy-threshold VAD every speech pipeline runs before ASR
    * (transcribing silence is the audio version of embedding all
    * video frames): the payload bytes are the sample stream, a
    * sample is "voiced" when its amplitude sits in the [97, 122]
    * band (on this ASCII corpus: lowercase letters — spaces and
    * punctuation read as silence, which makes the stub's segment
    * structure match natural word runs), and one forward pass folds
    * the run-length state (current run, longest run, segment count)
    * exactly like a real frame-energy VAD folds hangover state. */
  def vadStub(a: MediaAsset): VadReport = {
    val bytes = a.media
    var voiced = 0L; var segs = 0L; var cur = 0L; var longest = 0L
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) >= 97 && bytes(i) <= 122
      if (v) {
        if (cur == 0L) segs += 1
        cur += 1; voiced += 1
        if (cur > longest) longest = cur
      } else cur = 0L
      i += 1
    }
    VadReport(a.doc_id, bytes.length.toLong, voiced, segs, longest,
      if (bytes.length > 0) 1000L * voiced / bytes.length else 0L)
  }

  /** VOICE-ACTIVITY DETECTION over the binary payload — the
    * decode-side gate between audio ingestion and transcription
    * (m_frame_sample thins video frames; this is the audio twin that
    * drops silence): per asset, total samples, voiced samples,
    * voiced-segment count, longest segment and voiced per-mille.
    * One narrow mapPartitions pass over the payload (the legitimate
    * mapPartitions use: a byte-stream codec fold is not a Catalyst
    * expression), NO shuffle at any corpus size — the oracle
    * recomputes the identical run structure from the source text
    * with regexp run extraction (ASCII corpus: bytes == chars). */
  val mAudioVad: GraftQuery = GraftQuery.sql(
    "m_audio_vad",
    """WITH runs AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_samples,
      |    regexp_extract_all(text, '[a-z]+') AS rs
      |  FROM documents)
      |SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
      |  CAST(COALESCE(list_sum(list_transform(rs, r -> length(r))), 0)
      |       AS BIGINT) AS n_voiced,
      |  CAST(len(rs) AS BIGINT) AS n_segments,
      |  CAST(COALESCE(list_max(list_transform(rs, r -> length(r))), 0)
      |       AS BIGINT) AS longest_seg,
      |  CAST(CASE WHEN n_samples > 0 THEN
      |    (1000 * COALESCE(list_sum(list_transform(rs, r -> length(r))), 0))
      |      // n_samples ELSE 0 END AS BIGINT) AS voiced_pm
      |FROM runs ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), lit("pcm8").as("codec"), lit(0L).as("n_frames"),
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
      .mapPartitions(_.map(vadStub))   // batch-local decode, no shuffle
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Perceptual-hash geometry: 60 mean-compared blocks (bits 0-59 —
    * bit 63 would flip the BIGINT sign and complicate band math),
    * Manku table blocking for the candidate stage (r16: the 4x15-bit
    * single-band form birthday-collided at N²/2^15 per band — the
    * whole-registry 100× suite measured 335 s / 821× on an op whose
    * verified output is linear; the same defect d_simhash carried
    * until r15): 6 pieces × 10 bits, one table per C(6,3)=20
    * three-piece subset, 30-bit concatenated keys — recall identical
    * by pigeonhole (≤3 flips damage ≤3 pieces, every 3-subset is a
    * table; the old 4-band form guaranteed exactly the same ≤3),
    * random collisions fall ~2^15-fold. hamming <= 6 (10% of the
    * bits) still CONFIRMS a near-dup — candidates past hamming 3 are
    * best-effort in both forms, and the output's candidate-vs-
    * confirmed volume is the banding-quality audit. */
  val PhashBlocks = 60
  val PhashPieces = 6
  val PhashPieceBits = 10
  val PhashBlockHamming = 3
  val PhashMaxHamming = 6L

  /** Per-asset perceptual hash (the block-mean aHash every image
    * dedup pipeline computes after decode): bit b is set when block
    * b's mean byte exceeds the whole-payload mean — compared
    * cross-multiplied in exact integers (sum_b * L > total * len_b),
    * no division. Decode is the stubbed identity (payload bytes ARE
    * the pixel stream on this corpus); the block layout, integer
    * mean test, and band split are the production shape. */
  def phashStub(a: MediaAsset): (Long, Long) = {
    val bytes = a.media
    val L = bytes.length
    var total = 0L
    var i = 0
    while (i < L) { total += bytes(i); i += 1 }
    var hash = 0L
    var b = 0
    while (b < PhashBlocks) {
      val lo = b * L / PhashBlocks
      val hi = (b + 1) * L / PhashBlocks
      var s = 0L
      var j = lo
      while (j < hi) { s += bytes(j); j += 1 }
      if (s * L > total * (hi - lo)) hash |= 1L << b
      b += 1
    }
    (a.doc_id, hash)
  }

  /** PERCEPTUAL-HASH NEAR-DUP over the binary payload — the image
    * arm of the dedup family (d_* dedups text by shingles, d_embed_*
    * by embeddings; image corpora dedup on a perceptual hash — the
    * block-mean aHash here, same family as pHash/dHash): per asset a
    * 60-bit hash from exact integer block-mean comparisons, then
    * Manku table blocking (WWW'07 §3, the d_simhash scheme) — 6
    * pieces × 10 bits, C(6,3)=20 tables on 30-bit three-piece keys,
    * candidates = pairs sharing ANY table key (an equi-join on the
    * key, NEVER all-pairs: at 100 TB each key fans into its own
    * bucket and the join co-locates, the d_minhash_lsh discipline;
    * recall for hamming ≤3 exact by pigeonhole, same as the retired
    * 4×15 banding whose 15-bit keys birthday-collided N²/2^15) — and
    * verification by hamming distance bit_count(xor) on candidates
    * only — every banded candidate is REPORTED with its distance and
    * a confirmed flag (hamming ≤ 6), so the output doubles as the
    * banding-quality audit (candidate volume vs confirmed volume,
    * the d_lsh_recall discipline: on this corpus the tight pairs
    * only appear at sf0.1, and the report SAYS so instead of
    * silently emitting nothing). Exact integers end to end; the
    * oracle recomputes the identical hash from the source text's
    * char codes (ASCII corpus: bytes == chars, the m_audio_vad
    * equivalence). Identical payloads hash identically (hamming 0),
    * so the exact-dup mass is the confirmed floor. */
  val mPhashDedup: GraftQuery = GraftQuery.sql(
    "m_phash_dedup", {
      val nb = PhashBlocks
      val mask = (1L << PhashPieceBits) - 1
      val chunkUnion = graft.api.Graft.dedup
        .simhashCombos(PhashPieces, PhashBlockHamming)
        .zipWithIndex.map { case (combo, k) =>
          val key = combo.map(p => s"((ph >> ${p * PhashPieceBits}) & $mask)")
            .reduceLeft((acc, piece) => s"($acc * ${1L << PhashPieceBits} + $piece)")
          s"SELECT doc_id, ph, $k AS bi, $key AS bv FROM h"
        }.mkString("\nUNION ALL\n")
      s"""WITH c AS (SELECT doc_id, length(text) AS L,
         |    list_transform(range(1, length(text) + 1), i -> ascii(text[i])) AS cod
         |  FROM documents),
         |t AS (SELECT doc_id, L, cod, COALESCE(list_sum(cod), 0) AS total FROM c),
         |h AS (SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(0, $nb), b ->
         |    CASE WHEN COALESCE(list_sum(cod[(b * L) // $nb + 1 : ((b + 1) * L) // $nb]), 0) * L
         |           > total * (((b + 1) * L) // $nb - (b * L) // $nb)
         |         THEN CAST(1 AS BIGINT) << b ELSE 0 END)), 0) AS BIGINT) AS ph
         |  FROM t),
         |bands AS ($chunkUnion),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.bi = y.bi AND x.bv = y.bv
         |  WHERE x.doc_id < y.doc_id)
         |SELECT cand.a, cand.b,
         |  CAST(bit_count(xor(ha.ph, hb.ph)) AS BIGINT) AS hamming,
         |  CAST(CASE WHEN bit_count(xor(ha.ph, hb.ph)) <= $PhashMaxHamming
         |       THEN 1 ELSE 0 END AS BIGINT) AS confirmed
         |FROM cand JOIN h ha ON cand.a = ha.doc_id JOIN h hb ON cand.b = hb.doc_id
         |ORDER BY cand.a, cand.b""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val h = graft.ScopedCache(Tables.documents(s, d)
      .select(col("doc_id"), lit("img8").as("codec"), lit(0L).as("n_frames"),
        encode(col("text"), "UTF-8").as("media"))
      .as[MediaAsset]
      .mapPartitions(_.map(phashStub))   // batch-local decode, no shuffle
      .toDF("doc_id", "ph"))
    val mask = (1L << PhashPieceBits) - 1
    val combos = graft.api.Graft.dedup.simhashCombos(PhashPieces, PhashBlockHamming)
    val bands = h.select(col("doc_id"),
      posexplode(array(combos.map { combo =>
        combo.foldLeft(lit(0L)) { (acc, p) =>
          shiftleft(acc, PhashPieceBits) +
            shiftright(col("ph"), p * PhashPieceBits).bitwiseAND(lit(mask))
        }
      }: _*)).as(Seq("bi", "bv")))
    val cand = bands.select(col("bi"), col("bv"), col("doc_id").as("a"))
      .join(bands.select(col("bi"), col("bv"), col("doc_id").as("b")), Seq("bi", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(h.select(col("doc_id").as("ha"), col("ph").as("ph_a")), col("a") === col("ha"))
      .join(h.select(col("doc_id").as("hb"), col("ph").as("ph_b")), col("b") === col("hb"))
      .withColumn("hamming", expr("bit_count(ph_a ^ ph_b)").cast("long"))
      .select(col("a"), col("b"), col("hamming"),
        when(col("hamming") <= PhashMaxHamming, 1L).otherwise(0L).as("confirmed"))
      .orderBy(col("a"), col("b"))
  }

  def all: Seq[GraftQuery] =
    Seq(mMultimodalMeta, mMediaResize, mFeaturePairs, mChunkedFeatures, mSceneCuts,
      mBinaryIngest, mFrameSample, mCaptionPairs, mAudioVad, mPhashDedup)
}
