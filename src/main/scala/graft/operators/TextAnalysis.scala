package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.GraftHash
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for LLM-data pipelines (SURVEY.md §2): token
  * counting, quality scoring, language-ID, fingerprinting. All built
  * from codegen'd higher-order functions (no UDFs), with DuckDB
  * oracles that replicate the arithmetic bit-for-bit.
  */
object TextAnalysis {

  /** BPE-ish tokenizer regex: letter runs, single digits, or single
    * non-alphanumeric marks. Same dialect subset in Java and RE2. */
  val BpePattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  val StopWords = Seq("the", "a", "of", "and", "to", "in")
  private def sqlList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Whitespace + BPE-ish token counts, aggregated per language. */
  val tTokenCount: GraftQuery = GraftQuery.sql(
    "t_token_count",
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(lower(text), '$BpePattern'))) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_ws_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ", -1)).cast("long").as("ws"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("total_chars"),
        (sum(col("ws")).cast("double") / count(lit(1))).as("avg_ws_tokens"))
      .orderBy(col("lang"))
  }

  /** Per-doc quality score from length/punctuation/stopword ratios —
    * the classic pre-training corpus filter shape. Pure double
    * arithmetic on integer counts → bit-identical cross-engine. */
  val tQualityScore: GraftQuery = GraftQuery.sql(
    "t_quality_score",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(StopWords)})) AS DOUBLE) AS n_stop
       |  FROM documents)
       |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       |  0.5 * LEAST(1.0, n_tok / 80.0)
       |    + 0.3 * (1.0 - n_punct / n_chars)
       |    + 0.2 * LEAST(1.0, 4.0 * n_stop / n_tok) AS score
       |FROM f ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // Token array materialized once per row (each HOF referencing an
    // inline split() re-runs the regex split per call).
    val toks = col("t")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        size(toks).cast("double").as("n_tok"),
        size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("double").as("n_punct"),
        length(col("text")).cast("double").as("n_chars"),
        size(filter(toks, t => t.isInCollection(StopWords))).cast("double").as("n_stop"))
      .select(col("doc_id"),
        col("n_tok").cast("long").as("n_tokens"),
        (lit(0.5) * least(lit(1.0), col("n_tok") / 80.0)
          + lit(0.3) * (lit(1.0) - col("n_punct") / col("n_chars"))
          + lit(0.2) * least(lit(1.0), lit(4.0) * col("n_stop") / col("n_tok"))).as("score"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word sets per language (n-gram heuristic, degenerate to
    * unigrams on this synthetic vocabulary). Priority order breaks
    * ties deterministically. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "fast", "small"),
    "es" -> Seq("order", "data", "line"),
    "de" -> Seq("window", "group", "merge"),
    "fr" -> Seq("table", "filter", "row"),
    "zh" -> Seq("hash", "scan", "join"))

  /** Heuristic language-ID vs the labeled truth → confusion counts. */
  val tLangId: GraftQuery = GraftQuery.sql(
    "t_lang_id",
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |${LangMarkers.map { case (l, ws) => s"    len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(ws)})) AS s_$l" }.mkString(",\n")}
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang, CASE
       |${LangMarkers.init.map { case (l, _) => s"    WHEN ${LangMarkers.map(_._1).filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")} THEN '$l'" }.mkString("\n")}
       |    ELSE '${LangMarkers.last._1}' END AS predicted
       |  FROM sc)
       |SELECT lang, predicted, COUNT(*) AS n FROM p
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  ) { (s, d) =>
    // One split per row, shared by the five marker-set filters.
    val toks = col("t")
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ", -1).as("t"))
      .select(
        (Seq(col("doc_id"), col("lang")) ++ LangMarkers.map { case (l, ws) =>
          size(filter(toks, t => t.isInCollection(ws))).as(s"s_$l")
        }): _*)
    val langs = LangMarkers.map(_._1)
    val pred = LangMarkers.init.foldRight(lit(langs.last): Column) { case ((l, _), els) =>
      when(langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _), lit(l))
        .otherwise(els)
    }
    // NOTE: foldRight keeps WHEN-clause priority order = LangMarkers order
    scored.select(col("lang"), pred.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Per-doc rolling-hash fingerprint — every value oracle-checked. */
  val tFingerprint: GraftQuery = GraftQuery.sql(
    "t_fingerprint",
    s"""SELECT doc_id, ${GraftHash.charHashSql("text")} AS fp, length(text) AS n
       |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        GraftHash.charHash(col("text")).as("fp"),
        length(col("text")).cast("long").as("n"))
      .orderBy(col("doc_id"))
  }

  /** Corpus n-gram statistics: top-10 word bigrams per language
    * (explode -> two-phase count -> per-group top-N window). */
  val tNgramFreq: GraftQuery = GraftQuery.sql(
    "t_ngram_freq",
    """WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT lang, unnest(list_transform(generate_series(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks),
      |cnt AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |         ORDER BY n DESC, bigram) AS rank FROM cnt)
      |SELECT lang, bigram, n, CAST(rank AS BIGINT) AS rank
      |FROM rk WHERE rank <= 10 ORDER BY lang, rank""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // Materialize the token array in its own projection so the regex
    // split runs once per row; referencing `split(text)` inside a
    // higher-order lambda would re-evaluate it on every iteration
    // (HOFs are interpreted, no subexpression elimination) — O(n²)
    // per document. zip_with against the shifted slice pairs each
    // token with its successor; the final (last, null) pair yields
    // NULL via concat's null-intolerance and is filtered.
    val t = col("t")
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    Tables.documents(s, d)
      .select(col("lang"), split(col("text"), " ", -1).as("t"))
      .select(col("lang"),
        explode(zip_with(t, slice(t, lit(2), size(t) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy(col("lang"), col("rank"))
  }

  /** Per-transition probability quantum: probabilities become
    * integer MICRO-units (⌊p·10⁶⌋) so per-doc sums are exact integer
    * arithmetic. Overflow headroom: (c12+1)·10⁶ needs c12 < 9.2e12 —
    * nine trillion occurrences of ONE bigram before the formula
    * saturates Int64. */
  val FluencyScale = 1000000L

  /** Perplexity-style fluency score from a corpus-trained character
    * bigram model: score(doc) = mean add-1-smoothed transition
    * probability over the doc's bigrams. Mean probability (not log
    * likelihood) keeps the score transcendental-free — ln() is not
    * bit-identical across libm implementations; integer-count
    * arithmetic is. Each transition's probability is QUANTIZED to
    * integer micro-units (⌊(c12+1)·10⁶/(c1+V)⌋ — identical floor
    * division on both engines), so the per-doc sum is an
    * order-independent integer SUM: map-side partial aggregation
    * applies and only per-doc partials shuffle. The r8 form folded
    * FLOAT probs in position order for determinism, which forced a
    * collect_list of every character transition through the shuffle
    * and materialized per-doc lists — the thing that breaks first on
    * long documents at 100 TB; quantization buys the same
    * determinism with aggregation the planner can stream. The model
    * is ONE corpus aggregate (bigram counts; first-char counts are
    * derived from it, and smoothing+quantization fold into the
    * vocab-sized model frame) broadcast into the scoring pass — the
    * corpus pays exactly two passes: model build and probe. The
    * canonical LM-quality-filter shape: train on the corpus, score
    * every doc, filter the tail. */
  val tFluencyScore: GraftQuery = GraftQuery.sql(
    "t_fluency_score",
    s"""WITH pos AS (
      |  SELECT doc_id, unnest(generate_series(1, length(text) - 1)) AS i, text
      |  FROM documents),
      |pb AS (SELECT doc_id, substring(text, i, 2) AS b, substring(text, i, 1) AS c
      |       FROM pos),
      |model_bg AS (SELECT b, COUNT(*) AS c12 FROM pb GROUP BY b),
      |model_c1 AS (SELECT c, COUNT(*) AS c1 FROM pb GROUP BY c),
      |v AS (SELECT CAST(COUNT(DISTINCT ch) AS BIGINT) AS v
      |      FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)),
      |p AS (SELECT pb.doc_id,
      |        (mb.c12 + 1) * $FluencyScale // (mc.c1 + v.v) AS prob_u
      |      FROM pb JOIN model_bg mb ON pb.b = mb.b
      |      JOIN model_c1 mc ON pb.c = mc.c CROSS JOIN v),
      |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(prob_u) AS s
      |       FROM p GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  CAST(s AS DOUBLE) / $FluencyScale / n_bigrams AS fluency
      |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // Transitions as PACKED INTEGER CODES, recomputed per pass
    // (r16, from a stage decomposition at the 100× anchor):
    // the r15 form cached one row per character transition and the
    // first r16 attempt pre-aggregated (doc, bigram) — but a doc's
    // transitions all live in ONE task, so that groupBy shuffled the
    // full near-unreduced frame (~21 s of the op's 42 s), and the
    // cache write+read of corpus-chars rows was most of the rest.
    // The model is TINY (distinct bigrams), so the cheapest shape is
    // two streaming passes with nothing corpus-sized ever cached or
    // shuffled: each pass scans text, packs consecutive code points
    // into one long (a*2^21+b — injective, so grouping classes equal
    // the string bigrams'; no per-transition string allocation), and
    // partial-aggregates — pass 1 collapses to the distinct-bigram
    // model, pass 2 scores through one broadcast join and collapses
    // to one row per doc before its shuffle.
    def transitions: org.apache.spark.sql.DataFrame = {
      val codes = transform(
        filter(split(col("text"), "", -1), ch => ch =!= ""), ch => ascii(ch))
      docs.select(col("doc_id"),
          explode(zip_with(codes, slice(codes, lit(2), size(codes) - 1),
            (a, b) => a * lit(2097152L) + b)).as("bc"))
        .filter(col("bc").isNotNull) // the (last, null) zip tail
    }
    val modelBg = graft.ScopedCache( // vocab-sized; three derived legs
      transitions.groupBy(col("bc").as("mb_bc"))
        .agg(count(lit(1)).as("c12")))
    // first-char counts DERIVED from the tiny bigram model — a
    // transition's first char is its bigram's first code, so
    // c1(c) = Σ_{b: b[0]=c} c12(b) exactly
    val modelC1 = modelBg
      .groupBy((col("mb_bc") / 2097152L).cast("long").as("mc_c"))
      .agg(sum(col("c12")).as("c1"))
    // vocab from the model frame instead of a third corpus pass:
    // every char of a length>=2 doc appears in some bigram (either
    // position); length-1 docs contribute their lone char via the
    // pushed-down filter arm (near-zero rows)
    val vocab = modelBg
      .select(explode(array((col("mb_bc") / 2097152L).cast("long"),
        pmod(col("mb_bc"), lit(2097152L)))).as("ch"))
      .union(docs.filter(length(col("text")) === 1)
        .select(ascii(col("text")).cast("long").as("ch")))
      .agg(countDistinct(col("ch")).as("v"))
    // fold smoothing + quantization into the VOCAB-sized model frame,
    // so the corpus-wide probe pays ONE broadcast join
    val model = modelBg
      .join(broadcast(modelC1),
        (col("mb_bc") / 2097152L).cast("long") === col("mc_c"))
      .crossJoin(broadcast(vocab))
      .select(col("mb_bc"),
        expr(s"(c12 + 1) * $FluencyScale div (c1 + v)").as("prob_u"))
    transitions
      .join(broadcast(model), col("bc") === col("mb_bc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("prob_u")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("s").cast("double") / FluencyScale / col("n_bigrams")).as("fluency"))
      .orderBy(col("doc_id"))
  }

  /** Language-mix diversity per source via Gini impurity
    * (1 - Σ p_l²) — entropy would need ln(), which is not bit-stable
    * across libm implementations; Gini is integer count sums and one
    * final division, exact in both engines. The corpus-curation view
    * of "is this source monolingual or mixed". */
  val tLangGini: GraftQuery = GraftQuery.sql(
    "t_lang_gini",
    """WITH c AS (SELECT source, lang, COUNT(*) AS nl
      |           FROM documents GROUP BY source, lang),
      |s AS (SELECT source, CAST(SUM(nl) AS BIGINT) AS n,
      |        SUM(CAST(nl AS HUGEINT) * nl) AS ss
      |      FROM c GROUP BY source)
      |SELECT source, n AS n_docs,
      |  CAST(1 AS DOUBLE) - CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS lang_gini
      |FROM s ORDER BY source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("source"))
      // nl*nl in decimal/HUGEINT: a long multiply would silently wrap
      // past ~3e9 docs per (source, lang) in non-ANSI Spark while the
      // oracle's checked BIGINT multiply errors — keep both exact
      .agg(sum(col("nl")).as("n"),
        sum(col("nl").cast("decimal(38,0)") * col("nl")).as("ss"))
      .select(col("source"), col("n").as("n_docs"),
        (lit(1.0) - col("ss").cast("double") / (col("n").cast("double") * col("n")))
          .as("lang_gini"))
      .orderBy(col("source"))
  }

  // Sensitive-token denylist for the scrub op. The corpus is synthetic
  // ASCII with no real PII, so two ordinary tokens stand in for the
  // entity classes a production pack matches (emails, phone numbers,
  // government ids). Replacement patterns MUST stay in the dialect
  // both engines share — RE2 ∩ Java regex (no lookaround, no
  // backreferences) — and must not contain single quotes (the pattern
  // is interpolated into a quoted DuckDB literal).
  val PiiPattern = "\\b(customer|vector)\\b"
  val PiiReplacement = "[REDACTED]"

  /** PII scrub — the privacy-filter stage of a training-data pipeline:
    * scan every document against a sensitive-pattern denylist, rewrite
    * matches to a redaction marker, and account per source (docs hit,
    * total redactions) with an order-independent checksum of the
    * REDACTED corpus so the rewrite itself is verifiable. One codegen'd
    * pass per doc (regexp scan + rewrite + hash); no shuffle beyond the
    * accounting aggregation. */
  val tPiiScrub: GraftQuery = GraftQuery.sql(
    "t_pii_scrub",
    s"""WITH r AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '$PiiPattern')) AS hits,
       |    regexp_replace(text, '$PiiPattern', '$PiiReplacement', 'g') AS red
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       |  CAST(SUM(hits) AS BIGINT) AS n_redactions,
       |  CAST(SUM(${GraftHash.charHashSql("red")}) % ${GraftHash.P} AS BIGINT) AS redacted_checksum
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(PiiPattern), lit(0))).as("hits"),
        regexp_replace(col("text"), PiiPattern, PiiReplacement).as("red"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum(col("hits")).cast("long").as("n_redactions"),
        (sum(GraftHash.charHash(col("red"))) % GraftHash.P).as("redacted_checksum"))
      .orderBy(col("source"))
  }

  /** Data-mixture rebalancing — the mixture-control op every
    * pre-training pipeline runs before a training dump: downsample
    * every language to the rarest one's count so the corpus mix is
    * (approximately) uniform. The keep fraction is integer
    * per-mille arithmetic ((min_count * 1000) / lang_count — exact
    * in both engines) and the sample is a deterministic LCG-mixed
    * modulo filter (((doc_id % 1000) * 245 + 345) % 1000 <
    * keep_per_mille — mixing decorrelates the residue from raw id
    * ranges, which at small scale don't wrap the modulus), so the
    * selected set is reproducible run-over-run and auditable. At
    * 100 TB this is one aggregate (lang histogram, broadcast back)
    * plus an embarrassingly parallel filter: no shuffle of the
    * corpus itself. */
  val tLangRebalance: GraftQuery = GraftQuery.sql(
    "t_lang_rebalance",
    """WITH cnt AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |mn AS (SELECT MIN(n_docs) AS min_docs FROM cnt),
      |pm AS (SELECT lang, n_docs, (min_docs * 1000) // n_docs AS keep_per_mille
      |       FROM cnt CROSS JOIN mn),
      |kept AS (SELECT d.lang, COUNT(*) AS n_kept
      |         FROM documents d JOIN pm ON d.lang = pm.lang
      |         WHERE ((d.doc_id % 1000) * 245 + 345) % 1000 < pm.keep_per_mille
      |         GROUP BY d.lang)
      |SELECT pm.lang, pm.n_docs, CAST(pm.keep_per_mille AS BIGINT) AS keep_per_mille,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM pm LEFT JOIN kept k ON pm.lang = k.lang
      |ORDER BY pm.lang""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val mn = cnt.agg(min(col("n_docs")).as("min_docs"))
    // scalar broadcast (never a driver collect), then integer
    // per-mille keep fraction per language
    val pm = cnt.crossJoin(broadcast(mn))
      .select(col("lang"), col("n_docs"),
        expr("(min_docs * 1000) div n_docs").as("keep_per_mille"))
    val kept = docs.join(broadcast(pm.select(col("lang").as("p_lang"), col("keep_per_mille"))),
        col("lang") === col("p_lang") &&
          ((col("doc_id") % 1000) * 245L + 345L) % 1000 < col("keep_per_mille"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .select(col("lang").as("k_lang"), col("n_kept"))
    pm.join(kept, col("lang") === col("k_lang"), "left")
      .select(col("lang"), col("n_docs"), col("keep_per_mille"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** REPETITION FILTER — the Gopher/MassiveText repetition-removal
    * signal: a document whose duplicate-bigram fraction exceeds 5% is
    * boilerplate/template suspect. Per doc: bigram count, distinct
    * bigram count (both from one token-array projection — the
    * zip_with-shifted-slice pairing proven bit-compatible with the
    * oracle's generate_series formulation by t_ngram_freq), dup =
    * difference; the 5% flag is an INTEGER comparison (dup*20 > n, no
    * float threshold), and the corpus-level fraction is one division
    * of two exact integer sums — deterministic at any parallelism.
    * Embarrassingly parallel (one groupBy on lang), no shuffle of the
    * corpus itself: the scale shape of every per-doc quality pass. */
  val tRepetitionFilter: GraftQuery = GraftQuery.sql(
    "t_repetition_filter",
    """WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT lang, list_transform(generate_series(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1]) AS bg FROM toks),
      |m AS (SELECT lang, len(bg) AS nbg, len(list_distinct(bg)) AS ndist FROM bg),
      |d AS (SELECT lang, nbg, nbg - ndist AS dup FROM m)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dup * 20 > nbg THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(dup) AS BIGINT) AS dup_bigrams,
      |  CAST(SUM(nbg) AS BIGINT) AS total_bigrams,
      |  CAST(SUM(dup) AS DOUBLE) / SUM(nbg) AS corpus_dup_frac
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val t = col("t")
    Tables.documents(s, d)
      .select(col("lang"), split(col("text"), " ", -1).as("t"))
      .select(col("lang"),
        filter(zip_with(t, slice(t, lit(2), size(t) - 1),
          (x, y) => concat(x, lit(" "), y)), _.isNotNull).as("bg"))
      .select(col("lang"), size(col("bg")).as("nbg"),
        (size(col("bg")) - size(array_distinct(col("bg")))).as("dup"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup") * 20 > col("nbg"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("dup")).cast("long").as("dup_bigrams"),
        sum(col("nbg")).cast("long").as("total_bigrams"))
      .withColumn("corpus_dup_frac",
        col("dup_bigrams").cast("double") / col("total_bigrams"))
      .orderBy(col("lang"))
  }

  /** C4/GOPHER-STYLE DOCUMENT QUALITY GATE — the rule-based document
    * filter every web-scale corpus pass runs before training
    * (C4/Raffel et al. 2020 heuristics; Gopher/Rae et al. 2021 §A1.1
    * quality rules). Three rules, each an exact integer/thresholded
    * signal per document:
    *  - too_short: word count < 25 (C4 drops pages with < 3
    *    sentences; word-count floor is the Gopher form, bound chosen
    *    for this corpus's 10-99-word documents);
    *  - word_len: mean word length outside [3, 10] (Gopher rule,
    *    computed as an integer cross-multiplication — sum_len*1 vs
    *    3*n and 10*n — so no float threshold is involved);
    *  - dup_word: most-frequent unigram exceeds 12.5% of tokens
    *    (Gopher's repeated-content family; integer comparison
    *    top_cnt * 8 > n_tok).
    * A document passes the gate iff no rule fires. Output is the
    * per-language audit: documents, per-rule failure counts, kept
    * count — exact integers, deterministic at any parallelism.
    * Embarrassingly parallel per-doc map + one tiny groupBy(lang):
    * the corpus itself never shuffles — the scale shape of every
    * quality pass at 100 TB. */
  val tC4Filter: GraftQuery = GraftQuery.sql(
    "t_c4_filter",
    """WITH f AS (
      |  SELECT lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    list_reduce(list_transform(string_split(text, ' '), w -> length(w)),
      |      (x, y) -> x + y) AS sum_len,
      |    (SELECT MAX(cnt) FROM (
      |       SELECT COUNT(*) AS cnt
      |       FROM unnest(string_split(text, ' ')) AS u(w) GROUP BY w)) AS top_cnt
      |  FROM documents),
      |r AS (SELECT lang,
      |    CASE WHEN n_tok < 25 THEN 1 ELSE 0 END AS f_short,
      |    CASE WHEN sum_len < 3 * n_tok OR sum_len > 10 * n_tok THEN 1 ELSE 0 END AS f_wordlen,
      |    CASE WHEN top_cnt * 8 > n_tok THEN 1 ELSE 0 END AS f_dupword
      |  FROM f)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(f_short) AS BIGINT) AS n_too_short,
      |  CAST(SUM(f_wordlen) AS BIGINT) AS n_bad_wordlen,
      |  CAST(SUM(f_dupword) AS BIGINT) AS n_dup_word,
      |  CAST(SUM(CASE WHEN f_short + f_wordlen + f_dupword = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val toks = col("t")
    val f = Tables.documents(s, d)
      .select(col("lang"), split(col("text"), " ", -1).as("t"))
      .select(col("lang"),
        size(toks).as("n_tok"),
        aggregate(transform(toks, w => length(w)), lit(0), (x, y) => x + y).as("sum_len"),
        array_max(map_values(  // per-doc unigram histogram, row-local
          aggregate(toks, map().cast("map<string,int>"),
            (m, w) => map_zip_with(m, map_from_arrays(array(w), array(lit(1))),
              (_, a, b) => coalesce(a, lit(0)) + coalesce(b, lit(0)))))).as("top_cnt"))
    val r = f.select(col("lang"),
      when(col("n_tok") < 25, 1).otherwise(0).as("f_short"),
      when(col("sum_len") < lit(3) * col("n_tok") ||
        col("sum_len") > lit(10) * col("n_tok"), 1).otherwise(0).as("f_wordlen"),
      when(col("top_cnt") * 8 > col("n_tok"), 1).otherwise(0).as("f_dupword"))
    r.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_too_short"),
        sum(col("f_wordlen")).as("n_bad_wordlen"),
        sum(col("f_dupword")).as("n_dup_word"),
        sum(when(col("f_short") + col("f_wordlen") + col("f_dupword") === 0, 1)
          .otherwise(0)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** STRATIFIED MIXTURE SAMPLE — build a training mixture by sampling
    * each (lang, source) stratum at a per-language target rate (the
    * data-mixture step after quality filtering: down-weight the
    * dominant language, keep the tail). Membership is the same
    * deterministic integer-LCG coin as t_lang_rebalance —
    * ((doc_id mod 1000) * 245 + 345) mod 1000 < rate (residues of the LCG constants — reduced BEFORE the multiply so the coin can never overflow Int64 at any doc_id) — so the sample is
    * reproducible at any parallelism, needs no RNG state, and the
    * corpus never shuffles: one scan, a broadcast rate table, one
    * tiny groupBy on the stratum key. Output audits realized vs
    * target per-mille per stratum — exact integers plus one integer
    * division. Differs from t_lang_rebalance (equalize to the min
    * count) in that rates are an explicit mixture policy and strata
    * are two-level. */
  val tStratifiedSample: GraftQuery = {
    val rates: Seq[(String, Int)] =
      Seq("de" -> 800, "en" -> 200, "es" -> 600, "fr" -> 800, "zh" -> 500)
    val rateSql = rates.map { case (l, r) =>
      s"SELECT '$l' AS lang, $r AS target_pm" }.mkString(" UNION ALL ")
    GraftQuery.sql(
      "t_stratified_sample",
      s"""WITH rt AS ($rateSql),
         |k AS (SELECT d.lang, d.source,
         |        COUNT(*) AS n_docs,
         |        SUM(CASE WHEN ((d.doc_id % 1000) * 245 + 345) % 1000 < rt.target_pm
         |            THEN 1 ELSE 0 END) AS n_kept,
         |        MAX(rt.target_pm) AS target_pm
         |      FROM documents d JOIN rt ON d.lang = rt.lang
         |      GROUP BY d.lang, d.source)
         |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  CAST(target_pm AS BIGINT) AS target_pm,
         |  CAST((n_kept * 1000) // n_docs AS BIGINT) AS realized_pm
         |FROM k ORDER BY lang, source""".stripMargin
    ) { (s, d) =>
      val rt = s.createDataFrame(rates.map(r => (r._1, r._2)))
        .toDF("r_lang", "target_pm")
      Tables.documents(s, d)
        .join(broadcast(rt), col("lang") === col("r_lang"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(((col("doc_id") % 1000) * 245L + 345L) % 1000 < col("target_pm"), 1L)
            .otherwise(0L)).as("n_kept"),
          max(col("target_pm")).cast("long").as("target_pm"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_kept"), col("target_pm"),
          expr("(n_kept * 1000) div n_docs").as("realized_pm"))
        .orderBy(col("lang"), col("source"))
    }
  }

  /** Shard count for sequence packing — local[32]-sized here; at
    * 100 TB set to O(cluster cores): shards never interact, so the
    * packing stays exact at any shard count (only WHICH docs share a
    * training sequence changes, deterministically). */
  val PackShards = 8
  /** Tokens per packed training sequence (context window). */
  val SeqBudget = 512

  /** SEQUENCE PACKING — the pretraining dataset-assembly step (the
    * GPT/T5 concat-and-slice regime): each shard's whitespace-token
    * stream is concatenated in deterministic doc_id order and sliced
    * into fixed SeqBudget-token training sequences; documents cross
    * sequence boundaries instead of leaving tail padding. Output is
    * the PACK MANIFEST — per doc its shard, first/last sequence
    * index, and token offset within the first sequence — which is all
    * a loader needs to assemble any sequence. Cost: one cumulative
    * window per shard over per-doc token counts — no joins, no
    * pairwise work; the only shuffle is the partition-by-shard, and
    * shards are embarrassingly parallel. Integer-exact on both
    * engines (BIGINT token counts, integer div/mod). */
  val tSeqPack: GraftQuery = GraftQuery.sql(
    "t_seq_pack",
    s"""WITH tok AS (SELECT doc_id, doc_id % $PackShards AS shard,
       |    len(string_split(text, ' ')) AS n_tok FROM documents),
       |cs AS (SELECT doc_id, shard, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM tok)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       |  CAST(n_tok AS BIGINT) AS n_tok,
       |  CAST((cum - n_tok) // $SeqBudget AS BIGINT) AS seq_first,
       |  CAST((cum - 1) // $SeqBudget AS BIGINT) AS seq_last,
       |  CAST((cum - n_tok) % $SeqBudget AS BIGINT) AS seq_offset
       |FROM cs ORDER BY shard, doc_id""".stripMargin
  ) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % PackShards).cast("long").as("shard"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr(s"(cum - n_tok) div $SeqBudget").as("seq_first"),
        expr(s"(cum - 1) div $SeqBudget").as("seq_last"),
        expr(s"(cum - n_tok) % $SeqBudget").as("seq_offset"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** BPE MERGE CANDIDATES — one byte-pair-encoding training
    * iteration (Sennrich et al. 2016, the tokenizer-training step
    * every LLM pipeline runs before t_seq_pack can tokenize): count
    * adjacent character pairs WEIGHTED BY WORD FREQUENCY and rank
    * merge candidates. The corpus-size pass is only the word-count
    * aggregation (map-side combined groupBy, the t_vocab_coverage
    * shape); pair explosion and pair counting then run over the
    * DISTINCT-WORD table, which is vocabulary-sized (~10^5-10^6
    * rows) regardless of corpus size — at 100 TB the expensive
    * per-character work never touches the corpus again, which is
    * exactly how production BPE trainers scale. Top-20 under the
    * total order (weight desc, pair asc) so the cut is
    * deterministic; integer-exact counts on both engines. */
  val tBpePairs: GraftQuery = GraftQuery.sql(
    "t_bpe_pairs",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks WHERE len(tok) >= 2 GROUP BY tok),
      |pairs AS (SELECT substr(tok, i, 2) AS pair, cnt
      |          FROM vocab, unnest(generate_series(1, len(tok)-1)) AS g(i))
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weight
      |FROM pairs GROUP BY pair ORDER BY weight DESC, pair LIMIT 20""".stripMargin
  ) { (s, d) =>
    graft.api.Graft.text.bpeMerges(Tables.documents(s, d), "text", 20)
  }

  /** Shard count for the training shuffle — local[32]-sized; at
    * 100 TB set to O(desired reader parallelism). */
  val ShuffleShards = 16

  /** DETERMINISTIC TRAINING SHUFFLE — the global-shuffle-then-shard
    * step a pretraining dataloader needs between curation and
    * t_seq_pack: every doc gets a pseudorandom but REPRODUCIBLE
    * position via the integer-LCG key (no RNG state, stable at any
    * parallelism), sharded by key so co-shard docs are a uniform
    * corpus sample, with the intra-shard order and the round-robin
    * interleaved read order (read_ord) materialized per doc — the
    * manifest a distributed loader consumes. Scale shape: NO global
    * sort — one hash shuffle on shard plus a per-shard window; shards
    * never interact, so this is embarrassingly parallel in the shard
    * count at any corpus size (the t_seq_pack discipline, upstream of
    * it in the pipeline). Integer-exact on both engines. */
  val tShuffleShard: GraftQuery = GraftQuery.sql(
    "t_shuffle_shard",
    // doc_id reduced mod 2^20 before the multiply: every intermediate
    // < 2^51 so the checked BIGINT arithmetic can never overflow at
    // any doc_id — same result as the unreduced form (2^20 | modulus).
    // Shard = key space range-partitioned (skey·shards div 2^20): the
    // HIGH bits of the LCG — its low bits are affine in id mod 2^k,
    // so `skey % shards` would degenerate to doc_id-mod striping.
    s"""WITH k AS (SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    ((doc_id % 1048576) * 1103515245 + 12345) % 1048576 AS skey FROM documents),
       |sh AS (SELECT doc_id, n_tok, skey, (skey * $ShuffleShards) // 1048576 AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY (skey * $ShuffleShards) // 1048576
       |      ORDER BY skey, doc_id) AS pos FROM k)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(pos AS BIGINT) AS pos,
       |  CAST((pos - 1) * $ShuffleShards + shard AS BIGINT) AS read_ord,
       |  CAST(n_tok AS BIGINT) AS n_tok
       |FROM sh ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
    graft.api.Graft.text.shuffleShards(keyed, "doc_id", ShuffleShards)
      .select(col("doc_id"), col("shard"), col("pos"), col("read_ord"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  /** DATASET CARD — the per-source summary table a corpus ships with
    * (the "dataset card" deliverable every curated pre-training set
    * publishes): document and token mass, language spread with the
    * dominant language, exact-duplicate rows, document length range,
    * and the mean quality score. One corpus scan computes the per-doc
    * frame; the card is two aggregations over it (per-source stats +
    * a per-(source,lang) count ranked for the dominant language) —
    * both map-side combined, output bounded by the source count.
    * Quality is the t_quality_score formula quantized to per-mille
    * BEFORE averaging (CAST of the same deterministic double in both
    * engines), so the mean is an integer division — exact, no
    * float-summation-order hazard at any parallelism. Duplicate rows
    * count distinct (fingerprint, length) keys — the d_exact_dup
    * discipline, packed into one BIGINT — NOT distinct raw text: a
    * COUNT(DISTINCT text) ships every byte of the corpus through the
    * aggregation exchange (measured as this op's whole scaling term
    * at 100×), where the fingerprint key is 8 bytes/doc and lets the
    * cached per-doc frame drop the text column entirely. The key is
    * APPROXIMATE relative to true distinct-text semantics (ADVICE
    * r17): charHash ranges over ~2^30 (mod P = 1000000007), so two
    * same-length distinct texts collide with probability ~2^-30 per
    * pair and dup_rows can overcount by that margin at scale. Oracle
    * parity is by construction (DuckDB computes the identical packed
    * key), and the bound is the deliberate 100 TB trade — widening
    * the pack would double the key bytes to shave an error already
    * below the corpus's own synthetic-duplication noise. */
  val tDatasetCard: GraftQuery = GraftQuery.sql(
    "t_dataset_card",
    s"""WITH f AS (
       |  SELECT source, lang,
       |    ${GraftHash.charHashSql("text")} * 4294967296 + length(text) AS fpk,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST(FLOOR(1000.0 * (
       |      0.5 * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 80.0)
       |      + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
       |                     / CAST(length(text) AS DOUBLE))
       |      + 0.2 * LEAST(1.0, 4.0 * CAST(len(list_filter(string_split(text, ' '),
       |                     t -> t IN ${sqlList(StopWords)})) AS DOUBLE)
       |                     / CAST(len(string_split(text, ' ')) AS DOUBLE))
       |    )) AS BIGINT) AS q_pm
       |  FROM documents),
       |base AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(COUNT(*) - COUNT(DISTINCT fpk) AS BIGINT) AS dup_rows,
       |    MIN(chars) AS min_chars, MAX(chars) AS max_chars,
       |    CAST(SUM(q_pm) // COUNT(*) AS BIGINT) AS quality_pm_avg
       |  FROM f GROUP BY source),
       |sl AS (SELECT source, lang, COUNT(*) AS cnt FROM f GROUP BY source, lang),
       |top AS (SELECT source, lang AS top_lang FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY cnt DESC, lang) AS rn FROM sl) WHERE rn = 1)
       |SELECT b.source, b.n_docs, b.ws_tokens, b.n_langs, t.top_lang,
       |  b.dup_rows, b.min_chars, b.max_chars, b.quality_pm_avg
       |FROM base b JOIN top t ON b.source = t.source
       |ORDER BY b.source""".stripMargin
  ) { (s, d) =>
    val toks = col("t")
    val f = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("text"),
        split(col("text"), " ", -1).as("t"))
      .select(col("source"), col("lang"),
        (GraftHash.charHash(col("text")) * lit(4294967296L)
          + length(col("text")).cast("long")).as("fpk"),
        size(toks).cast("long").as("ws"),
        length(col("text")).cast("long").as("chars"),
        // explicit FLOOR on both engines: DuckDB's double->int CAST
        // rounds, Spark's truncates — either alone would diverge
        floor((lit(0.5) * least(lit(1.0), size(toks).cast("double") / 80.0)
          + lit(0.3) * (lit(1.0) -
            size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("double")
              / length(col("text")).cast("double"))
          + lit(0.2) * least(lit(1.0), lit(4.0) *
            size(filter(toks, t => t.isInCollection(StopWords))).cast("double")
              / size(toks).cast("double"))) * 1000.0)
          .cast("long").as("q_pm"))
      .transform(graft.ScopedCache.apply) // feeds both aggregations
    val base = f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fpk"))).as("dup_rows"),
        min(col("chars")).as("min_chars"), max(col("chars")).as("max_chars"),
        expr("sum(q_pm) div count(1)").as("quality_pm_avg"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("lang"))
    val top = f.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("source").as("t_source"), col("lang").as("top_lang"))
    base.join(top, col("source") === col("t_source"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("n_langs"),
        col("top_lang"), col("dup_rows"), col("min_chars"), col("max_chars"),
        col("quality_pm_avg"))
      .orderBy(col("source"))
  }

  /** GOPHER QUALITY RULES (Rae et al. 2021 §A.1.1, the published
    * ruleset MassiveText filtered with — the standard companion to
    * the C4 rules t_c4_filter applies): per document,
    *   1. word count within [50, 100000]
    *   2. symbol-to-word ratio ("#" or "...") ≤ 1/10
    *   3. ≥ 80% of words contain an alphabetic character
    *   4. at least 2 distinct stop words present
    * reported as per-source violation counts plus the kept count —
    * the per-provider quality scoreboard a corpus acquisition
    * pipeline reviews before admitting a source.
    *
    * Every ratio is CROSS-MULTIPLIED into integer arithmetic
    * (10·n_sym > n_tok; 5·n_alpha < 4·n_tok) — no division, exact on
    * both engines. One corpus scan, all rule counters are row-local
    * higher-order-function folds over the one materialized token
    * array (split once per row — HOFs re-evaluate lambda-captured
    * expressions, so the array is projected first), then one
    * source-keyed hash aggregate: map-side combinable, nothing but
    * per-source partials shuffles, embarrassingly parallel at 100 TB. */
  val tGopherFilter: GraftQuery = {
    val stops = sqlList(StopWords)
    GraftQuery.sql(
      "t_gopher_filter",
      s"""WITH f AS (
         |  SELECT source,
         |    len(t) AS n_tok,
         |    len(list_filter(t, w -> w LIKE '%#%' OR w LIKE '%...%')) AS n_sym,
         |    len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
         |    len(list_distinct(list_filter(t, w -> w IN $stops))) AS n_stop
         |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)),
         |r AS (SELECT source,
         |    CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END AS f_wc,
         |    CASE WHEN 10 * n_sym > n_tok THEN 1 ELSE 0 END AS f_sym,
         |    CASE WHEN 5 * n_alpha < 4 * n_tok THEN 1 ELSE 0 END AS f_alpha,
         |    CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
         |  FROM f)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(f_wc) AS BIGINT) AS n_bad_wordcount,
         |  CAST(SUM(f_sym) AS BIGINT) AS n_bad_symbol,
         |  CAST(SUM(f_alpha) AS BIGINT) AS n_bad_alpha,
         |  CAST(SUM(f_stop) AS BIGINT) AS n_bad_stopword,
         |  CAST(SUM(CASE WHEN f_wc + f_sym + f_alpha + f_stop = 0
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      val t = col("t")
      val f = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ", -1).as("t"))
        .select(col("source"),
          size(t).as("n_tok"),
          size(filter(t, w => w.contains("#") || w.contains("..."))).as("n_sym"),
          size(filter(t, w => w.rlike("[a-zA-Z]"))).as("n_alpha"),
          size(array_distinct(filter(t, w => w.isin(StopWords: _*)))).as("n_stop"))
      val r = f.select(col("source"),
        when(col("n_tok") < 50 || col("n_tok") > 100000, 1).otherwise(0).as("f_wc"),
        when(col("n_sym") * 10 > col("n_tok"), 1).otherwise(0).as("f_sym"),
        when(col("n_alpha") * 5 < col("n_tok") * 4, 1).otherwise(0).as("f_alpha"),
        when(col("n_stop") < 2, 1).otherwise(0).as("f_stop"))
      r.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("f_wc")).as("n_bad_wordcount"),
          sum(col("f_sym")).as("n_bad_symbol"),
          sum(col("f_alpha")).as("n_bad_alpha"),
          sum(col("f_stop")).as("n_bad_stopword"),
          sum(when(col("f_wc") + col("f_sym") + col("f_alpha") + col("f_stop") === 0, 1)
            .otherwise(0)).as("n_kept"))
        .orderBy(col("source"))
    }
  }

  /** ZIPF RANK-FREQUENCY AUDIT — the corpus-health sanity plot every
    * NLP pipeline draws first (word frequency vs rank; natural text
    * tracks freq(r) ≈ freq(1)/r, and a corpus that deviates hard —
    * boilerplate floods, templated spam, truncated crawls — shows up
    * as a bent curve long before model metrics do): the top-50 corpus
    * words under the (count desc, word asc) total order, each with
    * its rank and the Zipf product ratio ⌊1000·n·rank / n₁⌋ — ~1000
    * per-mille means the law holds at that rank; integer floor
    * division, no floats.
    *
    * One corpus scan + explode, one word-keyed count (map-side
    * combinable — the classic word-count shuffle moves only per-word
    * partials), a TakeOrdered cut at 50, and the rank-1 frequency
    * broadcast back over the 50-row frame. Tokenization is
    * lower + split on non-letter runs, identical regex dialect
    * subset in Java and RE2 (the BpePattern discipline). */
  val tZipfReport: GraftQuery = GraftQuery.sql(
    "t_zipf_report",
    """WITH w AS (
      |  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
      |  FROM documents),
      |c AS (SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word),
      |rk AS (SELECT word, n,
      |         ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
      |       FROM c),
      |top AS (SELECT * FROM rk WHERE rank <= 50),
      |n1 AS (SELECT n AS nf FROM top WHERE rank = 1)
      |SELECT rank, word, n,
      |  CAST((1000 * n * rank) // nf AS BIGINT) AS zipf_pm
      |FROM top CROSS JOIN n1 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "[^a-z]+", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
    // Total order (n desc, word) makes the 50-cut deterministic; the
    // unpartitioned rank window runs over the already-cut 50 rows,
    // and the rank-1 frequency is a MAX window over the same tiny
    // frame — a separate filter branch would re-scan (and re-count)
    // the whole corpus for one number (plan-audited out).
    val wRank = Window.partitionBy(graft.functions.Ranks.onePart(col("word")))
      .orderBy(col("n").desc, col("word"))
    val wAll = wRank.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts.orderBy(col("n").desc, col("word")).limit(50)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("nf", max(col("n")).over(wAll))
      .select(col("rank"), col("word"), col("n"),
        expr("(1000 * n * rank) div nf").as("zipf_pm"))
      .orderBy(col("rank"))
  }

  /** PER-SOURCE KEYWORD LIFT — the "what makes this source
    * different" board (tf-idf's census-count cousin: lift =
    * P(word|source) / P(word|corpus), the first thing a curation
    * review pulls up when deciding whether a source is code, legalese
    * or chat; t_dataset_card says how big each source is, this says
    * what it's MADE of): top-5 words per source by integer lift
    * per-mille, support ≥ 5, ranked under the (lift desc, word) total
    * order. Lift is cross-multiplied — ⌊1000·n·N / (ts·nw)⌋ with n =
    * (source,word) count, ts = source tokens, nw = corpus word count,
    * N = corpus tokens — so the whole board is division-free integer
    * arithmetic. Int64 bound: 1000·n·N < 2⁶³ ⇔ n·N < 9.2×10¹⁵ (a
    * 10⁸-token corpus with a 9×10⁷-count stopword is the edge).
    * Past it the two engines fail DIFFERENTLY — DuckDB's window sums
    * are HUGEINT-exact while Spark's longs wrap — so the widening to
    * decimal(38,0) must be applied to the Spark side explicitly (the
    * st_stream_anomaly pattern); it is not automatic, and the
    * hash-gate is what makes a one-sided change impossible to ship.
    *
    * One corpus scan + explode feeds a map-side-combined
    * (source,word) count; every later stage runs on that vocab×
    * sources-bounded frame: the three totals are window sums (two
    * partition specs + one bounded whole-frame span — same specs in
    * both engines), then the support cut and per-source rank. The
    * corpus itself shuffles exactly once, as word-count partials. */
  val tKeywordLift: GraftQuery = GraftQuery.sql(
    "t_keyword_lift",
    """WITH w AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, COUNT(*) AS n FROM w
      |      WHERE word <> '' GROUP BY source, word),
      |t AS (SELECT source, word, n,
      |        SUM(n) OVER (PARTITION BY source) AS ts,
      |        SUM(n) OVER (PARTITION BY word) AS nw,
      |        SUM(n) OVER () AS nn
      |      FROM c),
      |r AS (SELECT source, word, n,
      |        CAST((1000 * n * nn) // (ts * nw) AS BIGINT) AS lift_pm,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY (1000 * n * nn) // (ts * nw) DESC, word) AS rank
      |      FROM t WHERE n >= 5)
      |SELECT source, rank, word, n, lift_pm
      |FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // the (source, word) aggregate is vocab-scaled — at web scale a
    // large frame, so the ≤|sources|-partition whole-group windows
    // this used through r11 are the VERDICT r11 hazard class:
    // per-source and corpus totals now come from tiny aggregates
    // broadcast back; only the word-keyed (high-cardinality) sum
    // stays a window; the per-source top-5 rides Ranks.topNExact
    val c = graft.ScopedCache(Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n")))
    val ts = c.groupBy(col("source").as("__ts_src")).agg(sum(col("n")).as("ts"))
    // the corpus total is the sum of the per-source totals — derive it
    // from the ≤|sources|-row ts frame instead of a second full pass
    // over the cached vocab aggregate
    val nn = ts.agg(sum(col("ts")).as("nn"))
    val wWord = Window.partitionBy(col("word"))
    val t = c
      .withColumn("nw", sum(col("n")).over(wWord))
      // <=> so a NULL source still totals as its own group, exactly
      // like the PARTITION BY window this join replaced (the ADVICE
      // r11 null-join class; self-review r12)
      .join(broadcast(ts), col("source") <=> col("__ts_src")).drop("__ts_src")
      .crossJoin(broadcast(nn)) // 1-row scalar — the adjudicated tiny class
      .filter(col("n") >= 5)
      .withColumn("lift_pm", expr("(1000 * n * nn) div (ts * nw)"))
    graft.functions.Ranks.topNExact(
        t.select(col("source"), col("word"), col("n"), col("lift_pm")),
        n = 5, order = Seq(col("lift_pm").desc, col("word")),
        partCols = Seq("source"), out = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select(col("source"), col("rank"), col("word"), col("n"), col("lift_pm"))
      .orderBy(col("source"), col("rank"))
  }

  /** PER-DOC LEXICAL DIVERSITY — the word-level Gini/Simpson index
    * (1 − Σp² over the doc's word distribution: templated spam and
    * keyword-stuffed pages collapse toward 0, natural prose sits
    * high; the per-document twin of t_lang_gini's corpus-level
    * concentration, and the word-level complement of
    * t_repetition_filter's n-gram rules): diversity per-mille =
    * ⌊1000·(L² − Σn_w²)/L²⌋ in pure integer cross-multiplication,
    * plus token and distinct-word counts.
    *
    * Entirely ROW-LOCAL: the token array materializes once per row
    * and the Σn_w² fold runs as higher-order functions over it
    * (O(distinct·L) per row, L is doc-bounded) — one scan, NO
    * explode, NO shuffle at any corpus size; the per-mille floor
    * keeps the no-float parity discipline. */
  val tLexicalDiversity: GraftQuery = GraftQuery.sql(
    "t_lexical_diversity",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                w -> w <> '') AS arr
      |  FROM documents),
      |m AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tokens,
      |        CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
      |        CAST(COALESCE(list_sum(list_transform(list_distinct(arr),
      |          w -> CAST(len(list_filter(arr, y -> y = w)) AS BIGINT)
      |               * len(list_filter(arr, y -> y = w)))), 0) AS BIGINT) AS sq
      |      FROM t)
      |SELECT doc_id, n_tokens, n_distinct,
      |  CASE WHEN n_tokens > 0 THEN
      |    (1000 * (n_tokens * n_tokens - sq)) // (n_tokens * n_tokens)
      |  ELSE 0 END AS diversity_pm
      |FROM m ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+', -1), w -> w != '')").as("arr"))
      .select(col("doc_id"),
        expr("cast(size(arr) as bigint)").as("n_tokens"),
        expr("cast(size(array_distinct(arr)) as bigint)").as("n_distinct"),
        expr("""aggregate(array_distinct(arr), 0L, (acc, w) ->
             acc + cast(size(filter(arr, y -> y = w)) as bigint)
                   * cast(size(filter(arr, y -> y = w)) as bigint))""").as("sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          expr("(1000 * (n_tokens * n_tokens - sq)) div (n_tokens * n_tokens)"))
          .otherwise(0L).as("diversity_pm"))
      .orderBy(col("doc_id"))
  }

  /** BOILERPLATE PASSAGE REPORT — the most-repeated 8-token windows
    * corpus-wide with their document spread (d_substring_dup flags
    * which DOCS carry duplicated windows; this ranks the repeated
    * CONTENT itself — the review artifact a curation team reads to
    * decide what the boilerplate IS: nav bars, license headers,
    * templated intros — and the memorization-risk shortlist, since
    * passages repeated across many documents are what models recite):
    * top-30 windows by occurrence count with distinct-doc counts,
    * repeated-only (n ≥ 2).
    *
    * One scan; windows materialize row-locally (posexploded offset
    * sequence + slice/join — the t_doc_chunk discipline), then ONE
    * map-side-combined count over the window text and a TakeOrdered
    * cut. The oracle groups the literal string; at 100 TB the group
    * key is the window's hash with the text recovered per winner via
    * min() — same plan, narrower shuffle key. */
  val tBoilerplateNgrams: GraftQuery = GraftQuery.sql(
    "t_boilerplate_ngrams",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |gr AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS ngram
      |       FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
      |       WHERE len(t) >= 8),
      |c AS (SELECT ngram, COUNT(*) AS n_occurrences,
      |        COUNT(DISTINCT doc_id) AS n_docs
      |      FROM gr GROUP BY ngram)
      |SELECT ngram, n_occurrences, n_docs FROM c
      |WHERE n_occurrences >= 2
      |ORDER BY n_occurrences DESC, ngram LIMIT 30""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(1, size(t) - 7)")).as("i"))
      .select(col("doc_id"), expr("array_join(slice(t, i, 8), ' ')").as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") >= 2)
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(30)
  }

  /** PER-DOCUMENT BIGRAM NOVELTY — the share (per-mille) of a
    * document's DISTINCT word-bigrams that appear in no other
    * document. The doc-level complement of t_boilerplate_ngrams
    * (which ranks the repeated CONTENT): this scores each document's
    * own phrasing freshness — near-1000 = original text, near-0 =
    * template/boilerplate mass whose every phrase also lives
    * elsewhere (the near-dup shadow exact dedup misses), and the
    * cheap corpus-internal memorization proxy a curation pass reads
    * before weighting documents for training. Exact integers end to
    * end: distinct (doc, bigram) pairs, corpus document-frequency
    * per bigram, n_unique = the doc's df==1 bigrams, novelty_pm by
    * integer floor division (docs with <2 tokens keep 0s via the
    * LEFT join — they have no bigrams, not missing rows). Cost is
    * token-proportional: one explode + distinct, one map-side-
    * combinable df count, one join back on the bigram key. At 100 TB
    * the join key would be a 64-bit bigram hash (collision-tolerant
    * for a screen, same plan, narrower shuffle) — the
    * t_boilerplate_ngrams discipline; here the literal string keeps
    * the gate exact. */
  val tBigramNovelty: GraftQuery = GraftQuery.sql(
    "t_bigram_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT DISTINCT doc_id, bigram FROM (
      |         SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks)),
      |df AS (SELECT bigram, COUNT(*) AS df FROM bg GROUP BY 1),
      |pd AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |         SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
      |       FROM bg b JOIN df ON b.bigram = df.bigram GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.source,
      |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(pd.n_unique, 0) AS BIGINT) AS n_unique,
      |  CAST(CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0
      |       ELSE (1000 * pd.n_unique) // pd.n_bigrams END AS BIGINT) AS novelty_pm
      |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val t = col("t")
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        explode(zip_with(t, slice(t, lit(2), size(t) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
      .filter(col("bigram").isNotNull)
      .distinct()
    val dfreq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("df"))
    val pd = bg.join(dfreq, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      .join(pd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_pm", expr(
        "CASE WHEN n_bigrams = 0 THEN 0L ELSE (1000 * n_unique) div n_bigrams END"))
      .orderBy(col("doc_id"))
  }

  /** LENGTH-OUTLIER SCREEN — the distributional sanity check a
    * corpus operator runs per (source, lang) slice before trusting
    * length-based quality rules (t_quality_score, t_gopher_filter
    * gate on ABSOLUTE length; this asks whether a slice contains
    * docs wildly atypical FOR THAT SLICE — truncation artifacts,
    * concatenation blowups, wrong-shard contamination): per slice,
    * the single most length-deviant document with exact σ-threshold
    * flags. Reported per GROUP (not filter-to-outliers) so the table
    * is always slice-complete — the degenerate-rows rule: at small
    * SFs no doc clears 2σ and a filtering form would emit nothing;
    * the flags carry the semantics.
    *
    * Exactness: the z² tests are cross-multiplied integers — doc
    * deviates kσ iff (n·len − S)² > k²·(n·Q − S²) with S = Σlen,
    * Q = Σlen² (DECIMAL(38,0) / HUGEINT; bare int64 overflows n·Q
    * at ~10⁹ chars per slice). Most-deviant pick is deterministic:
    * max |n·len − S|, tiebreak doc_id.
    *
    * Scale: one map-side-combined (source, lang) stats aggregate
    * broadcast back onto the corpus, then a PARTITIONED top-1 window
    * per slice (WindowGroupLimit prunes to one row per partition
    * before the sort completes). No global structure. */
  val tLengthOutlier: GraftQuery = GraftQuery.sql(
    "t_length_outlier",
    """WITH st AS (SELECT source, lang, COUNT(*) AS n,
      |    SUM(n_chars) AS s, SUM(CAST(n_chars AS HUGEINT) * n_chars) AS q
      |  FROM documents GROUP BY 1, 2),
      |dv AS (SELECT d.doc_id, d.source, d.lang, d.n_chars, st.n, st.s, st.q,
      |    CAST(st.n AS HUGEINT) * d.n_chars - st.s AS dev,
      |    ROW_NUMBER() OVER (PARTITION BY d.source, d.lang
      |      ORDER BY ABS(CAST(st.n AS HUGEINT) * d.n_chars - st.s) DESC,
      |               d.doc_id) AS rk
      |  FROM documents d JOIN st ON st.source = d.source AND st.lang = d.lang)
      |SELECT source, lang, CAST(n AS BIGINT) AS n_docs,
      |  CAST(s // n AS BIGINT) AS mean_chars, doc_id, n_chars,
      |  CASE WHEN dev >= 0 THEN 'long' ELSE 'short' END AS dev_side,
      |  CASE WHEN dev * dev > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
      |    THEN 1 ELSE 0 END AS over_2s,
      |  CASE WHEN dev * dev > 9 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
      |    THEN 1 ELSE 0 END AS over_3s
      |FROM dv WHERE rk = 1 ORDER BY source, lang""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val st = docs.groupBy(col("source").as("g_src"), col("lang").as("g_lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang"))
      .orderBy(abs(col("dev")).desc, col("doc_id"))
    docs.join(broadcast(st),
        col("g_src") === col("source") && col("g_lang") === col("lang"))
      .withColumn("dev",
        col("n").cast("decimal(38,0)") * col("n_chars") - col("s"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang"), col("n").as("n_docs"),
        expr("s div n").cast("long").as("mean_chars"),
        col("doc_id"), col("n_chars"),
        when(col("dev") >= 0, "long").otherwise("short").as("dev_side"),
        when(col("dev") * col("dev")
          > lit(4) * (col("n").cast("decimal(38,0)") * col("q")
            - col("s").cast("decimal(38,0)") * col("s")), 1L)
          .otherwise(0L).as("over_2s"),
        when(col("dev") * col("dev")
          > lit(9) * (col("n").cast("decimal(38,0)") * col("q")
            - col("s").cast("decimal(38,0)") * col("s")), 1L)
          .otherwise(0L).as("over_3s"))
      .orderBy(col("source"), col("lang"))
  }

  /** Reservoir size per stratum and the keyed-permutation constants
    * (prime modulus + multiplier; every product stays ≤ P·A ≈ 1.3×10¹¹,
    * exact int64 in both engines). */
  val ReservoirK = 20
  val ResP = 999983L; val ResA = 131071L; val ResB = 524287L

  /** FIXED-SIZE PER-STRATUM SAMPLE — the eval-set/inspection-budget
    * primitive t_stratified_sample deliberately is NOT: that op keeps
    * a RATE per stratum (output scales with stratum size), while an
    * eval set or a human-review queue needs EXACTLY k docs per
    * stratum regardless of how lopsided the strata are — classic
    * reservoir sampling. The distributed-and-deterministic equivalent
    * of a uniform reservoir: rank each doc by a keyed hash
    * permutation h = ((doc_id % P)·A + B) % P (a fixed pseudo-uniform
    * total order both engines compute exactly; doc_id tiebreak) and
    * keep each stratum's k lowest — identical output on every rerun
    * and engine, unlike a true RNG reservoir, which matters for
    * train/eval reproducibility.
    *
    * Scale: `Ranks.topNExact` — each (stratum, input-slice) keeps its
    * LOCAL top k (partitioned window, P-way parallel), then only the
    * ≤ k×P×|strata| survivors pay the final bounded rank. No
    * per-stratum global sort of the corpus, no rate-vs-size coupling:
    * the same plan yields k rows per stratum at any table size. */
  val tReservoirSample: GraftQuery = GraftQuery.sql(
    "t_reservoir_sample",
    s"""WITH h AS (SELECT lang, source, doc_id,
       |    ((doc_id % $ResP) * $ResA + $ResB) % $ResP AS hk FROM documents),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |        ORDER BY hk, doc_id) AS rn FROM h)
       |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, source
       |FROM r WHERE rn <= $ReservoirK
       |ORDER BY lang, rn""".stripMargin
  ) { (s, d) =>
    val h = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("doc_id"),
        (((col("doc_id") % ResP) * ResA + ResB) % ResP).as("hk"))
    graft.functions.Ranks.topNExact(h, ReservoirK,
        order = Seq(col("hk"), col("doc_id")), partCols = Seq("lang"),
        out = "rn")
      .select(col("lang"), col("rn").cast("long").as("rn"),
        col("doc_id"), col("source"))
      .orderBy(col("lang"), col("rn"))
  }

  def all: Seq[GraftQuery] =
    Seq(tTokenCount, tQualityScore, tLangId, tFingerprint, tNgramFreq,
      tFluencyScore, tLangGini, tPiiScrub, tLangRebalance,
      tRepetitionFilter, tC4Filter, tStratifiedSample, tReservoirSample,
      tSeqPack,
      tBpePairs, tShuffleShard, tDatasetCard, tGopherFilter, tZipfReport,
      tKeywordLift, tLexicalDiversity, tBoilerplateNgrams, tBigramNovelty,
      tLengthOutlier)
}
