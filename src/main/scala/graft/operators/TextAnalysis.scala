package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.Tables

/** Text-analysis query suite over the documents table (SURVEY.md §2C).
  *
  * Scale: every query is a single codegen'd projection over the scan —
  * zero shuffles, embarrassingly parallel, the ideal 100 TB shape. The
  * only ordering is the oracle-determinism `ORDER BY doc_id` (in
  * production these write back partition-local, unsorted).
  */
object TextAnalysis {

  // ---------------------------------------------------------- text_quality
  /** Quality scoring: length, word count, punctuation/stopword/unique
    * ratios — the standard pre-training corpus quality signals. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nw = Text.nWords(t)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(t).as("n_chars"),
      nw.as("n_words"),
      Text.nPunct(t).as("n_punct"),
      (Text.stopwordCount(t, Text.langStops.head._2) / nw).as("stop_ratio"),
      (Text.nUniqueWords(t) / nw).as("uniq_ratio"),
      (length(t) / nw).as("chars_per_word"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String =
    """SELECT doc_id, length(text) AS n_chars,
      |  len(regexp_extract_all(text, '[^ ]+')) AS n_words,
      |  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
      |  len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','of','and','to','in','is')))
      |    / len(regexp_extract_all(text, '[^ ]+')) AS stop_ratio,
      |  len(list_distinct(string_split(text, ' ')))
      |    / len(regexp_extract_all(text, '[^ ]+')) AS uniq_ratio,
      |  length(text) / len(regexp_extract_all(text, '[^ ]+')) AS chars_per_word
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- text_tokens
  /** Token counting: whitespace tokens and a BPE-ish pre-tokenization. */
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.nWords(t).as("ws_tokens"),
      Text.nBpeTokens(t).as("bpe_tokens"),
      (length(t) / Text.nBpeTokens(t)).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[^ ]+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_tokens,
      |  length(text) / len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- text_langid
  /** Stopword-score language ID: per-language hit counts, deterministic
    * argmax (list order breaks ties), 'und' when nothing matches. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), col("lang")) ++
        Text.langStops.map { case (l, stops) =>
          Text.stopwordCount(t, stops).as(s"s_$l")
        }: _*)
    val Seq(en, es, de, fr) = Text.langStops.map { case (l, _) => col(s"s_$l") }
    scored.withColumn("pred_lang",
        when(en === 0 && es === 0 && de === 0 && fr === 0, "und")
          .when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr"))
      .withColumn("is_match", col("pred_lang") === col("lang"))
      .orderBy(col("doc_id"))
  }

  val textLangidSql: String = {
    val scores = Text.langStops.map { case (l, stops) =>
      val in = stops.map(s => s"'$s'").mkString(",")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS s_$l"
    }.mkString(",\n  ")
    s"""SELECT *,
       |  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
       |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS pred_lang,
       |  (CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
       |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END) = lang AS is_match
       |FROM (SELECT doc_id, lang,
       |  $scores
       |FROM documents) t ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ text_fingerprint
  /** Content fingerprint: md5 of the whitespace-collapsed lowercase
    * normal form (md5: identical hex across engines, SURVEY.md §5). */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(Text.normalize(t)).as("norm_chars"),
      Text.fingerprint(t).as("fp"))
      .orderBy(col("doc_id"))
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_chars,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- text_shingle_fp
  /** Rolling word-3-shingle fingerprints: shingle count, distinct count,
    * and the minimum shingle hash (a 1-hash MinHash — the primitive under
    * the dedup suite's candidate generation).
    *
    * Shape note: higher-order array expressions don't enter whole-stage
    * codegen, so computing the array once per stat re-evaluates it per
    * output column (3x the shingle work, interpreted). explode + partial
    * aggregation materializes each shingle hash exactly once; the shuffle
    * carries one pre-aggregated row per doc per map partition. Counting
    * hashes ≙ counting shingles (md5 is collision-free at these sizes). */
  def textShingleFp(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode_outer(Text.shingleHashes(col("text"), 3)).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(col("h")).cast("int").as("n_shingles"),
        countDistinct(col("h")).cast("int").as("n_distinct_shingles"),
        min(col("h")).as("min_shingle_hash"))
      .orderBy(col("doc_id"))

  val textShingleFpSql: String =
    """SELECT doc_id, len(sh) AS n_shingles,
      |  len(list_distinct(sh)) AS n_distinct_shingles,
      |  list_min(list_transform(sh, s -> md5(s))) AS min_shingle_hash
      |FROM (SELECT doc_id,
      |        [words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]
      |         for i in range(0, len(words)-2)] AS sh
      |      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w) s
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ text_repetition
  /** Repetition quality signals (the Gopher-style repeated-content
    * filters): per-document word and word-bigram duplication counts plus
    * a boolean repetition gate (>30% duplicated bigrams — i.e.
    * 10·distinct < 7·total, kept in exact integers so both engines agree
    * without any float ratio). The corpus is single-line, so duplicated
    * n-grams — not duplicated lines — are the meaningful signal.
    *
    * Scale: one codegen'd map-only projection over the scan, zero
    * shuffles — per-doc array work is bounded by document length, never
    * by corpus size. The counts come from the native RepetitionStats
    * kernel (one compiled pass); the declarative words/shingles chain
    * rebuilds the bigram array interpreted once per output column
    * (ExpressionsSpec pins kernel == chain). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.repetitionStats(col("text")).as("r"))
      .select(
        col("doc_id"),
        col("r.n_words").as("n_words"),
        col("r.n_distinct_words").as("n_distinct_words"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.n_distinct_bigrams").as("n_distinct_bigrams"),
        (lit(10) * col("r.n_distinct_bigrams") < lit(7) * col("r.n_bigrams"))
          .as("is_repetitive"))
      .orderBy(col("doc_id"))

  val textRepetitionSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |b AS (SELECT doc_id, words,
      |        [words[i+1] || ' ' || words[i+2] for i in range(0, len(words)-1)] AS bi
      |      FROM w)
      |SELECT doc_id,
      |  CAST(len(words) AS INT) AS n_words,
      |  CAST(len(list_distinct(words)) AS INT) AS n_distinct_words,
      |  CAST(len(bi) AS INT) AS n_bigrams,
      |  CAST(len(list_distinct(bi)) AS INT) AS n_distinct_bigrams,
      |  10 * len(list_distinct(bi)) < 7 * len(bi) AS is_repetitive
      |FROM b ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- heavy_hitters_cms
  /** Token heavy hitters with a Count-Min sketch cross-check: exact
    * top-20 tokens by frequency, each annotated with its CMS estimate.
    *
    * Scale: the sketch is the 100 TB story — `stat.countMinSketch` runs
    * ONE treeAggregate pass (fixed w×d counter grid per partition,
    * merged pairwise; NO shuffle, memory independent of token
    * cardinality), where the exact groupBy shuffles |distinct tokens|.
    * At gate scale both run and the sketch is audited against truth:
    * CMS never underestimates, and overshoots ≤ ε·N with prob 1-δ
    * (ε=1e-4, δ=0.01 → w=⌈e/ε⌉=27183, d=⌈ln 1/δ⌉=5 — TextSpec asserts
    * both bounds). Probing 20 driver-held keys against the driver-held
    * grid is O(1) — the same bounded-driver-work exception as the IVF
    * index build (Ann.MaxLists).
    *
    * r14: the grid's row hashes moved from `stat.countMinSketch`'s
    * seeded Murmur3 to the md5-derived universal-hash lane family
    * (TextHashes.laneHash — the dedup_minhash_lsh r13 recipe), folded
    * over partitions exactly as before (one partial grid per partition,
    * treeReduce merge — NO shuffle, memory independent of token
    * cardinality). Every counter is now integer state DuckDB replays:
    * the oracle recomputes each top-token's d bucket sums from the same
    * h1/h2 digest parses and lane constants, so the query is fully
    * oracled (was rows-only through r13). */
  private val CmsDepth = 5
  private val CmsWidth = 27183 // ⌈e / 1e-4⌉

  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.TextHashes
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val (d, w) = (CmsDepth, CmsWidth)
    val grid = toks.select(col("tok")).rdd
      .mapPartitions { it =>
        val g = new Array[Long](d * w)
        val md = java.security.MessageDigest.getInstance("MD5")
        it.foreach { row =>
          val hs = TextHashes.md5Halves60(row.getString(0), md)
          var i = 0
          while (i < d) {
            g(i * w + (TextHashes.laneHash(i, hs(0), hs(1)) % w).toInt) += 1L
            i += 1
          }
        }
        Iterator.single(g)
      }
      .treeReduce({ (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }, depth = 2)
    val top = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(20)
      .collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = top.map { r =>
      val hs = TextHashes.md5Halves60(r.getString(0), md)
      val est = (0 until d)
        .map(i => grid(i * w + (TextHashes.laneHash(i, hs(0), hs(1)) % w).toInt)).min
      (r.getString(0), r.getLong(1), est)
    }.toSeq
    import spark.implicits._
    rows.toDF("tok", "n_exact", "cms_est")
      .orderBy(col("n_exact").desc, col("tok"))
  }

  /** The mirror rebuilds the d bucket sums per top token instead of the
    * whole grid: bucket_i(t) over the DISTINCT-token frequency table
    * (sum of n within a bucket ≡ the grid counter, since the fold adds
    * 1 per occurrence), then cms_est = least of the d sums — the exact
    * replay of the treeReduce'd integer grid. Lane constants are baked
    * from the SAME laneConsts stream as the kernel (the laneMinSqlAt
    * convention), products in HUGEINT. */
  val heavyHittersCmsSql: String = {
    import graft.expressions.TextHashes
    val cs = TextHashes.laneConsts(2 * CmsDepth)
    def bucket(i: Int): String =
      s"""CAST((CAST(${cs(2 * i)} AS HUGEINT) * h1
         |            + CAST(${cs(2 * i + 1)} AS HUGEINT) * h2)
         |           % ${TextHashes.LaneP} % $CmsWidth AS BIGINT)""".stripMargin
    val buckets = (0 until CmsDepth).map(i => s"${bucket(i)} AS b$i").mkString(",\n      |  ")
    val gSums = (0 until CmsDepth).map(i =>
      s"g$i AS (SELECT b$i, sum(n) AS s FROM b GROUP BY b$i)").mkString(",\n      |")
    val gJoins = (0 until CmsDepth).map(i => s"JOIN g$i ON tb.b$i = g$i.b$i").mkString("\n      |")
    val leasts = (0 until CmsDepth).map(i => s"g$i.s").mkString(", ")
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |t AS (SELECT tok FROM tk WHERE len(tok) > 0),
      |f AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
      |h AS (SELECT tok, n,
      |        CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h1,
      |        CAST(concat('0x', substr(md5(tok), 17, 15)) AS BIGINT) AS h2
      |      FROM f),
      |b AS (SELECT tok, n,
      |  $buckets
      |  FROM h),
      |$gSums,
      |top AS (SELECT tok, n FROM f ORDER BY n DESC, tok LIMIT 20)
      |SELECT top.tok, CAST(top.n AS BIGINT) AS n_exact,
      |       CAST(least($leasts) AS BIGINT) AS cms_est
      |FROM top
      |JOIN b tb ON top.tok = tb.tok
      |$gJoins
      |ORDER BY n_exact DESC, top.tok""".stripMargin
  }

  // ----------------------------------------------------------- text_entropy
  /** Word-distribution Shannon entropy per document (nats) — the
    * information-theoretic repetition signal: boilerplate and template
    * spam score LOW entropy relative to their length even when no
    * single bigram crosses text_repetition's exact-count gates. Pure
    * map-only array work over the scan (distinct words → in-doc counts
    * → −Σ (c/n)·ln(c/n) folded over the SORTED distinct words, so the
    * ln wobble is absorbed by identical summation order + round-6, the
    * text_lm_score discipline; c/n is one exact division each). Also
    * emits the normalized ratio entropy/ln(n_distinct) (1 = uniform) —
    * the ratio's denominator is ln of an exact integer, same wobble
    * discipline. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — spec entry point.
    *
    * One COMPILED pass per doc (the EntropyStats kernel): split, sort
    * (UTF8String binary order == sort_array's), close equal-word runs
    * ascending accumulating s += (c/n)·ln(c/n) with StrictMath.log —
    * the identical fold order, division, and log implementation as the
    * declarative aggregate(sort_array(ws), …) it replaces, so results
    * are bit-equal (TextSpec pins this against the naive formula). The
    * aggregate ran INTERPRETED — struct-accumulator higher-order
    * functions are excluded from whole-stage codegen and allocate two
    * structs per word — which kept this query at ~5.7 s at sf0.1 for
    * ~270k words of actual work; the kernel is milliseconds of CPU.
    * (r7's shape was worse still: a per-distinct-word array re-scan,
    * O(n_distinct × n) per doc.) */
  def entropyOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.EntropyStats
    docs
      .select(col("doc_id"), kcol(EntropyStats(kexp(col("text")))).as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("n_words"),
        col("st.n_distinct").as("n_distinct"),
        (round(-col("st.s"), 6) + 0.0).as("entropy"),
        (round(
          when(col("st.n_distinct") > 1,
            -col("st.s") / log(col("st.n_distinct").cast("double")))
            .otherwise(lit(0.0)), 6) + 0.0).as("uniformity"))
      .orderBy(col("doc_id"))
  }

  val textEntropySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (
      |  SELECT doc_id, len(ws) AS n_words,
      |         len(list_distinct(ws)) AS n_distinct,
      |         -list_reduce(list_prepend(0.0, list_transform(
      |            list_sort(list_distinct(ws)),
      |            w -> (CAST(len(list_filter(ws, x -> x = w)) AS DOUBLE) / len(ws))
      |                 * ln(CAST(len(list_filter(ws, x -> x = w)) AS DOUBLE) / len(ws)))),
      |            (a, x) -> a + x) AS ent
      |  FROM w)
      |SELECT doc_id, n_words, n_distinct,
      |       round(ent, 6) + 0.0 AS entropy,
      |       round(CASE WHEN n_distinct > 1
      |                  THEN ent / ln(CAST(n_distinct AS DOUBLE))
      |                  ELSE 0.0 END, 6) + 0.0 AS uniformity
      |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ maps
  // --------------------------------------------------- corpus_quality_gate
  /** Composite quality FILTER verdict (the Gopher rules, Rae et al.
    * '21, §A1.1 adapted to this corpus's scale): per document each
    * gate's boolean plus the final keep — the actual pre-training
    * filter step the individual text_* signal queries feed. Gates:
    * word count in [50, 100k]; mean chars/word in [3, 12] (spaces
    * included — the whitespace-token approximation); ≥2 stopwords;
    * unique-word ratio ≥ 0.2; not repetition-gated (text_repetition's
    * 30%-duplicate-bigram rule). EVERY gate is an exact integer
    * comparison (cross-multiplied — no float ratio ever forms), so the
    * verdict bitmap hash-matches cross-engine.
    *
    * Scale: one codegen'd projection over the scan (the
    * repetition-stats kernel), zero shuffles — the ideal filter
    * shape. */
  def corpusQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(t).as("nc"),
        Text.stopwordCount(t, Text.langStops.head._2).as("nstop"),
        Text.repetitionStats(t).as("r"))
      .select(col("doc_id"), col("r.n_words").as("n_words"),
        (col("r.n_words") >= 50 && col("r.n_words") <= 100000).as("g_length"),
        (col("nc") >= col("r.n_words") * 3 && col("nc") <= col("r.n_words") * 12)
          .as("g_word_len"),
        (col("nstop") >= 2).as("g_stopwords"),
        (col("r.n_distinct_words") * 5 >= col("r.n_words")).as("g_unique"),
        (lit(10) * col("r.n_distinct_bigrams") >= lit(7) * col("r.n_bigrams"))
          .as("g_repetition"))
      .withColumn("keep",
        col("g_length") && col("g_word_len") && col("g_stopwords") &&
          col("g_unique") && col("g_repetition"))
      .orderBy(col("doc_id"))
  }

  val corpusQualityGateSql: String =
    """WITH w AS (
      |  SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS words,
      |         len(list_filter(string_split(text, ' '),
      |             w -> w IN ('the','a','of','and','to','in','is'))) AS nstop
      |  FROM documents),
      |b AS (SELECT doc_id, nc, nstop, words,
      |        [words[i+1] || ' ' || words[i+2]
      |         for i in range(0, len(words)-1)] AS bi
      |      FROM w),
      |g AS (SELECT doc_id, CAST(len(words) AS INT) AS n_words,
      |        len(words) >= 50 AND len(words) <= 100000 AS g_length,
      |        nc >= len(words) * 3 AND nc <= len(words) * 12 AS g_word_len,
      |        nstop >= 2 AS g_stopwords,
      |        len(list_distinct(words)) * 5 >= len(words) AS g_unique,
      |        10 * len(list_distinct(bi)) >= 7 * len(bi) AS g_repetition
      |      FROM b)
      |SELECT *, g_length AND g_word_len AND g_stopwords AND g_unique
      |          AND g_repetition AS keep
      |FROM g ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_gate_strictness
  /** The quality-STRICTNESS decision report (the dedup_threshold_eval
    * pattern applied to the Gopher gate): before committing "keep only
    * docs passing all 5 gates", price every cutoff — per number of
    * gates passed (0..5) the documents and tokens at exactly that
    * level, the cumulative corpus retained at cutoff ≥ that level, and
    * the retained fractions. "All 5 keeps 61% of tokens, ≥4 keeps 83%"
    * is the number that picks the filter; corpus_quality_gate stays
    * the per-doc verdict this report aggregates.
    *
    * Exactness: gate count is a sum of exact boolean casts off the
    * registered gate query (shared verbatim — the funnelCtes drift
    * rule); cumulative sums run over the ≤6-row aggregate (the
    * post-aggregate bounded-window class); each fraction is ONE
    * division by the broadcast 1-row total.
    *
    * Scale: corpus_quality_gate's zero-shuffle projection + one
    * map-side-combined ≤6-group aggregate + a 6-row window. */
  def corpusGateStrictness(spark: SparkSession, dir: String): DataFrame = {
    val gates = Seq("g_length", "g_word_len", "g_stopwords", "g_unique",
      "g_repetition")
    val cnt = corpusQualityGate(spark, dir)
      .select(gates.map(g => col(g).cast("int")).reduce(_ + _).as("n_gates"),
        col("n_words").cast("long").as("nw"))
      .groupBy(col("n_gates"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
    val tot = cnt.agg(sum(col("n_docs")).as("td"), sum(col("n_tokens")).as("tt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_gates").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    cnt.crossJoin(broadcast(tot))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("n_gates"), col("n_docs"), col("n_tokens"),
        col("cum_docs"), col("cum_tokens"),
        (round(col("cum_docs").cast("double") / col("td"), 6) + 0.0)
          .as("frac_docs_retained"),
        (round(col("cum_tokens").cast("double") / col("tt"), 6) + 0.0)
          .as("frac_tokens_retained"))
      .orderBy(col("n_gates"))
  }

  lazy val corpusGateStrictnessSql: String =
    s"""WITH qg AS (SELECT * FROM ($corpusQualityGateSql) t),
      |ct AS (
      |  SELECT CAST(g_length AS INT) + CAST(g_word_len AS INT)
      |           + CAST(g_stopwords AS INT) + CAST(g_unique AS INT)
      |           + CAST(g_repetition AS INT) AS n_gates,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_words) AS BIGINT) AS n_tokens
      |  FROM qg GROUP BY 1),
      |cm AS (
      |  SELECT n_gates, n_docs, n_tokens,
      |         CAST(sum(n_docs) OVER (ORDER BY n_gates DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum_docs,
      |         CAST(sum(n_tokens) OVER (ORDER BY n_gates DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum_tokens,
      |         CAST(sum(n_docs) OVER () AS BIGINT) AS td,
      |         CAST(sum(n_tokens) OVER () AS BIGINT) AS tt
      |  FROM ct)
      |SELECT n_gates, n_docs, n_tokens, cum_docs, cum_tokens,
      |       round(CAST(cum_docs AS DOUBLE) / td, 6) + 0.0 AS frac_docs_retained,
      |       round(CAST(cum_tokens AS DOUBLE) / tt, 6) + 0.0 AS frac_tokens_retained
      |FROM cm ORDER BY n_gates""".stripMargin

  // ------------------------------------------------------ corpus_gate_apply
  /** The decision→action closure for the quality-strictness knob (the
    * dedup_threshold_apply / ann_probe_apply pattern): choose the
    * STRICTEST gate cutoff (largest n_gates level) whose cumulative
    * retained tokens stay ≥ 80% of the corpus per corpus_gate_strictness
    * — integer cross-multiplied 1000·cum_tokens ≥ 800·total, never a
    * float compare — falling back to level 0, then emit the filtered
    * MANIFEST: every document passing at least that many gates, with
    * the chosen level in every row so the oracle re-derives the choice
    * and the gate checks the eval → choose → apply composition.
    *
    * Scale: the strictness curve is a ≤6-row aggregate over the
    * zero-shuffle gate projection; the choice crosses back as a
    * broadcast 1-row frame; the manifest is one map-side filter over
    * the same projection — the corpus never shuffles. */
  private[graft] val GateRetainPerMille = 800

  def corpusGateApply(spark: SparkSession, dir: String): DataFrame = {
    val gates = Seq("g_length", "g_word_len", "g_stopwords", "g_unique",
      "g_repetition")
    val st = corpusGateStrictness(spark, dir)
      .select(col("n_gates"), col("cum_tokens"))
    val tot = st.agg(max(col("cum_tokens")).as("tt"))
    val chosen = st.crossJoin(broadcast(tot))
      .filter(lit(1000) * col("cum_tokens") >= lit(GateRetainPerMille) * col("tt"))
      .agg(coalesce(max(col("n_gates")), lit(0)).as("level"))
    corpusQualityGate(spark, dir)
      .select(col("doc_id"), col("n_words"),
        gates.map(g => col(g).cast("int")).reduce(_ + _).as("n_gates"))
      .crossJoin(broadcast(chosen))
      .filter(col("n_gates") >= col("level"))
      .orderBy(col("doc_id"))
  }

  /** Mirror composes the registered strictness + gate oracles verbatim
    * (the rrf drift rule) and re-derives the integer choice. */
  lazy val corpusGateApplySql: String =
    s"""WITH ga_st AS (SELECT * FROM ($corpusGateStrictnessSql) t0),
      |ga_tt AS (SELECT max(cum_tokens) AS tt FROM ga_st),
      |ga_ch AS (
      |  SELECT coalesce(max(CASE WHEN 1000 * cum_tokens >= $GateRetainPerMille * tt
      |                           THEN n_gates END), 0) AS level
      |  FROM ga_st CROSS JOIN ga_tt),
      |ga_qg AS (SELECT * FROM ($corpusQualityGateSql) t1)
      |SELECT doc_id, n_words,
      |       CAST(g_length AS INT) + CAST(g_word_len AS INT) + CAST(g_stopwords AS INT)
      |         + CAST(g_unique AS INT) + CAST(g_repetition AS INT) AS n_gates,
      |       ga_ch.level
      |FROM ga_qg CROSS JOIN ga_ch
      |WHERE CAST(g_length AS INT) + CAST(g_word_len AS INT) + CAST(g_stopwords AS INT)
      |        + CAST(g_unique AS INT) + CAST(g_repetition AS INT) >= ga_ch.level
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- corpus_langid_eval
  /** Confusion matrix of the heuristic language ID against the declared
    * `lang` column — the eval-as-a-query pattern (ann_recall_report for
    * text): every (declared, predicted) cell with its count and its
    * share of the declared language's documents (the per-class recall
    * lives on the diagonal). The report a pipeline publishes before
    * trusting langid-based filtering/stratification downstream.
    *
    * Scale: one map-side-combined (lang, pred) aggregate over the
    * scored scan (≤ |langs|² cells), a ≤|langs| rollup above it, one
    * boundary division per cell. Mirror embeds the registered
    * text_langid oracle verbatim as a subquery (drift-proof). */
  def corpusLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      textLangid(spark, dir).select(col("lang"), col("pred_lang"))
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n")))
    val tot = conf.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    conf.join(tot, Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        (round(col("n").cast("double") / col("n_lang").cast("double"), 4) + 0.0)
          .as("share"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  lazy val corpusLangidEvalSql: String =
    s"""WITH li AS (SELECT lang, pred_lang FROM ($textLangidSql) t),
       |cf AS (SELECT lang, pred_lang, count(*) AS n FROM li GROUP BY 1, 2),
       |tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cf GROUP BY lang)
       |SELECT cf.lang, cf.pred_lang, cf.n,
       |       round(CAST(cf.n AS DOUBLE) / CAST(tt.n_lang AS DOUBLE), 4) + 0.0 AS share
       |FROM cf JOIN tt USING (lang)
       |ORDER BY cf.lang, cf.pred_lang""".stripMargin

  // -------------------------------------------------------- text_winnow_fp
  /** Winnowing fingerprint profile per document (Schleimer, Wilkerson &
    * Aiken SIGMOD'03 — the MOSS local fingerprinting): over the word-
    * 3-shingle md5 sequence, each sliding window of w=4 positions
    * selects its minimum hash (RIGHTMOST on ties, the paper's rule);
    * the distinct selected (position, hash) pairs are the document's
    * fingerprints. Winnowing guarantees any shared run of ≥ w+k−1
    * words yields a shared fingerprint — the position-aware upgrade
    * over text_shingle_fp's single global minimum, and the candidate
    * generator MOSS-style overlap detection builds on. Reported:
    * shingle/window/selection counts, selection density (expected
    * ~2/(w+1) on random text), and the min/max selected hash.
    *
    * Scale: scan-fused map-only array work per doc (the ShingleMd5s
    * native kernel feeds an O(n·w) HOF argmin chain — w=4 string
    * compares per window, no explode, no shuffle); the rollup is the
    * per-doc projection itself. md5 hex strings order identically in
    * both engines; the rightmost tie-break is the aggregate's <=
    * override in Spark and list_reverse + list_position in the
    * mirror — bit-identical selections (spec re-simulates the paper's
    * algorithm in plain Scala and matches counts exactly). */
  /** Winnow window size (shared by the profile and the dedup candidate
    * generator). */
  private[operators] val WinnowW = 4

  /** (doc_id, st): the one-pass compiled winnow profile struct both
    * winnow consumers project from (text_winnow_fp's selection profile;
    * dedup_winnow_pairs' distinct fingerprint set st.fps). The kernel
    * replaces the per-window transform/aggregate argmin HOF chain —
    * interpreted, a struct allocation per window element — with one
    * codegen-spliced pass (the 4th kernel-rule instance; see
    * TextHashes.winnowStats for the bit-identity argument). */
  private[operators] def winnowBase(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.winnowStats(col("text"), 3, WinnowW).as("st"))

  /** Mirror fragments shared by both winnow mirrors (the drift rule):
    * the shingle/dims CTE prefix and the per-window-minima expression. */
  private[operators] val winnowDimsCtes: String =
    """sh AS (
      |  SELECT doc_id,
      |    [md5(words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
      |     for i in range(0, len(words)-2)] AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w),
      |dims AS (SELECT doc_id, h, len(h) AS n, greatest(len(h) - 3, 1) AS nw FROM sh)""".stripMargin
  private[operators] val winnowWmExpr: String =
    """CASE WHEN n = 0 THEN []
      |         ELSE [list_min(h[s : least(s + 3, n)]) for s in range(1, nw + 1)]
      |    END""".stripMargin

  def textWinnowFp(spark: SparkSession, dir: String): DataFrame =
    winnowBase(spark, dir)
      .select(col("doc_id"), col("st.n").as("n_shingles"),
        when(col("st.n") === 0, 0).otherwise(col("st.nw")).cast("int")
          .as("n_windows"),
        col("st.n_selected").as("n_selected"),
        when(col("st.n") === 0, lit(null).cast("double"))
          .otherwise(round(col("st.n_selected").cast("double")
            / col("st.nw").cast("double"), 6) + 0.0).as("density"),
        col("st.sel_min").as("sel_min"),
        col("st.sel_max").as("sel_max"))
      .orderBy(col("doc_id"))

  lazy val textWinnowFpSql: String =
    s"""WITH $winnowDimsCtes,
      |sel AS (
      |  SELECT doc_id, n, nw,
      |    CASE WHEN n = 0 THEN [] ELSE list_distinct([
      |      CAST(s + least(s + 3, n) - s + 1 - list_position(
      |             list_reverse(h[s : least(s + 3, n)]),
      |             list_min(h[s : least(s + 3, n)])) AS VARCHAR)
      |      || ':' || list_min(h[s : least(s + 3, n)])
      |      for s in range(1, nw + 1)]) END AS sels,
      |    $winnowWmExpr AS wm
      |  FROM dims)
      |SELECT doc_id, n AS n_shingles,
      |  CASE WHEN n = 0 THEN 0 ELSE CAST(nw AS INT) END AS n_windows,
      |  CAST(len(sels) AS INT) AS n_selected,
      |  CASE WHEN n = 0 THEN NULL
      |       ELSE round(CAST(len(sels) AS DOUBLE) / CAST(nw AS DOUBLE), 6) + 0.0
      |  END AS density,
      |  list_min(wm) AS sel_min,
      |  list_max(wm) AS sel_max
      |FROM sel ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- text_readability
  /** Flesch reading-ease + Flesch–Kincaid grade per document (Flesch
    * '48, Kincaid '75) — the classic readability screen a curation
    * pipeline runs next to the Gopher-style signals (text_quality's
    * ratios say "is this prose-shaped"; this says "what register").
    * Syllables use the standard vowel-run approximation: maximal
    * [aeiouy]+ runs in the lowercased text (spaces break runs, so the
    * whole-document regexp count equals the per-word sum — no explode
    * needed); sentences are [.!?]+ runs floored at 1.
    *
    * Scale: scan-fused map-only regexp counting — zero shuffles, zero
    * joins; the three counts are exact integers and each formula is
    * the identical literal arithmetic chain on both engines (integer
    * ratios are each ONE IEEE division; the decimal constants parse to
    * the same doubles under strtod). The band CASE compares the
    * ROUNDED score so both engines band identically. Empty docs
    * (0 words) yield NULL metrics, never a division error. */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val w = size(regexp_extract_all(t, lit("[^ ]+"), lit(0))).cast("long")
    val sy = size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast("long")
    val se = greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1)).cast("long")
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), w.as("n_words"), se.as("n_sentences"), sy.as("n_syllables"))
    val flesch = round(lit(206.835) - lit(1.015) * (col("n_words") / col("n_sentences"))
      - lit(84.6) * (col("n_syllables") / col("n_words")), 4) + 0.0
    val grade = round(lit(0.39) * (col("n_words") / col("n_sentences"))
      + lit(11.8) * (col("n_syllables") / col("n_words")) - lit(15.59), 4) + 0.0
    base.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
      when(col("n_words") === 0, lit(null).cast("double")).otherwise(flesch).as("flesch"),
      when(col("n_words") === 0, lit(null).cast("double")).otherwise(grade).as("fk_grade"))
      .withColumn("band",
        when(col("flesch").isNull, lit(null).cast("string"))
          .when(col("flesch") >= 90.0, "5_very_easy")
          .when(col("flesch") >= 70.0, "4_easy")
          .when(col("flesch") >= 50.0, "3_standard")
          .when(col("flesch") >= 30.0, "2_difficult")
          .otherwise("1_very_hard"))
      .orderBy(col("doc_id"))
  }

  val textReadabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    CASE WHEN n_words = 0 THEN NULL
      |         ELSE round(206.835 - 1.015 * (n_words / n_sentences)
      |                    - 84.6 * (n_syllables / n_words), 4) + 0.0 END AS flesch,
      |    CASE WHEN n_words = 0 THEN NULL
      |         ELSE round(0.39 * (n_words / n_sentences)
      |                    + 11.8 * (n_syllables / n_words) - 15.59, 4) + 0.0 END AS fk_grade
      |  FROM c)
      |SELECT doc_id, n_words, n_sentences, n_syllables, flesch, fk_grade,
      |  CASE WHEN flesch IS NULL THEN NULL
      |       WHEN flesch >= 90.0 THEN '5_very_easy'
      |       WHEN flesch >= 70.0 THEN '4_easy'
      |       WHEN flesch >= 50.0 THEN '3_standard'
      |       WHEN flesch >= 30.0 THEN '2_difficult'
      |       ELSE '1_very_hard' END AS band
      |FROM s ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_readability" -> (textReadability _),
    "text_winnow_fp" -> (textWinnowFp _),
    "corpus_quality_gate" -> (corpusQualityGate _),
    "corpus_gate_strictness" -> (corpusGateStrictness _),
    "corpus_gate_apply" -> (corpusGateApply _),
    "corpus_langid_eval" -> (corpusLangidEval _),
    "heavy_hitters_cms" -> (heavyHittersCms _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_langid" -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_shingle_fp" -> (textShingleFp _),
    "text_repetition" -> (textRepetition _),
    "text_entropy" -> (textEntropy _)
  )

  def oracles: Map[String, String] = Map(
    "text_readability" -> textReadabilitySql,
    "text_winnow_fp" -> textWinnowFpSql,
    "corpus_quality_gate" -> corpusQualityGateSql,
    "corpus_gate_strictness" -> corpusGateStrictnessSql,
    "corpus_gate_apply" -> corpusGateApplySql,
    "corpus_langid_eval" -> corpusLangidEvalSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_langid" -> textLangidSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_shingle_fp" -> textShingleFpSql,
    "text_repetition" -> textRepetitionSql,
    "text_entropy" -> textEntropySql,
    // heavy_hitters_cms joined the oracled set in r14: md5-lane row
    // hashes make the count-min grid DuckDB-replayable.
    "heavy_hitters_cms" -> heavyHittersCmsSql
  )
}
