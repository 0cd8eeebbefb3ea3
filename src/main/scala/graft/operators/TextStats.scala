package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Corpus-level text statistics over the documents table (SURVEY.md §2C).
  *
  * Unlike TextAnalysis (scan-fused per-doc projections), these are
  * corpus-trained signals: each needs one vocabulary-bounded aggregate
  * over the whole corpus, then a join back to the per-doc rows. The
  * shuffles are bounded by VOCABULARY (distinct words / bigrams), never
  * by corpus size — the 100 TB shape is scan → explode → vocab-keyed
  * partial-aggregated shuffle → vocab-sized broadcast-able join back.
  *
  * Float determinism contract (same discipline as embed_quantize): every
  * double is produced by exactly-rounded ops (+ - * / on integer-valued
  * doubles) except `ln`, whose cross-engine last-ulp wobble is absorbed
  * by (a) folding per-group terms in a SORTED order — identical
  * summation order in Spark and DuckDB — and (b) rounding the output
  * past the wobble. Rankings never compare ln outputs: text_tfidf_top
  * scores are pure rational arithmetic, bit-identical cross-engine.
  */
object TextStats {

  private def words(c: org.apache.spark.sql.Column) = split(c, " ")

  // ---------------------------------------------------------- text_lm_score
  /** Corpus-trained bigram language-model score per document — the
    * CCNet-style "does this read like the corpus" quality signal
    * (perplexity filtering; reference analog: quality gating before
    * warehouse load). p(w2|w1) is the MLE bigram probability from the
    * corpus itself; the score is the mean negative log-likelihood of the
    * document's bigrams, so boilerplate scores low and anomalous word
    * salad scores high. Probabilities are Laplace-smoothed —
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), V = distinct-prefix
    * vocabulary — because the MLE form assigns p = 1 to a bigram whose
    * prefix occurs nowhere else, scoring fully-novel word salad as
    * "perfect"; smoothing charges every bigram against the vocabulary.
    *
    * Scale: bigram/prefix counts are vocabulary-bounded aggregates with
    * map-side combine; the join back to exploded bigrams is
    * vocab-per-fact (AQE broadcasts at gate scale, degrades to shuffle
    * at 100 TB). The per-doc fold is over sort_array(collect_list) —
    * bounded by document length, and the SORTED order makes the double
    * summation order-deterministic for oracle parity. */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — spec entry point. */
  def lmScoreOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    // (pos, w1, bigram) triples built array-side, ONE explode
    val ex = docs.select(
      col("doc_id"),
      posexplode(expr(
        "transform(slice(ws, 1, size(ws)-1), (w, i) -> " +
          "struct(w as w1, concat(w, ' ', ws[i+1]) as bg))"))
        .as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"), col("b.w1"), col("b.bg"))
    val bgc = ex.groupBy("bg").agg(count(lit(1)).as("c2"))
    val pc = ex.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vc = pc.agg(count(lit(1)).as("vsz"))
    val lp = ex.join(bgc, "bg").join(pc, "w1")
      .crossJoin(broadcast(vc))
      .select(col("doc_id"), col("pos"),
        log((col("c2") + lit(1)).cast("double") / (col("c1") + col("vsz")))
          .as("lp"))
    lp.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(-col("s") / col("n_bigrams"), 4) + 0.0).as("avg_neg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain ending in `score(doc_id, n_bigrams, avg_neg_logp)`
    * — the oracle-drift guard (SURVEY §4): text_lm_score and
    * corpus_ccnet_buckets must agree on the LM-score derivation, so it
    * is ONE constant (the Dedup.ngramDupsCtes precedent). */
  private[graft] val lmScoreCtes: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, u.pos AS pos, u.w1 AS w1, u.bg AS bg
      |  FROM w, UNNEST(list_transform(range(1, len(ws)),
      |       i -> {'pos': i, 'w1': ws[i], 'bg': ws[i] || ' ' || ws[i+1]})) AS t(u)
      |  WHERE len(ws) >= 2),
      |bgc AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
      |pc  AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
      |vc  AS (SELECT count(*) AS vsz FROM pc),
      |lp AS (
      |  SELECT b.doc_id, b.pos,
      |         ln(CAST(bgc.c2 + 1 AS DOUBLE) / (pc.c1 + vc.vsz)) AS lp
      |  FROM b JOIN bgc ON b.bg = bgc.bg JOIN pc ON b.w1 = pc.w1
      |  CROSS JOIN vc),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |         list_reduce(list_transform(
      |           list_sort(list(struct_pack(pos := pos, lp := lp))), x -> x.lp),
      |           (a, x) -> a + x) AS s
      |  FROM lp GROUP BY doc_id),
      |score AS (
      |  SELECT doc_id, n_bigrams,
      |         CAST(round(-s / n_bigrams, 4) AS DOUBLE) + 0.0 AS avg_neg_logp
      |  FROM agg)""".stripMargin

  val textLmScoreSql: String = lmScoreCtes +
    "\nSELECT doc_id, n_bigrams, avg_neg_logp FROM score ORDER BY doc_id"

  // ------------------------------------------------------- corpus_domain_kl
  /** KL divergence of each source's unigram distribution from the
    * corpus-wide distribution — the standard domain-shift audit when
    * mixing data sources for training (a source whose KL spikes is
    * off-distribution and gets down-weighted; pairs with corpus_mix).
    *
    * Scale: everything after the explode is vocabulary-bounded — the
    * (source, word) aggregate is the only fact-sized shuffle and it
    * map-side combines; per-source folds collect ≤|vocab| terms. The
    * fold order is sorted by word for cross-engine sum determinism. */
  def corpusDomainKl(spark: SparkSession, dir: String): DataFrame =
    domainKlOf(Tables.documents(spark, dir))

  /** Core over any (source, text) frame — spec entry point. */
  def domainKlOf(docsIn: DataFrame): DataFrame = {
    val t = docsIn
      .select(col("source"), explode(words(col("text"))).as("w"))
    val sw = t.groupBy("source", "w").agg(count(lit(1)).as("c"))
    val st = sw.groupBy("source").agg(sum("c").as("ns"))
    val gw = sw.groupBy("w").agg(sum("c").as("cg"))
    val gt = sw.agg(sum("c").as("n"))
    val p = col("c").cast("double") / col("ns")
    val q = col("cg").cast("double") / col("n")
    val terms = sw.join(st, "source").join(gw, "w")
      .crossJoin(broadcast(gt))
      .select(col("source"), col("w"), (p * log(p / q)).as("term"))
    terms.groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        aggregate(
          sort_array(collect_list(struct(col("w"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("kl"))
      .select(col("source"), col("vocab"),
        (round(col("kl"), 6) + 0.0).as("kl_nats"))
      .orderBy(col("source"))
  }

  val corpusDomainKlSql: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text,' ')) AS w FROM documents),
      |sw AS (SELECT source, w, count(*) AS c FROM t GROUP BY source, w),
      |st AS (SELECT source, sum(c) AS ns FROM sw GROUP BY source),
      |gw AS (SELECT w, sum(c) AS cg FROM sw GROUP BY w),
      |gt AS (SELECT sum(c) AS n FROM sw),
      |terms AS (
      |  SELECT sw.source, sw.w,
      |         (CAST(sw.c AS DOUBLE)/st.ns)
      |           * ln((CAST(sw.c AS DOUBLE)/st.ns) / (CAST(gw.cg AS DOUBLE)/gt.n)) AS term
      |  FROM sw JOIN st USING (source) JOIN gw USING (w) CROSS JOIN gt),
      |agg AS (
      |  SELECT source, count(*) AS vocab,
      |         list_reduce(list_transform(
      |           list_sort(list(struct_pack(w := w, term := term))), x -> x.term),
      |           (a, x) -> a + x) AS kl
      |  FROM terms GROUP BY source)
      |SELECT source, vocab, CAST(round(kl, 6) AS DOUBLE) + 0.0 AS kl_nats
      |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------------------------- text_tfidf_top
  /** Most distinctive term per document by tf-idf with a raw
    * (rational) idf: score = (tf/doclen) / (df/N) = tf·N / (doclen·df).
    * Every score is integer-valued doubles through exactly-rounded
    * * and / — bit-identical cross-engine, so ranking on it is safe
    * (unlike a log-idf, whose last ulp could flip a rank). Ties break
    * on the term itself.
    *
    * Scale: tf/df/doclen are the same vocabulary-bounded shapes as
    * text_lm_score; the per-doc argmax is min(struct(-score, w)) — a
    * hash aggregate with map-side combine, NOT a sort window, so no
    * per-doc sort at 100 TB. */
  def textTfidfTop(spark: SparkSession, dir: String): DataFrame =
    tfidfTopOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — spec entry point. */
  def tfidfTopOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val tf = t.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("doclen"))
    val dfc = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val sc = tf.join(dl, "doc_id").join(dfc, "w")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        ((col("tf").cast("double") * col("n"))
          / (col("doclen").cast("double") * col("df"))).as("score"))
    sc.groupBy("doc_id")
      .agg(min(struct((-col("score")).as("ns"), col("w"))).as("m"))
      .select(col("doc_id"), col("m.w").as("top_term"),
        (round(-col("m.ns"), 6) + 0.0).as("relevance"))
      .orderBy(col("doc_id"))
  }

  val textTfidfTopSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
      |dl AS (SELECT doc_id, sum(tf) AS doclen FROM tf GROUP BY doc_id),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS n FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.w,
      |         (CAST(tf.tf AS DOUBLE) * n.n)
      |           / (CAST(dl.doclen AS DOUBLE) * df.df) AS score
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (w) CROSS JOIN n),
      |rk AS (SELECT doc_id, w, score,
      |              row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rn
      |       FROM sc)
      |SELECT doc_id, w AS top_term,
      |       CAST(round(score, 6) AS DOUBLE) + 0.0 AS relevance
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- bm25_topk
  /** BM25 relevance search (k1=1.2, b=0.75): the 20 most relevant
    * documents for a data-derived query — the 5 highest-df terms that
    * still appear in at most half the corpus (frequent enough to match,
    * rare enough to discriminate; exact integer df, so both engines pick
    * the identical query). The reference promise this serves: "supports
    * reporting ... and downstream analytics" extends to corpus search
    * over the documents table; BM25 is the standard lexical ranking.
    *
    * Determinism: tf/df/dl/N/total_len are exact integers; the per-term
    * score is ONE ln (absorbed by the sorted per-doc fold + round-4, the
    * text_lm_score discipline) and otherwise mirrored IEEE arithmetic —
    * the SQL twin writes the identical expression tree. Ranking compares
    * ROUNDED scores (doc_id tie-break), so a last-ulp wobble cannot
    * reorder the output.
    *
    * Scale: df comes from an explode of per-doc DISTINCT terms —
    * vocabulary-bounded, map-side combined, no (doc, term) shuffle; the
    * query-term frame (5 rows) broadcast-joins INTO the tf explode, so
    * only matching (doc, term) pairs ever shuffle; doc stats are one
    * broadcast row; the final top-20 is a TakeOrdered, no global sort. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val dfT = docs
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val qterms = dfT.crossJoin(broadcast(stats))
      .filter(col("df") * 2 <= col("n_docs"))
      .orderBy(col("df").desc, col("w")).limit(5)
      .select(col("w"), col("df"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .join(broadcast(qterms), "w")
      .groupBy(col("doc_id"), col("dl"), col("w"), col("df"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(0.3) + (lit(0.9) * col("dl")) * col("n_docs") / col("total_len")))
          .as("s"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        (round(aggregate(
          sort_array(collect_list(struct(col("w"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")), 4) + 0.0).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("score"))
  }

  val bm25TopkSql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |dd AS (SELECT doc_id, ws, len(ws) AS dl FROM d),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dd),
      |dft AS (
      |  SELECT w, count(*) AS df
      |  FROM (SELECT doc_id, unnest(list_distinct(ws)) AS w FROM dd)
      |  GROUP BY w),
      |q AS (SELECT w, df FROM dft CROSS JOIN st WHERE df * 2 <= n_docs
      |      ORDER BY df DESC, w LIMIT 5),
      |tf AS (
      |  SELECT doc_id, dl, e.w, q.df, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM dd) e
      |  JOIN q ON e.w = q.w
      |  GROUP BY doc_id, dl, e.w, q.df),
      |sc AS (
      |  SELECT doc_id, w,
      |         ln((n_docs - df + 0.5) / (df + 0.5)) *
      |           (tf * 2.2) /
      |           (tf + 0.3 + (0.9 * dl) * n_docs / total_len) AS s
      |  FROM tf CROSS JOIN st),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |         round(list_reduce(list_transform(
      |           list_sort(list(struct_pack(w := w, s := s))), x -> x.s),
      |           (a, x) -> a + x), 4) + 0.0 AS score
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_terms, score
      |FROM agg ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------- corpus_ccnet_buckets
  /** CCNet-style perplexity bucketing (Wenzek et al., LREC'20): per
    * LANGUAGE, split documents into head/middle/tail tertiles of the
    * corpus-trained LM score (text_lm_score's avg_neg_logp) — the
    * standard quality gate that keeps the head, down-samples the
    * middle, drops the tail, computed per language so a hard language
    * never lands wholesale in the tail.
    *
    * Scale: a per-LANGUAGE global rank is still a data-scaled window
    * (|langs| is small, so each partition is ~corpus/|langs| — the
    * single-reducer shape the registry bans). The tertile is therefore
    * the bucketed two-pass exact ntile GENERALIZED to groups: per-lang
    * score ranges (|langs|-row broadcast) → 64 equal-width buckets
    * non-decreasing in the order key → (lang, bkt) histogram (≤
    * |langs|·64 rows; offset windows run over the HISTOGRAM, never the
    * data) → within-(lang, bkt) row_number + per-lang offset = exact
    * per-lang rank → Spark's closed-form ntile arithmetic (ExactRank).
    * Bit-identical to DuckDB's ntile(3) because (avg_neg_logp, doc_id)
    * totally orders each language. The LM-score frame is staged once (it feeds the
    * range probe and the scoring join); its derivation is the
    * lmScoreCtes shared constant on the oracle side. */
  def corpusCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      lmScoreOf(docs).join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    val rng = scored.groupBy(col("lang")).agg(
      min(col("avg_neg_logp")).as("mn"), max(col("avg_neg_logp")).as("mx"))
    val bucketed = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      scored.join(broadcast(rng), Seq("lang"))
        .withColumn("bkt", ExactRank.eqWidthBucket(col("avg_neg_logp"), col("mn"), col("mx")))
        .drop("mn", "mx"))
    val tiled = ExactRank.rank(bucketed, Seq("lang"), "bkt",
        Seq(col("avg_neg_logp"), col("doc_id")))
      .withColumn("t_", ExactRank.ntile(3))
    tiled.select(col("doc_id"), col("lang"), col("avg_neg_logp"),
        when(col("t_") === 1, "head").when(col("t_") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  val corpusCcnetBucketsSql: String = lmScoreCtes + "\n" +
    """SELECT s.doc_id, d.lang, s.avg_neg_logp,
      |       CASE ntile(3) OVER (PARTITION BY d.lang
      |                           ORDER BY s.avg_neg_logp, s.doc_id)
      |         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
      |       END AS ppl_bucket
      |FROM score s JOIN documents d USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ maps
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_ccnet_buckets" -> (corpusCcnetBuckets _),
    "text_lm_score" -> (textLmScore _),
    "corpus_domain_kl" -> (corpusDomainKl _),
    "text_tfidf_top" -> (textTfidfTop _),
    "bm25_topk" -> (bm25Topk _)
  )

  def oracles: Map[String, String] = Map(
    "corpus_ccnet_buckets" -> corpusCcnetBucketsSql,
    "text_lm_score" -> textLmScoreSql,
    "corpus_domain_kl" -> corpusDomainKlSql,
    "text_tfidf_top" -> textTfidfTopSql,
    "bm25_topk" -> bm25TopkSql
  )
}
