package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge.stageBarrier
import graft.sources.Tables

/** Byte-pair-encoding tokenizer training over the documents corpus
  * (SURVEY.md §2C; Gage '94 via Sennrich et al. ACL'16 — the subword
  * vocabulary construction every modern LM tokenizer descends from).
  * The reference pipeline stops at loading curated text; a training-data
  * engine must also DERIVE the tokenizer from the corpus it curates,
  * so the merge table is a first-class query, not an offline artifact.
  *
  * Algorithm (exactly the published one): words are whitespace tokens;
  * training state is the WORD-FREQUENCY table (word, freq, symbol list)
  * — never the corpus rows — with symbols initialised to characters.
  * Each round counts adjacent symbol pairs weighted by word frequency,
  * picks the argmax pair (count DESC, then lexicographic (a, b) — a
  * total order, so both engines pick the identical pair), and rewrites
  * every word by the standard greedy left-to-right single-pass merge:
  * fold the symbol list, replacing the accumulator's last element with
  * a||b whenever it equals a and the incoming symbol equals b (the
  * fold form makes "aaa" under (a,a) → [aa, a] — non-overlapping
  * occurrences, exactly the reference implementation's scan).
  *
  * Exactness: pair counts are integer sums; the pick is an integer/
  * string total order; the merge rewrite is pure string structure —
  * every round is bit-identical cross-engine, so all `Rounds` rows
  * oracle-match with no float anywhere.
  *
  * Scale: the ONLY corpus-scale work is the word-frequency aggregate
  * (map-side combined, one shuffle, vocabulary-bounded output). All
  * `Rounds` merge rounds run on the vocab table: a word-length-bounded
  * pair explode into a vocab-keyed aggregate, a 1-row argmax, and a
  * broadcast-joined fold — at 100 TB the vocab is ~10⁷⁻⁸ rows, each
  * round a small bounded job. Every round is STAGED (stageBarrier):
  * round r's state feeds BOTH round r+1's pair counts and its own
  * merge rewrite, and the best-pair frame feeds both the rewrite and
  * the output union — unstaged, the 8-round lineage would re-derive
  * each prefix exponentially (the aliased-reuse miss the dedup /
  * part_affinity staging fixed, compounded per round).
  */
object Bpe {

  /** Merge rounds trained/applied. Fixed and unrolled in the mirror
    * (the ann_mmr_topk / embed_pca_top discipline for sequential
    * algorithms: a bounded number of rounds, each oracled). */
  val Rounds = 8

  private def words(df: DataFrame, extra: org.apache.spark.sql.Column*): DataFrame =
    df.select(extra :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(length(col("word")) > 0)

  /** The greedy single-pass merge of pair (a, b) over `syms`, as a fold:
    * start from the first symbol, then append — or coalesce into a||b
    * when the accumulator tail is a and the next symbol is b. Word-
    * length-bounded; identical lambda shape to the mirror's
    * list_reduce so the rewrite cannot drift. */
  private[graft] val mergeFold =
    """aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]), (acc, s) ->
      |  CASE WHEN element_at(acc, -1) = a AND s = b
      |       THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
      |       ELSE concat(acc, array(s)) END)""".stripMargin

  /** The trained chain: (merge table with `Rounds` rows, symbol-table
    * states w_0..w_R — each staged once). */
  private def chain(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val wf = words(Tables.documents(spark, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var w = stageBarrier(wf.select(col("word"), col("freq"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms")))
    val states = Seq.newBuilder[DataFrame]
    states += w
    val bests = Seq.newBuilder[DataFrame]
    for (r <- 1 to Rounds) {
      val pairs = w.select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), (s, i) -> " +
            "struct(s AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      val best = stageBarrier(
        pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1))
      bests += best.select(lit(r).as("rnd"), col("a"), col("b"), col("cnt"))
      w = stageBarrier(w.crossJoin(broadcast(best))
        .select(col("word"), col("freq"), expr(mergeFold).as("syms")))
      states += w
    }
    (bests.result().reduce(_ union _).orderBy(col("rnd")), states.result())
  }

  // ----------------------------------------------------------- text_bpe_train
  /** The learned merge table: per round the merged pair and its
    * frequency-weighted count at pick time — the tokenizer artifact a
    * training pipeline ships next to the packed shards. */
  def textBpeTrain(spark: SparkSession, dir: String): DataFrame =
    chain(spark, dir)._1

  /** Shared mirror chain wf → w0 → (p_r, b_r, w_r)* — both oracles
    * compose from this one constant (the ngramDupsCtes drift rule).
    * The merge rewrite is DuckDB's list_reduce with a list accumulator:
    * same fold, same greedy semantics, validated against a driver-side
    * reference BPE in BpeSpec. */
  private def roundCtes(r: Int, last: Boolean): String = {
    val prev = s"w${r - 1}"
    val wNext =
      if (last) ""
      else s""",
w$r AS (SELECT word, freq,
  list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
    CASE WHEN acc[-1] = b$r.a AND x[1] = b$r.b
         THEN list_append(acc[1:len(acc) - 1], b$r.a || b$r.b)
         ELSE list_append(acc, x[1]) END) AS syms
  FROM $prev, b$r)"""
    s"""p$r AS (SELECT s.a AS a, s.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
  SELECT freq, unnest(list_transform(range(1, len(syms)), i ->
    {'a': syms[i], 'b': syms[i + 1]})) AS s FROM $prev) GROUP BY s.a, s.b),
b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)""" + wNext
  }

  private def bpeCtes(withFinal: Boolean): String =
    """wf AS (SELECT word, count(*) AS freq FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |w0 AS (SELECT word, freq,
      |  list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
      |  FROM wf),
      |""".stripMargin +
      (1 to Rounds).map(r => roundCtes(r, last = !withFinal && r == Rounds))
        .mkString(",\n")

  val textBpeTrainSql: String =
    s"WITH ${bpeCtes(withFinal = false)}\n" +
      (1 to Rounds)
        .map(r => s"SELECT CAST($r AS INT) AS rnd, a, b, cnt FROM b$r")
        .mkString(" UNION ALL ") +
      "\nORDER BY rnd"

  // ------------------------------------------------------- text_bpe_fertility
  /** Tokenizer FERTILITY panel per language: token occurrences, BPE
    * tokens after the `Rounds` learned merges, chars, and the two
    * standard ratios — tokens/word (fertility: how many subwords the
    * tokenizer spends per word; high-fertility languages are
    * under-served by the vocab) and chars/token (compression). The
    * published tokenizer evaluation (Rust et al. ACL'21) as a query.
    *
    * Exactness: all three sums are integers (freq·|syms|, freq·|word|);
    * each ratio is ONE division of exact integers, rounded.
    *
    * Scale: one more corpus-scale word explode into a (lang, word)
    * map-side-combined aggregate (vocab×|langs| bounded), joined to the
    * final symbol table (vocab-bounded, AQE picks the side), then a
    * ≤|langs|-row rollup. */
  def textBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, states) = chain(spark, dir)
    val w8 = states.last
    val lf = words(Tables.documents(spark, dir), col("lang"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("freq"))
    lf.join(w8.select(col("word"), size(col("syms")).as("n_syms")), Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_syms")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        (round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)
          + 0.0).as("fertility"),
        (round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          + 0.0).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  val textBpeFertilitySql: String =
    s"""WITH ${bpeCtes(withFinal = true)},
lf AS (SELECT lang, word, count(*) AS freq FROM (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY lang, word),
ag AS (SELECT lang,
         CAST(sum(lf.freq) AS BIGINT) AS n_words,
         CAST(sum(lf.freq * len(syms)) AS BIGINT) AS n_tokens,
         CAST(sum(lf.freq * length(word)) AS BIGINT) AS n_chars
       FROM lf JOIN w$Rounds USING (word) GROUP BY lang)
SELECT lang, n_words, n_tokens, n_chars,
       round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6) + 0.0
         AS fertility,
       round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
         AS chars_per_token
FROM ag ORDER BY lang"""

  // ------------------------------------------------------- text_bpe_encode
  /** APPLY the trained tokenizer corpus-wide: per document, whitespace
    * words, BPE tokens under the `Rounds` learned merges, chars, and
    * the two per-doc ratios — the tokenize step every training pipeline
    * runs between curation and packing. text_tokens counts a regex
    * PROXY; this is the real trained-vocabulary count (what a token
    * budget, a packing plan, or a per-doc cost model should consume),
    * completing the BPE family train (text_bpe_train) → evaluate
    * (text_bpe_curve / text_bpe_fertility) → apply.
    *
    * Exactness: the per-doc sums are integers (freq·|syms|, freq·|word|)
    * off the same staged final symbol table as fertility; each ratio is
    * ONE division of exact integers, rounded.
    *
    * Scale: tokenizing N docs costs one corpus word explode into a
    * (doc_id, word) map-side-combined aggregate, one vocab-bounded join
    * (AQE broadcasts the symbol table — the vocab, not the corpus),
    * and one doc-keyed aggregate. The corpus text itself never carries
    * the symbol lists: only (doc_id, word, freq) scalars shuffle —
    * word-level tokenization means a document is the SUM of its words'
    * token counts, so the per-word result is computed once per distinct
    * (doc, word), never per occurrence. Docs with no whitespace words
    * have no tokenization and are absent, both engines. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, states) = chain(spark, dir)
    val w8 = states.last
    val dw = words(Tables.documents(spark, dir), col("doc_id"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("freq"))
    dw.join(w8.select(col("word"), size(col("syms")).as("n_syms")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_syms")).as("n_tokens"),
        sum(col("freq") * length(col("word"))).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"), col("n_chars"),
        (round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)
          + 0.0).as("tokens_per_word"),
        (round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          + 0.0).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val textBpeEncodeSql: String =
    s"""WITH ${bpeCtes(withFinal = true)},
dw AS (SELECT doc_id, word, count(*) AS freq FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY doc_id, word),
ag AS (SELECT doc_id,
         CAST(sum(dw.freq) AS BIGINT) AS n_words,
         CAST(sum(dw.freq * len(syms)) AS BIGINT) AS n_tokens,
         CAST(sum(dw.freq * length(word)) AS BIGINT) AS n_chars
       FROM dw JOIN w$Rounds USING (word) GROUP BY doc_id)
SELECT doc_id, n_words, n_tokens, n_chars,
       round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6) + 0.0
         AS tokens_per_word,
       round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
         AS chars_per_token
FROM ag ORDER BY doc_id"""

  // ------------------------------------------------------- text_bpe_curve
  /** The training COMPRESSION curve: per merge round r = 0..`Rounds`
    * the merged pair, corpus tokens after r merges, and chars/token —
    * the published "is the vocab still buying compression" read that
    * decides when to stop training (tokens_r is monotone non-increasing;
    * the marginal gain per round is the stopping signal). Row 0 is the
    * character baseline (no merges; chars/token exactly 1.0 when every
    * symbol is one char).
    *
    * Exactness: every tokens_r is an integer sum over the staged round
    * state; chars is the same constant integer each round; the ratio is
    * ONE division of exact integers, unrounded (the fin_cusum
    * round-half lesson). Scale: one ≤vocab-row aggregate per round on
    * top of the already-staged chain states — the curve costs `Rounds`
    * extra vocab scans, nothing corpus-scale beyond the shared chain. */
  def textBpeCurve(spark: SparkSession, dir: String): DataFrame = {
    val (merges, states) = chain(spark, dir)
    val toks = states.zipWithIndex.map { case (w, r) =>
      w.agg(sum(col("freq") * size(col("syms"))).as("n_tokens"),
          sum(col("freq") * length(col("word"))).as("n_chars"))
        .select(lit(r).as("rnd"), col("n_tokens"), col("n_chars"))
    }.reduce(_ union _)
    toks.join(merges, Seq("rnd"), "left")
      .select(col("rnd"), col("a"), col("b"), col("cnt"), col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double")
          + 0.0).as("chars_per_token"))
      .orderBy(col("rnd"))
  }

  val textBpeCurveSql: String = {
    val rows = (0 to Rounds).map { r =>
      s"""SELECT CAST($r AS INT) AS rnd,
         |  CAST(sum(freq * len(syms)) AS BIGINT) AS n_tokens,
         |  CAST(sum(freq * length(word)) AS BIGINT) AS n_chars FROM w$r"""
        .stripMargin
    }.mkString(" UNION ALL ")
    val merges = (1 to Rounds)
      .map(r => s"SELECT CAST($r AS INT) AS rnd, a, b, cnt FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(withFinal = true)},
       |bc_tok AS ($rows),
       |bc_mrg AS ($merges)
       |SELECT t.rnd, a, b, cnt, n_tokens,
       |       CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) + 0.0
       |         AS chars_per_token
       |FROM bc_tok t LEFT JOIN bc_mrg m ON m.rnd = t.rnd
       |ORDER BY t.rnd""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_train" -> (textBpeTrain _),
    "text_bpe_curve" -> (textBpeCurve _),
    "text_bpe_fertility" -> (textBpeFertility _),
    "text_bpe_encode" -> (textBpeEncode _)
  )

  def oracles: Map[String, String] = Map(
    "text_bpe_train" -> textBpeTrainSql,
    "text_bpe_curve" -> textBpeCurveSql,
    "text_bpe_fertility" -> textBpeFertilitySql,
    "text_bpe_encode" -> textBpeEncodeSql
  )
}
