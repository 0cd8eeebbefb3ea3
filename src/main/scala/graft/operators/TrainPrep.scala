package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Text
import graft.sources.Tables
import graft.operators.Dedup

/** Training-data preparation operators (SURVEY.md §2C+): the steps between
  * a cleaned corpus and a training run — sequence packing, corpus
  * statistics, PII scrubbing, embedding quantization. All oracled.
  */
object TrainPrep {

  // ------------------------------------------------------ text_pack_tokens
  private val PackShardFloor = 32L
  private val PackShardTargetDocs = 65536L

  /** Data-sized shard count: floor 32 (the static oracle's constant at
    * every gate scale), growing as ~n/64k docs beyond — per-shard window
    * state stays bounded as the corpus grows instead of the shard SIZE
    * growing linearly (the same floor-preserving knob pattern as
    * Ann.adaptivePlanes / Dedup.blockPlanes). */
  def packShards(rows: Long): Long =
    math.max(PackShardFloor, rows / PackShardTargetDocs)

  /** Production-shaped staged per-doc SIGNAL frame (r13): the text
    * family's expensive per-doc map work — the BPE-ish token regex, the
    * whitespace word count, and the integer unique-word quality ratio
    * q16 — computed ONCE per JVM per source dir and written as one flat
    * parquet table (no reader filters on lang), then read back as a plain
    * scan. This is the warehouse stagedUpserted convention applied to the
    * corpus family: the r12 sf100 probe showed the re-paid tokenize as
    * the family's shared scale floor (every packing/budget query re-ran
    * the token regex over 5M docs); at 100 TB the tokenize runs once per
    * ingest into exactly this signal table and every downstream packer,
    * budgeter, and sampler scans its integer columns. The _staged twins
    * below are that production shape, oracled against the SAME SQL as
    * their in-query twins (the parquet round-trip is bit-exact for every
    * column). Caching, content-fingerprint invalidation, and shutdown
    * cleanup live in sources.Staged (r14). */
  def stagedDocSignals(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staged.table(spark, "docsig", dir) {
      Tables.documents(spark, dir).select(
        col("doc_id"), col("source"),
        expr("CAST(size(array_distinct(split(text, ' '))) * CAST(65536 AS BIGINT)" +
          " DIV size(split(text, ' ')) AS BIGINT)").as("q16"),
        Text.nBpeTokens(col("text")).cast("long").as("n_tokens"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        col("lang"))
    }

  /** Greedy-ish sequence packing: docs are pre-partitioned into shards
    * (doc_id % packShards(n)) and packed into fixed token-capacity
    * windows by a running token count per shard. Scale: a GLOBAL running
    * sum would serialize on one task; sharding first keeps every window
    * bounded and parallel — the shard count grows with the data, and
    * packs are only ever built within a shard. */
  def textPackTokens(spark: SparkSession, dir: String): DataFrame = {
    val cap = 2048
    val docs = Tables.documents(spark, dir)
    val shards = packShards(docs.count())
    val nTok = Text.nBpeTokens(col("text"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"), nTok.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("n_tokens"), col("cum_tokens"),
        ((col("cum_tokens") - col("n_tokens")) / cap).cast("long").as("pack_id"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** Mirror shard count computed from the data itself — greatest(32,
    * n/65536) is exactly packShards, so the two faces can never shard
    * differently at ANY scale (the r12 advisory: the hard-coded 32
    * silently diverged past ~2.1M documents). */
  val textPackTokensSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         doc_id % (SELECT greatest(32, count(*) // 65536) FROM documents) AS shard,
      |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT shard, doc_id, n_tokens, cum_tokens,
      |       CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS pack_id
      |FROM c ORDER BY shard, doc_id""".stripMargin

  /** One packed doc: its shard, assigned bin, and the bin's FINAL fill. */
  case class PackedDoc(shard: Long, doc_id: Long, n_tokens: Long,
                       pack_id: Int, pack_fill: Long)

  // -------------------------------------------------------- text_pack_ffd
  /** CAP-RESPECTING sequence packing: first-fit-decreasing bins of 2048
    * tokens per shard — text_pack_tokens's running-sum packs are
    * contiguous but overflow the capacity at every boundary doc; FFD
    * never overflows (a doc longer than the cap gets a singleton bin)
    * and stays within 11/9·OPT + 6/9 bins (Johnson '73), the quality a
    * training loader actually wants.
    *
    * Bin packing is inherently sequential, so it runs per SHARD as one
    * typed flatMapGroups fold — the Dataset API's sanctioned imperative
    * island (the sessionizeStream precedent), NOT a driver loop: shards
    * are the parallel unit, the per-shard doc count is bounded by
    * construction (packShards grows with the corpus), and per-shard
    * state is one fill array of O(bins) longs. The first-fit probe is
    * a min-fill SEGMENT TREE descent (r12; was a linear scan measured
    * at 7.4 s on the sf10 sweep): the leftmost leaf with fill ≤
    * cap − tokens IS the first-fit bin, so the descent is EXACT
    * first-fit at O(log bins) per doc — O(n log n) per shard — and the
    * assignment is bit-identical to the scan (same oracle, same
    * specs).
    *
    * Oracled (r12): FFD's fold has no windowed equivalent, but it IS a
    * deterministic per-shard list fold — the mirror replays it as
    * DuckDB list_reduce over the same (tokens DESC, doc_id) order with
    * a flat assignment-list accumulator (the text_bpe_train fold
    * encoding: single-element lists as items so the accumulator type
    * matches; bin fills recomputed from the assignments each step —
    * a struct-of-lists accumulator miscompiles in DuckDB 1.0). Bin ids
    * and final fills hash-match at every gate SF; TrainPrepSpec keeps
    * the cap invariant, exactly-once assignment, the first-fit bound
    * vs the ceil(total/cap) lower bound, and
    * partitioning-independence. */
  def textPackFfd(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    textPackFfdFrom(spark,
      docs.select(col("doc_id"),
        Text.nBpeTokens(col("text")).cast("long").as("n_tokens")),
      packShards(docs.count()))
  }

  /** text_pack_ffd_staged: identical packing off the staged per-doc
    * signal table (stagedDocSignals — the warehouse stagedUpserted
    * convention applied to the text family): the shared per-query token
    * regex was the family's measured sf100 floor (text_pack_ffd 82 s,
    * corpus_token_budget 128.5 s — re-paid tokenize, not the fold);
    * production tokenizes once per ingest and packers scan integers.
    * Oracled against the SAME SQL as the in-query twin (the parquet
    * round-trip is bit-exact for every column). */
  def textPackFfdStaged(spark: SparkSession, dir: String): DataFrame = {
    val sig = stagedDocSignals(spark, dir)
    textPackFfdFrom(spark, sig.select(col("doc_id"), col("n_tokens")),
      packShards(sig.count()))
  }

  private[graft] def textPackFfdFrom(spark: SparkSession, base0: DataFrame,
      shards: Long): DataFrame = {
    import spark.implicits._
    val cap = 2048L
    val base = base0
      .select((col("doc_id") % shards).as("shard"), col("doc_id"), col("n_tokens"))
      .as[(Long, Long, Long)]
    base.groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val ds = it.toArray.sortBy(t => (-t._3, t._2)) // tokens desc, doc_id
        val ff = new FirstFitTree(cap)
        val assign = ds.map { case (_, doc, n) => (doc, n, ff.assign(n)) }
        assign.iterator.map { case (doc, n, b) =>
          PackedDoc(shard, doc, n, b, ff.fill(b))
        }
      }
      .toDF()
      .orderBy(col("shard"), col("pack_id"), col("doc_id"))
  }

  /** Exact first-fit in O(log bins) per doc: a min-fill segment tree
    * whose leftmost-qualifying-leaf descent returns the LOWEST-index
    * bin with fill ≤ cap − tokens — precisely the bin the linear scan
    * picks, so assignments are bit-identical to the reference fold
    * (ScalaCheck-pinned in TrainPrepSpec). Unopened leaves hold
    * Long.MaxValue so the descent can't choose them; the tree doubles
    * as bins open (amortized O(1) per bin). A doc longer than the cap
    * fits no bin (limit < 0 ≤ every fill) and opens its singleton bin
    * through the same no-fit path as the scan. */
  private[graft] final class FirstFitTree(cap: Long) {
    private var n = 8
    private var tree = Array.fill(2 * n)(Long.MaxValue)
    private var bins = 0
    private def grow(): Unit = {
      val old = tree; val oldN = n
      n *= 2
      tree = Array.fill(2 * n)(Long.MaxValue)
      System.arraycopy(old, oldN, tree, n, oldN)
      var i = n - 1
      while (i >= 1) { tree(i) = math.min(tree(2 * i), tree(2 * i + 1)); i -= 1 }
    }
    private def update(b: Int, v: Long): Unit = {
      var i = n + b
      tree(i) = v
      i /= 2
      while (i >= 1) { tree(i) = math.min(tree(2 * i), tree(2 * i + 1)); i /= 2 }
    }
    /** Assign a doc of `tok` tokens; returns its 0-based bin. */
    def assign(tok: Long): Int = {
      val limit = cap - tok
      val b =
        if (tree(1) <= limit) {
          var i = 1
          while (i < n) i = if (tree(2 * i) <= limit) 2 * i else 2 * i + 1
          i - n
        } else {
          if (bins == n) grow()
          bins += 1
          bins - 1
        }
      update(b, fill(b) + tok)
      b
    }
    /** Current (after the fold: final) fill of bin b. */
    def fill(b: Int): Long = {
      val v = tree(n + b)
      if (v == Long.MaxValue) 0L else v
    }
  }

  /** The FFD fold replayed as a DuckDB list fold — same sort key, same
    * first-fit probe, same singleton-overflow rule; pack_fill is the
    * bin's final fill via a post-unnest window sum. O(docs·bins²) per
    * shard in the mirror (fills recomputed from assignments) — fine at
    * gate scale; the engine side stays the O(docs·bins) typed fold. */
  val textPackFfdSql: String =
    """WITH t AS (
      |  SELECT doc_id % (SELECT greatest(32, count(*) // 65536) FROM documents) AS shard,
      |         doc_id,
      |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens
      |  FROM documents),
      |g AS (
      |  SELECT shard,
      |    list_reduce(
      |      list_prepend(
      |        CAST([] AS STRUCT(doc BIGINT, n BIGINT, b BIGINT)[]),
      |        list_transform(
      |          list(struct_pack(doc := doc_id, n := n_tokens)
      |               ORDER BY n_tokens DESC, doc_id),
      |          s -> [{'doc': CAST(s.doc AS BIGINT), 'n': CAST(s.n AS BIGINT),
      |                 'b': CAST(NULL AS BIGINT)}])),
      |      (acc, x) -> list_append(acc,
      |        {'doc': x[1].doc, 'n': x[1].n,
      |         'b': coalesce(
      |            list_filter(
      |              range(0, coalesce(list_max(list_transform(acc, e -> e.b)), -1) + 1),
      |              i -> coalesce(list_sum(list_transform(
      |                     list_filter(acc, e -> e.b = i), e -> e.n)), 0)
      |                   + x[1].n <= 2048)[1],
      |            coalesce(list_max(list_transform(acc, e -> e.b)), -1) + 1)})
      |    ) AS assigns
      |  FROM t GROUP BY shard),
      |u AS (SELECT shard, unnest(assigns) AS a FROM g)
      |SELECT shard, a.doc AS doc_id, a.n AS n_tokens, CAST(a.b AS INT) AS pack_id,
      |       CAST(sum(a.n) OVER (PARTITION BY shard, a.b) AS BIGINT) AS pack_fill
      |FROM u ORDER BY shard, pack_id, doc_id""".stripMargin

  // ------------------------------------------------------- text_ngram_freq
  /** Corpus-level bigram frequencies, top 50. Scale: explode + partial
    * aggregation (map-side combine) → the shuffle carries per-partition
    * bigram counts, not the corpus; the top-k is a TakeOrdered.
    *
    * r15 negative result, measured and kept single-phase: a two-phase
    * rewrite (count by xxhash64 first — 16 B rows — then exactly
    * recount only the provable top-50 candidate superset, with an
    * e50 >= tau acceptance gate) ran 313.5 s warm at sf100 vs 195.6 s
    * for this single-phase plan on the same box/session. The wall is
    * the aggregate's ~300M-entry DISTINCT key space (the replicated
    * corpus suffixes every word per copy, so the vocabulary grows
    * linearly with the data), which hashing does not shrink — and the
    * rewrite pays a second full explode pass for the candidate
    * recount. Guide §1.2: the distributed algorithm (one full count)
    * is already minimal for an exact global top-k over an
    * unbounded-vocabulary aggregate. */
  def textNgramFreq(spark: SparkSession, dir: String): DataFrame =
    textNgramFreqFrom(spark, Tables.documents(spark, dir))

  private[graft] def textNgramFreqFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(explode(Text.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)

  val textNgramFreqSql: String =
    """SELECT bigram, count(*) AS n
      |FROM (
      |  SELECT unnest([words[i+1] || ' ' || words[i+2] for i in range(0, len(words)-1)]) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS words FROM documents) w) t
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  // -------------------------------------------------------- text_pii_scrub
  /** PII scrubbing: regex redaction of emails and phone numbers. The test
    * corpus carries no PII, so a deterministic contact line is appended
    * per doc before scrubbing — the operator under test is the redaction.
    * Patterns are ASCII-class-only so Java regex and RE2 agree. */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+1-555-[0-9]{4}"
    val augmented = concat(col("text"), lit(" Contact user"), col("doc_id"),
      lit("@example.com or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val scrubbed = regexp_replace(regexp_replace(augmented, email, "<EMAIL>"), phone, "<PHONE>")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(augmented, lit(email), lit(0))).as("n_emails"),
      size(regexp_extract_all(augmented, lit(phone), lit(0))).as("n_phones"),
      md5(scrubbed).as("scrubbed_fp"))
      .orderBy(col("doc_id"))
  }

  val textPiiScrubSql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |         text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
      |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(aug,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_fp
      |FROM a ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- embed_quantize
  /** Per-vector int8 quantization audit: min/max range, scale, and the
    * reconstruction error of round-trip quantization — the check run
    * before shipping a quantized embedding table. The per-element work
    * is the native VectorQuantError kernel (one codegen'd pass) — the
    * declarative transform+aggregate twin evaluates interpreted
    * (higher-order exprs are codegen-excluded) and was the single worst
    * bench query; the kernel's folds are bit-identical (same element
    * order, same Spark round() semantics) so the DuckDB oracle below is
    * unchanged. ExpressionsSpec pins kernel == declarative chain. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.functions.Vectors.quantError(col("embedding").cast("array<double>"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), q.as("q"))
      .select(
        col("vec_id"),
        (round(col("q.vmin"), 6) + 0.0).as("vmin"),
        (round(col("q.vmax"), 6) + 0.0).as("vmax"),
        (round(col("q.max_abs_err"), 6) + 0.0).as("max_abs_err"),
        (round(col("q.mean_abs_err"), 6) + 0.0).as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  val embedQuantizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax,
      |             greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale FROM e),
      |r AS (SELECT vec_id, vmin, vmax,
      |             [abs(round((x - vmin) / scale) * scale + vmin - x) for x in v] AS err,
      |             len(v) AS n
      |      FROM s)
      |SELECT vec_id,
      |  CAST(round(vmin, 6) AS DOUBLE) + 0.0 AS vmin,
      |  CAST(round(vmax, 6) AS DOUBLE) + 0.0 AS vmax,
      |  CAST(round(list_max(err), 6) AS DOUBLE) + 0.0 AS max_abs_err,
      |  CAST(round(list_reduce(err, (a, x) -> a + x) / n, 6) AS DOUBLE) + 0.0 AS mean_abs_err
      |FROM r ORDER BY vec_id""".stripMargin

  // ----------------------------------------------------- embed_matryoshka
  /** Matryoshka truncation audit (Kusupati et al., NeurIPS'22 — MRL):
    * how much of each vector's norm survives truncation to its first
    * 8/16/32 dims? retention_m = √(‖v[..m]‖²/‖v‖²) is exactly the
    * cosine between the full vector and its zero-padded m-prefix — the
    * number that decides whether short-vector serving (cheaper ANN
    * scans) is safe for this embedding table. Per (label, m): count,
    * average retention (summed in exact integer micro-units so
    * distributed order can't perturb a bit), min and max.
    *
    * Scale: map-only scan + one 3×-exploded map-side-combined
    * aggregate on (label, m) — no joins, no windows; the squared-norm
    * folds are ascending 0.0-seeded, mirrored by list_reduce. */
  def embedMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val ms = Seq(8, 16, 32)
    val ss = aggregate(col("v"), lit(0.0), (a, x) => a + x * x)
    def ret(m: Int): Column = {
      val ssm = aggregate(slice(col("v"), 1, m), lit(0.0), (a, x) => a + x * x)
      when(col("ss") === 0.0, lit(0.0)).otherwise(sqrt(ssm / col("ss")))
    }
    Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("ss", ss)
      .select(col("label"), explode(array(ms.map(m =>
        struct(lit(m).as("m"), ret(m).as("ret"))): _*)).as("x"))
      .select(col("label"), col("x.m").as("m"), col("x.ret").as("ret"))
      .groupBy(col("label"), col("m"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("ret") * 1000000).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * 1000000.0)).as("avg_ret"),
        (round(min(col("ret")), 6) + 0.0).as("min_ret"),
        (round(max(col("ret")), 6) + 0.0).as("max_ret"))
      .orderBy(col("label"), col("m"))
  }

  val embedMatryoshkaSql: String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT label, v,
      |        list_reduce([v[i]*v[i] for i in range(1, len(v)+1)], (x, y) -> x + y) AS ss
      |      FROM e),
      |r AS (SELECT label, mm.m,
      |        CASE WHEN ss = 0 THEN 0.0
      |             ELSE sqrt(list_reduce([v[i]*v[i]
      |                                    for i in range(1, least(mm.m, len(v))+1)],
      |                                   (x, y) -> x + y) / ss) END AS ret
      |      FROM b, (VALUES (8), (16), (32)) mm(m))
      |SELECT label, m, count(*) AS n,
      |  CAST(sum(CAST(round(ret*1000000) AS BIGINT)) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS avg_ret,
      |  CAST(round(min(ret), 6) AS DOUBLE) + 0.0 AS min_ret,
      |  CAST(round(max(ret), 6) AS DOUBLE) + 0.0 AS max_ret
      |FROM r GROUP BY label, m ORDER BY label, m""".stripMargin

  // ---------------------------------------------------------- corpus_curate
  /** The curation composite: quality gate (length + lexical diversity) ∧
    * language gate (English by stopword argmax) ∧ near-dup removal (drop
    * the higher doc_id of every ≥0.9-Jaccard candidate pair) — the whole
    * keep/drop decision a pretraining pipeline makes per document, as
    * one query. All thresholds compare exactly-computed ratios, so the
    * oracle can't flake at the boundary. Scale: the gates are scan-fused
    * column predicates; only the dedup arm shuffles (bucketed candidate
    * join + an anti join on doc_id). */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nw = Text.nWords(t)
    val scored = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), nw.as("n_words"),
        (Text.nUniqueWords(t) / nw).as("uniq_ratio")) ++
        Text.langStops.map { case (l, stops) =>
          Text.stopwordCount(t, stops).as(s"s_$l")
        }: _*)
    val gated = scored.filter(col("n_words") >= 20 && col("uniq_ratio") >= 0.3 &&
      col("s_en") > 0 && col("s_en") >= col("s_es") &&
      col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"))
    val dupIds = Dedup.dedupNgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.9)
      .select(col("id_b").as("doc_id")).distinct()
    gated.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_words"), col("uniq_ratio"))
      .orderBy(col("doc_id"))
  }

  val corpusCurateSql: String =
    s"""WITH scored AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '[^ ]+')) AS n_words,
      |    len(list_distinct(string_split(text, ' ')))
      |      / len(regexp_extract_all(text, '[^ ]+')) AS uniq_ratio,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS s_en,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('el','la','los','de','que','y','en'))) AS s_es,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','von'))) AS s_de,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('le','la','les','un','une','et','est'))) AS s_fr
      |  FROM documents),
      |${graft.operators.Dedup.ngramDupsCtes}
      |SELECT doc_id, n_words, uniq_ratio FROM scored sc
      |WHERE n_words >= 20 AND uniq_ratio >= 0.3 AND s_en > 0
      |  AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
      |  AND NOT EXISTS (SELECT 1 FROM ngram_dups d WHERE d.doc_id = sc.doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_sample_stratified
  /** Deterministic stratified sampling for training-mix rebalancing:
    * downsample the dominant language ('en') to ~25% and keep the rest
    * at ~75%, with a content-independent md5 coin on doc_id — the same
    * document survives on any cluster, any partitioning, any engine
    * (md5 is the one cross-engine hash, so DuckDB reproduces the EXACT
    * sample — no tolerance, a hash-matched oracle). Rates are 16-bit
    * hex-prefix thresholds: 0x4000/0x10000 = 25 %, 0xc000 = 75 %.
    * Scale: the coin is a scan-fused map-only predicate — no shuffle, no
    * sampling state, no RNG seed to coordinate across executors; at
    * 100 TB this is exactly how a mix is re-weighted without a pass of
    * global coordination. */
  def corpusSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(col("doc_id").cast("string")), 1, 4)
    val keep = when(col("lang") === "en", coin < "4000").otherwise(coin < "c000")
    Tables.documents(spark, dir)
      .filter(keep)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val corpusSampleStratifiedSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE CASE WHEN lang = 'en'
      |           THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
      |           ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000' END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ corpus_sample_per_group
  /** Balanced per-GROUP fixed-size sample: exactly k = 50 documents per
    * language (fewer when a language is scarce), chosen as each group's
    * k smallest md5(doc_id) coins — the "balanced eval set" op
    * (uniform-per-group membership, reproducible on any engine).
    *
    * Scale: a naive per-group window sorts EVERY row of a language on
    * one task — the rank_stats problem again. Instead, exact two-level
    * top-k: rows first take a window within (lang, shard) where shard =
    * crc32(doc_id) % 32 — each shard task holds ~1/32 of a language —
    * then the survivors (≤ 32·k rows per language, driver-scale) take
    * the true per-language window. Level 1 can never evict a global
    * top-k row (a group's k smallest coins are each among their own
    * shard's k smallest), so the result is exact — same argument as
    * rank_stats_scalable's bucket merge. */
  def corpusSamplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val coin = md5(col("doc_id").cast("string"))
    val wShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), crc32(col("doc_id").cast("string")) % 32)
      .orderBy(col("coin"))
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("coin"))
    Tables.documents(spark, dir)
      .select(coin.as("coin"), col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("rs", row_number().over(wShard))
      .filter(col("rs") <= k)
      .withColumn("rk", row_number().over(wLang))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  val corpusSamplePerGroupSql: String =
    """SELECT lang, rk, doc_id, source, n_chars
      |FROM (SELECT lang, doc_id, source, n_chars,
      |             row_number() OVER (PARTITION BY lang
      |                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      |      FROM documents)
      |WHERE rk <= 50
      |ORDER BY lang, rk""".stripMargin

  // ------------------------------------------------------ corpus_train_split
  /** Deterministic train/val/test assignment (~90/5/5) by the same md5
    * coin, reported as the per-(split, language) doc counts and char
    * volume a pipeline publishes next to its manifest. 5 % = 0x0ccd,
    * 10 % = 0x199a on the 16-bit hex prefix. Scale: map-only assignment;
    * the ONE shuffle is a map-side-combined aggregate over (split, lang)
    * — 3×|langs| groups regardless of corpus size. */
  def corpusTrainSplit(spark: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(col("doc_id").cast("string")), 1, 4)
    val split = when(coin < "0ccd", "val").when(coin < "199a", "test")
      .otherwise("train")
    Tables.documents(spark, dir)
      .select(split.as("split"), col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("lang"))
  }

  val corpusTrainSplitSql: String =
    """WITH s AS (
      |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd' THEN 'val'
      |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a' THEN 'test'
      |              ELSE 'train' END AS split, lang, n_chars
      |  FROM documents)
      |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin

  // ------------------------------------------------------------------ maps
  // -------------------------------------------------- corpus_decontaminate
  /** Benchmark decontamination: drop every training document that shares
    * ANY word-5-gram with the held-out eval set (here: doc_id % 20 == 0
    * stands in for the benchmark corpus) — the standard n-gram-overlap
    * test-set leakage filter run before pretraining.
    *
    * Scale + BOUNDED-EVAL CONTRACT: in production the eval side of a
    * decontamination pass is a fixed small benchmark suite — its size
    * does not grow with the corpus — so its distinct shingle set is
    * BROADCAST and the contamination probe is a map-only broadcast
    * semi-join over the exploded train shingles: the 100 TB corpus
    * never shuffles. The registered fixture's eval set (doc_id%20) is
    * corpus-PROPORTIONAL, so the hint is size-GATED rather than
    * unconditional: eval docs are counted first (a map-only pushdown
    * count of one column) and the broadcast hints apply only under
    * `MaxEvalDocs` (10k docs × ~10² shingle hashes × 8 B ≈ tens of MB
    * — comfortable executor headroom); past the bound both joins go
    * unhinted and AQE adjudicates broadcast vs shuffle from runtime
    * sizes, so an adversarially scaled eval degrades to a shuffle
    * instead of an executor OOM. The contaminated-id set rides the
    * same gate (it is output-bounded by the hit-doc count in practice;
    * when the eval side is big enough to unhint, its hits may be too).
    * Shingles probe as hashes so broadcast rows are fixed-width. */
  def corpusDecontaminate(spark: SparkSession, dir: String): DataFrame =
    corpusDecontaminateFrom(Tables.documents(spark, dir))

  /** Broadcast-hint ceiling for eval-derived frames (see the
    * bounded-eval contract in corpusDecontaminate's Scaladoc). */
  private[graft] val MaxEvalDocs = 10000L

  private[graft] def corpusDecontaminateFrom(docs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 20 === 0
    val evalBounded =
      docs.filter(isEval).select(col("doc_id")).count() <= MaxEvalDocs
    def gated(df: DataFrame) = if (evalBounded) broadcast(df) else df
    // hashes are probe-side transport only (the mirror joins the raw
    // gram STRINGS — set semantics are unchanged by the representation);
    // 16-hex prefixes halve the broadcast rows (r13)
    val sh = explode(Text.shingleHashes16(col("text"), 5)).as("shingle")
    val evalShingles = docs.filter(isEval).select(sh).distinct()
    val train = docs.filter(!isEval)
    val contaminated = train.select(col("doc_id"), sh)
      .join(gated(evalShingles), Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
    train.join(gated(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val corpusDecontaminateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT doc_id,
      |        [words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' ||
      |         words[i+4] || ' ' || words[i+5]
      |         for i in range(0, len(words)-4)] AS sh
      |      FROM w),
      |ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 20 = 0),
      |bad AS (SELECT DISTINCT t.doc_id
      |        FROM (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE doc_id % 20 <> 0) t
      |        JOIN ev USING (shingle))
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 20 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_ngram_coverage
  /** The MEASUREMENT companion to corpus_decontaminate: per eval doc
    * (doc_id % 20 == 0, the same benchmark stand-in), what fraction of
    * its distinct word-5-grams appears anywhere in the train corpus —
    * the contamination-rate report read before deciding whether
    * decontamination (or eval replacement) is needed at all. coverage =
    * n_matched/n_grams is one exact integer division.
    *
    * Scale: mirrored from decontaminate's join direction — the eval
    * gram set BROADCASTS into the exploded train scan (the corpus
    * never shuffles for the probe); only MATCHING (doc_id, gram) scalar
    * pairs reach the distinct+count shuffle. The hint rides the same
    * bounded-eval contract + MaxEvalDocs size gate as
    * corpus_decontaminate (see its Scaladoc) — a corpus-proportional
    * eval fixture unhints and leaves the decision to AQE. Eval docs
    * under 5 words have no grams and are absent, matching the oracle's
    * empty comprehension. */
  def corpusNgramCoverage(spark: SparkSession, dir: String): DataFrame =
    corpusNgramCoverageFrom(spark, Tables.documents(spark, dir), MaxEvalDocs)

  /** Spec entry point: `maxEval` forces the unbounded (bloom-pruned
    * shuffle-join) branch on small fixtures so both branches stay
    * row-identical under test. */
  private[graft] def corpusNgramCoverageFrom(spark: SparkSession,
      docs: DataFrame, maxEval: Long): DataFrame = {
    val isEval = col("doc_id") % 20 === 0
    val evalBounded =
      docs.filter(isEval).select(col("doc_id")).count() <= maxEval
    val sh = explode(array_distinct(Text.shingleHashes16(col("text"), 5))).as("shingle")
    val evalGrams = docs.filter(isEval).select(col("doc_id"), sh)
    val totals = evalGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // r15 (guide §3.2): past the broadcast gate the probe becomes a
    // 16-hex-string sort-merge join of the FULL exploded train side
    // against the eval grams (~150 s at sf100, ~all of it the train
    // exchange). A broadcast Bloom filter over the eval grams' 60-bit
    // key drops the train grams that cannot match BEFORE their
    // exchange; fpp 1% only adds spurious join input — the equi-join
    // on the full 16-hex shingle keeps the result exact. The bounded
    // branch (every gate SF) is byte-identical to r14; TrainPrepSpec
    // pins bloom-path == broadcast-path rows on a forced-unbounded run.
    val trainGrams = docs.filter(!isEval).select(sh)
    val prunedTrain =
      if (evalBounded) trainGrams
      else {
        import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
        val nEvalGrams = evalGrams.count()
        val bloom = evalGrams.select(xxhash64(col("shingle")).as("k"))
          .stat.bloomFilter("k", math.max(64L, nEvalGrams), 0.01)
        val bloomBc = spark.sparkContext.broadcast(bloom)
        trainGrams.filter(kcol(graft.expressions.BroadcastBloomMightContain(
          bloomBc, kexp(xxhash64(col("shingle"))))))
      }
    val hits = prunedTrain
      .join(if (evalBounded) broadcast(evalGrams) else evalGrams, Seq("shingle"))
      .select(col("doc_id"), col("shingle")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)).cast("double")
          / col("n_grams").cast("double")).as("coverage"))
      .orderBy(col("doc_id"))
  }

  val corpusNgramCoverageSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct([words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' ||
      |         words[i+4] || ' ' || words[i+5]
      |         for i in range(0, len(words)-4)]) AS sh
      |      FROM w),
      |ev AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE doc_id % 20 = 0),
      |tr AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 20 <> 0),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id),
      |hit AS (SELECT ev.doc_id, count(*) AS n_matched
      |        FROM ev JOIN tr USING (shingle) GROUP BY ev.doc_id)
      |SELECT tot.doc_id, n_grams, coalesce(n_matched, 0) AS n_matched,
      |       CAST(coalesce(n_matched, 0) AS DOUBLE)/CAST(n_grams AS DOUBLE) AS coverage
      |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------- corpus_mix
  /** Deterministic domain re-weighting toward a target mixture — the
    * step that turns a raw crawl into a training mix (downweight
    * over-represented domains, keep scarce ones whole). Target weights
    * are declared per source band (band = source number % 4 →
    * 0.08/0.06/0.04/0.02 per source); the output is the LARGEST corpus
    * achievable without oversampling any domain: m = min(cnt/tw) over
    * sources, per-source acceptance rate = tw·m/cnt (the binding domain
    * keeps ~everything). Acceptance is the same content-independent md5
    * coin as the samplers above, so membership is reproducible on any
    * cluster and any engine.
    *
    * Oracle parity: rates are doubles on BOTH engines (IEEE division is
    * bit-identical; the DuckDB weights are cast — bare 0.08 parses as
    * DECIMAL there) and the comparison is a 5-hex-digit string threshold
    * (floor(rate·65536), zero-padded; the coin gets a leading '0') so a
    * rate of 1.0 → '10000' string-compares above every coin.
    *
    * Scale: the corpus itself NEVER shuffles — acceptance is a scan-
    * fused map-only predicate against broadcast per-source thresholds;
    * the only aggregation is the map-side-combined per-source count
    * (|sources| rows), and the min-over-sources window runs on that tiny
    * frame. At 100 TB this is one pass, zero corpus exchanges. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val band = substring(col("source"), 4, 10).cast("int") % 4
    val tw = when(band === 0, 0.08).when(band === 1, 0.06)
      .when(band === 2, 0.04).otherwise(0.02)
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      .withColumn("tw", tw)
    val m = min(col("cnt").cast("double") / col("tw"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy())
    val thresholds = counts
      .select(col("source"),
        lpad(lower(hex(floor(col("tw") * m / col("cnt").cast("double") * 65536.0))), 5, "0")
          .as("thresh"))
    Tables.documents(spark, dir)
      .join(broadcast(thresholds), Seq("source"))
      .filter(concat(lit("0"),
        substring(md5(col("doc_id").cast("string")), 1, 4)) < col("thresh"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val corpusMixSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS cnt,
      |         CASE CAST(substr(source, 4, 10) AS INT) % 4
      |           WHEN 0 THEN CAST(0.08 AS DOUBLE) WHEN 1 THEN CAST(0.06 AS DOUBLE)
      |           WHEN 2 THEN CAST(0.04 AS DOUBLE) ELSE CAST(0.02 AS DOUBLE) END AS tw
      |  FROM documents GROUP BY source),
      |r AS (
      |  SELECT source,
      |         lpad(lower(to_hex(CAST(floor(
      |           tw * (SELECT min(CAST(cnt AS DOUBLE) / tw) FROM c)
      |              / CAST(cnt AS DOUBLE) * 65536.0) AS BIGINT))), 5, '0') AS thresh
      |  FROM c)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d JOIN r USING (source)
      |WHERE '0' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thresh
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_sample_fixed
  /** Fixed-SIZE deterministic uniform sample: exactly k = 100 documents,
    * chosen as the k smallest md5(doc_id) coins — the complement of the
    * fixed-RATE stratified sampler above (a manifest wants "give me
    * exactly 100 eval docs", not "~3%"). Content-independent and stable
    * under corpus growth ordering: the selected set changes only when
    * new doc_ids hash below the current k-th coin.
    *
    * Scale: no global sort — the hash-order limit plans as
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    * one reducer), the same shape as every top-N here. k rows out
    * regardless of corpus size. */
  def corpusSampleFixed(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("doc_id").cast("string")).as("coin"),
        col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("coin"))
      .limit(100)

  val corpusSampleFixedSql: String =
    """SELECT md5(CAST(doc_id AS VARCHAR)) AS coin, doc_id, lang, source, n_chars
      |FROM documents
      |ORDER BY coin
      |LIMIT 100""".stripMargin

  // ---------------------------------------------- corpus_sample_weighted
  /** Quality-WEIGHTED deterministic sampling: each document keeps with
    * probability proportional to a quality proxy (here length-based:
    * w = clamp(n_chars/4000, 10%, 90%)) — the standard upsample-good /
    * downsample-short mixing move, reproducible on any engine.
    *
    * Exactness: the acceptance test never touches floats. The weight
    * becomes a 16-bit integer threshold via BIGINT floor-division
    * (n_chars·65536 DIV 4000, clamped), rendered as a 4-char lowercase
    * hex string; the md5 coin's 4-char prefix compares LEXICOGRAPHICALLY
    * against it — identical to the numeric compare, and bit-identical in
    * DuckDB (the corpus_sample_stratified trick generalized to a
    * per-row threshold).
    *
    * Scale: map-only scan-fused filter — no shuffle at all; the
    * ORDER BY for the gate is the only exchange. */
  def corpusSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val w16 = expr("least(58982L, greatest(6554L, n_chars * 65536L DIV 4000L))")
    Tables.documents(spark, dir)
      .withColumn("w16", w16)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) <
        lpad(lower(hex(col("w16"))), 4, "0"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("w16"))
      .orderBy(col("doc_id"))
  }

  val corpusSampleWeightedSql: String =
    """SELECT doc_id, lang, source, n_chars,
      |       least(58982, greatest(6554, n_chars * 65536 // 4000)) AS w16
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |      lpad(lower(hex(least(58982, greatest(6554, n_chars * 65536 // 4000)))), 4, '0')
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ corpus_dup_spans
  /** SPAN-level exact-substring dedup report (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22): a word-8-gram
    * occurring in MORE THAN ONE document marks all 8 of its token
    * positions duplicated; per document the report carries the
    * interval-UNION of those spans (`covered_tokens`), the duplicated
    * fraction, and a keep/trim/drop verdict (≥20 % / ≥80 % covered) —
    * the position-aware measurement the doc-level dedup_* family cannot
    * express (a quote or boilerplate block inside an otherwise unique
    * doc shows up here as a partial span, not a whole-doc near-dup).
    * Reference scope: beyond-reference LLM-pipeline op (no analogue in
    * build_warehouse.py); the algorithmic idea (dup span = n-gram seen
    * in ≥2 docs, report the union of hit intervals) is the hashed
    * approximation of the paper's suffix-array ExactSubstr.
    *
    * Scale shape: the (doc_id, gram-hash array) frame is STAGED once
    * (stageBarrier — the 8-gram md5 kernel is the expensive map work
    * and feeds BOTH the cross-doc aggregate and the position probe);
    * grams explode from the staged frame — linear in corpus tokens, the
    * containment posting-list bound. Cross-doc-ness is min(doc)≠max(doc)
    * per hash (no count-distinct expand); the dup-hash set is
    * data-scaled so it JOINS (shuffle on the gram hash, never
    * broadcast). The interval union is one lead() window per doc over
    * DUP positions only (output-bounded — positions survive the
    * semi-join, not the whole gram stream), then everything folds to one
    * row per doc. Verdict thresholds are integer cross-multiplications
    * (covered·5 ≥ n·4) — no float compares; `dup_frac` divides identical
    * integers once at the output boundary. */
  def corpusDupSpans(spark: SparkSession, dir: String): DataFrame =
    corpusDupSpansFrom(Tables.documents(spark, dir))

  private[graft] def corpusDupSpansFrom(docs: DataFrame): DataFrame =
    corpusDupSpansFromSignals(org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      docs.select(col("doc_id"), Text.shingleHashes16(col("text"), 8).as("hs"),
        size(Text.words(col("text"))).cast("long").as("n_tokens"))))

  /** corpus_dup_spans_staged: identical span accounting off the staged
    * DUP-POSITION INDEX (stagedDupPositions) + the per-doc signal
    * table's word counts — the r13 sf100 probe put corpus_dup_spans at
    * 127.5 s, and almost all of it is once-per-corpus work (the
    * ~300M-gram md5 sweep AND the corpus-wide gram aggregate).
    * Production maintains exactly that index per ingest batch; every
    * re-tune of the trim/drop thresholds is then a window + two counts
    * over dup positions only. (The first r14 cut staged the raw
    * 16-hex gram ARRAYS instead — 237 s warm at sf100, SLOWER than
    * in-query: 16 B/gram of near-incompressible hex reads worse than
    * re-hashing the 6 B/word text. The gram aggregate, not the hash
    * sweep, is the stageable cost.) Oracled against the SAME SQL as
    * the in-query twin. */
  def corpusDupSpansStaged(spark: SparkSession, dir: String): DataFrame =
    dupSpanAccounting(
      stagedDocSignals(spark, dir)
        .select(col("doc_id"), col("n_words").as("n_tokens")),
      stagedDupPositions(spark, dir))

  /** Staged (doc_id, pos) dup-position index: every position whose
    * 8-gram appears in ≥2 documents (sources.Staged cache: once per
    * JVM per dir content). Two int-ish columns — the ingest-maintained
    * form of the dup aggregate. */
  def stagedDupPositions(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staged.table(spark, "dup8pos", dir) {
      dupPositionsFrom(org.apache.spark.sql.GraftColumnBridge.stageBarrier(
        Tables.documents(spark, dir).select(col("doc_id"),
          Text.shingleHashes16(col("text"), 8).as("hs"))))
    }

  /** (doc_id, pos) of duplicated grams over any (doc_id, hs) frame.
    * 16-hex prefix transport (r13): the gram hash is the shuffle key of
    * the dup aggregate and never reaches output — prefixes halve it. */
  private[graft] def dupPositionsFrom(hsFrame: DataFrame): DataFrame = {
    val grams = hsFrame.select(col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    val dup = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("h"))
    grams.join(dup, Seq("h"), "left_semi").select(col("doc_id"), col("pos"))
  }

  /** The span accounting over (doc_id, n_tokens) × dup positions. */
  private[graft] def dupSpanAccounting(base: DataFrame, dp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val perDoc = dp
      .withColumn("covered",
        least(lit(8), coalesce(lead(col("pos"), 1).over(w) - col("pos"), lit(8))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(col("covered")).cast("long").as("covered_tokens"))
    base.select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - 7, lit(0L)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac",
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6) + lit(0.0))
      .withColumn("verdict",
        when(col("covered_tokens") * 5 >= col("n_tokens") * 4, "drop")
          .when(col("covered_tokens") * 5 >= col("n_tokens"), "trim")
          .otherwise("keep"))
      .orderBy(col("doc_id"))
  }

  /** The dup-span pipeline over any (doc_id, hs, n_tokens) frame. */
  private[graft] def corpusDupSpansFromSignals(hsFrame: DataFrame): DataFrame =
    dupSpanAccounting(
      hsFrame.select(col("doc_id"), col("n_tokens")),
      dupPositionsFrom(hsFrame))

  val corpusDupSpansSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g0 AS (SELECT doc_id,
      |         [substr(md5(words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4]||' '||
      |              words[i+5]||' '||words[i+6]||' '||words[i+7]||' '||words[i+8]), 1, 16)
      |          for i in range(0, greatest(len(words)-7, 0))] AS hs
      |       FROM w),
      |g AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h FROM g0),
      |d AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      |dp AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
      |cov AS (SELECT doc_id, pos,
      |          least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS covered
      |        FROM dp),
      |percov AS (SELECT doc_id, count(*) AS n_dup_grams,
      |                  CAST(sum(covered) AS BIGINT) AS covered_tokens
      |           FROM cov GROUP BY doc_id),
      |base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |         FROM documents)
      |SELECT b.doc_id, b.n_tokens, greatest(b.n_tokens - 7, 0) AS n_grams,
      |       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
      |       coalesce(p.covered_tokens, 0) AS covered_tokens,
      |       round(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / b.n_tokens, 6) + 0.0 AS dup_frac,
      |       CASE WHEN coalesce(p.covered_tokens, 0) * 5 >= b.n_tokens * 4 THEN 'drop'
      |            WHEN coalesce(p.covered_tokens, 0) * 5 >= b.n_tokens THEN 'trim'
      |            ELSE 'keep' END AS verdict
      |FROM base b LEFT JOIN percov p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- corpus_token_budget
  /** Token-BUDGET selection: fill a fixed training budget (10k tokens)
    * with the highest-quality documents — "give me the best B tokens",
    * the allocation step after scoring and before packing. Quality is
    * an integer unique-word ratio (nuw·65536 DIV nw — no float ranks);
    * selection keeps docs in (quality DESC, doc_id) order while the
    * running token total stays within budget.
    *
    * Scale: a global prefix SUM over a data-scaled order is the same
    * banned single-reducer shape as a global rank, so this is the
    * ExactRank cascade applied to a WEIGHTED prefix (runningSum): quality
    * maps to 64 order-preserving buckets by STATIC integer arithmetic
    * (q16's range is closed — no range-probe job), the per-bucket token
    * totals make a 64-row histogram whose offset windows run above the
    * aggregate, and the within-bucket cumulative sum + bucket offset is
    * the exact global prefix. Docs sharing a q16 cannot straddle
    * buckets, and (q16, doc_id) totally orders, so the cut is
    * bit-identical to the oracle's global window. */
  def corpusTokenBudget(spark: SparkSession, dir: String): DataFrame =
    corpusTokenBudgetFrom(Tables.documents(spark, dir).select(col("doc_id"),
      expr("CAST(size(array_distinct(split(text, ' '))) * CAST(65536 AS BIGINT)" +
        " DIV size(split(text, ' ')) AS BIGINT)").as("q16"),
      Text.nBpeTokens(col("text")).cast("long").as("n_tokens")))

  /** corpus_token_budget_staged: the same selection off the staged
    * per-doc signal table (see textPackFfdStaged — kills the re-paid
    * tokenize+distinct floor that dominated the sf100 reading); same
    * oracle verbatim. */
  def corpusTokenBudgetStaged(spark: SparkSession, dir: String): DataFrame =
    corpusTokenBudgetFrom(stagedDocSignals(spark, dir)
      .select(col("doc_id"), col("q16"), col("n_tokens")))

  private[graft] def corpusTokenBudgetFrom(base: DataFrame): DataFrame = {
    val budget = 10000L
    val bucketed = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      base.withColumn("bkt",
        expr("CAST((CAST(65536 AS BIGINT) - q16) * 64 DIV CAST(65537 AS BIGINT) AS BIGINT)")))
    ExactRank.runningSum(bucketed, Nil, "bkt", Seq(col("q16").desc, col("doc_id")),
        col("n_tokens"))
      .withColumnRenamed("cum", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("q16"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("q16").desc, col("doc_id"))
  }

  val corpusTokenBudgetSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(list_distinct(string_split(text, ' '))) * 65536
      |              // len(string_split(text, ' ')) AS BIGINT) AS q16,
      |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
      |              AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(sum(n_tokens) OVER (ORDER BY q16 DESC, doc_id
      |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, q16, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= 10000
      |ORDER BY q16 DESC, doc_id""".stripMargin

  // ------------------------------------------------------- corpus_dup_trim
  /** The ACTION companion to corpus_dup_spans: emit each document with
    * its duplicated spans REMOVED — kept token count + md5 of the
    * trimmed text, the manifest a span-level dedup pass writes before
    * re-tokenizing (Lee et al. drop the duplicated substring occurrences,
    * not whole docs). Clean docs pass through (n_kept = n_tokens,
    * trimmed hash = hash of the full word join); fully-duplicated docs
    * trim to the empty string.
    *
    * Scale: shares corpus_dup_spans' candidate shape (gram aggregate +
    * position semi-join — linear, never pairwise); the covered-position
    * set expands dup grams ×8 then dedups (output-bounded), and the
    * per-doc mask is one filter lambda over the doc's own words —
    * O(len·|cov|) per doc, bounded by document length like every
    * per-doc kernel here. */
  def corpusDupTrim(spark: SparkSession, dir: String): DataFrame =
    corpusDupTrimFrom(Tables.documents(spark, dir))

  private[graft] def corpusDupTrimFrom(docs: DataFrame): DataFrame = {
    val ws = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      docs.select(col("doc_id"), Text.words(col("text")).as("ws"),
        Text.shingleHashes16(col("text"), 8).as("hs")))
    val grams = ws.select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val dup = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("h"))
    val covArr = grams.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 7)).as("tp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tp"))).as("cov"))
    ws.join(covArr, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        expr("filter(ws, (w, i) -> cov IS NULL OR NOT array_contains(cov, i))")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("trimmed_md5"))
      .orderBy(col("doc_id"))
  }

  val corpusDupTrimSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g0 AS (SELECT doc_id,
      |         [substr(md5(words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4]||' '||
      |              words[i+5]||' '||words[i+6]||' '||words[i+7]||' '||words[i+8]), 1, 16)
      |          for i in range(0, greatest(len(words)-7, 0))] AS hs
      |       FROM w),
      |g AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h FROM g0),
      |d AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      |dp AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
      |cov AS (SELECT DISTINCT doc_id, pos + i AS tp FROM dp, range(0, 8) t(i)),
      |covl AS (SELECT doc_id, list_sort(list(tp)) AS cov FROM cov GROUP BY doc_id),
      |k AS (SELECT w.doc_id, CAST(len(w.words) AS BIGINT) AS n_tokens,
      |        [w.words[i+1] for i in range(0, len(w.words))
      |         if covl.cov IS NULL OR NOT list_contains(covl.cov, i)] AS kept
      |      FROM w LEFT JOIN covl USING (doc_id))
      |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
      |       md5(coalesce(array_to_string(kept, ' '), '')) AS trimmed_md5
      |FROM k ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- corpus_dsir_weights
  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS'23): score every RAW
    * document by how target-like its hashed unigram features are —
    * logw(doc) = Σ_w [ln p̂_target(b(w)) − ln p̂_raw(b(w))] over the
    * doc's word occurrences, where b(w) hashes words into 256 buckets
    * (md5-prefix, engine-portable) and both distributions are
    * Laplace-smoothed bucket frequencies. High logw = resample-up for
    * target-matched pretraining; pairs with corpus_mix / corpus_domain_kl.
    * The target split reuses the decontaminate stand-in (doc_id%20==0 =
    * "target" suite, rest = raw pool).
    *
    * Scale shape: ONE fact-sized shuffle — the (bucket) count aggregate,
    * map-side combined down to ≤256 groups — then the 256-row
    * log-ratio table BROADCASTS back onto the exploded word stream
    * (map-only probe; the bucket table is fixed-size by construction,
    * NOT data-scaled — contrast the size-gated eval broadcasts above).
    * The per-doc Σ is the sorted-fold discipline (collect (pos, lr)
    * structs, sort, sequential fold ≙ DuckDB list_reduce) so the float
    * sum is bit-identical cross-engine; ln() arguments are built from
    * identical integer counts with identical division order. */
  def corpusDsirWeights(spark: SparkSession, dir: String): DataFrame =
    corpusDsirWeightsFrom(Tables.documents(spark, dir))

  private[graft] def corpusDsirWeightsFrom(docs: DataFrame): DataFrame = {
    val isTarget = col("doc_id") % 20 === 0
    val ex = docs.select(col("doc_id"),
        posexplode(Text.words(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), substring(md5(col("w")), 1, 2).as("b"))
    // bs feeds BOTH the totals row and the log-ratio projection — staged
    // once (the shuffle-ending aggregate materializes a single time; the
    // r6 derivation-staging discipline).
    val bs = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      ex.groupBy(col("b")).agg(
        sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
        sum(when(isTarget, 0L).otherwise(1L)).as("cr")))
    val tot = bs.agg(sum(col("ct")).as("t"), sum(col("cr")).as("r"))
    val lr = bs.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("t") + lit(256))) -
          log((col("cr") + 1).cast("double") / (col("r") + lit(256)))).as("lr"))
    ex.filter(!isTarget)
      .join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        aggregate(
          sort_array(collect_list(struct(col("pos"), col("lr")))),
          lit(0.0), (acc, x) => acc + x.getField("lr")).as("s"))
      .select(col("doc_id"), col("n_feats"),
        (round(col("s"), 4) + 0.0).as("logw"))
      .orderBy(col("doc_id"))
  }

  val corpusDsirWeightsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |e AS (SELECT doc_id, u.pos AS pos, substr(md5(u.w), 1, 2) AS b
      |      FROM w, UNNEST(list_transform(range(1, len(ws)+1),
      |           i -> {'pos': i, 'w': ws[i]})) AS t(u)),
      |bs AS (SELECT b, sum(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END) AS ct,
      |              sum(CASE WHEN doc_id % 20 <> 0 THEN 1 ELSE 0 END) AS cr
      |       FROM e GROUP BY b),
      |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM bs),
      |lr AS (SELECT b, ln(CAST(ct + 1 AS DOUBLE) / (t + 256)) -
      |                 ln(CAST(cr + 1 AS DOUBLE) / (r + 256)) AS lr
      |       FROM bs CROSS JOIN tot),
      |d AS (SELECT e.doc_id, e.pos, lr.lr FROM e JOIN lr USING (b)
      |      WHERE e.doc_id % 20 <> 0),
      |agg AS (SELECT doc_id, count(*) AS n_feats,
      |               list_reduce(list_transform(
      |                 list_sort(list(struct_pack(pos := pos, lr := lr))), x -> x.lr),
      |                 (a, x) -> a + x) AS s
      |        FROM d GROUP BY doc_id)
      |SELECT doc_id, n_feats, CAST(round(s, 4) AS DOUBLE) + 0.0 AS logw
      |FROM agg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus_pipeline_funnel
  /** End-to-end curation FUNNEL report: document and token counts after
    * each pipeline stage — raw → exact dedup (md5 keeper) → near-dedup
    * (banded ≥0.9-Jaccard partners dropped) → quality gate — the
    * one-page summary every data team publishes with a corpus release
    * ("we kept X% of docs / Y% of tokens"). Composes the registered
    * dedup_exact, dedup_ngram_jaccard, and corpus_quality_gate
    * semantics; the mirror embeds the SHARED ngram_dups CTE chain and
    * the full quality-gate oracle as a subquery, so the funnel can
    * never disagree with the stage queries it summarizes.
    *
    * Scale: the (doc, hash, tokens) frame stages once; each stage is a
    * semi/anti join narrowing the previous stage's staged frame; the
    * expensive member (the near-dup candidate generator) is the
    * registered banded pipeline, bucket-keyed as always. */
  def corpusPipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val base = stageBarrier(Tables.documents(spark, dir).select(col("doc_id"),
      md5(col("text")).as("h"), Text.nBpeTokens(col("text")).cast("long").as("nt")))
    val keepersExact = base.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s1 = stageBarrier(base.join(keepersExact, Seq("doc_id"), "left_semi"))
    val dupIds = Dedup.dedupNgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.9)
      .select(col("id_b").as("doc_id")).distinct()
    val s2 = stageBarrier(s1.join(dupIds, Seq("doc_id"), "left_anti"))
    val qualityKeep = TextAnalysis.corpusQualityGate(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    val s3 = s2.join(qualityKeep, Seq("doc_id"), "left_semi")
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val n0 = base.agg(count(lit(1)).as("n0"))
    stage("0_raw", base)
      .unionAll(stage("1_exact_dedup", s1))
      .unionAll(stage("2_near_dedup", s2))
      .unionAll(stage("3_quality", s3))
      .crossJoin(broadcast(n0))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        (round(col("n_docs").cast("double") / col("n0").cast("double"), 4) + 0.0)
          .as("retained"))
      .orderBy(col("stage"))
  }

  lazy val corpusPipelineFunnelSql: String =
    s"""WITH fb AS (SELECT doc_id, md5(text) AS h,
       |        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS nt
       |      FROM documents),
       |ek AS (SELECT min(doc_id) AS doc_id FROM fb GROUP BY h),
       |s1 AS (SELECT fb.* FROM fb JOIN ek USING (doc_id)),
       |${Dedup.ngramDupsCtes},
       |s2 AS (SELECT s1.* FROM s1
       |       WHERE NOT EXISTS (SELECT 1 FROM ngram_dups d WHERE d.doc_id = s1.doc_id)),
       |qk AS (SELECT doc_id FROM (${graft.operators.TextAnalysis.corpusQualityGateSql}) q
       |       WHERE keep),
       |s3 AS (SELECT s2.* FROM s2 JOIN qk USING (doc_id)),
       |nraw AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM fb),
       |st AS (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens FROM fb
       |  UNION ALL SELECT '1_exact_dedup', count(*), CAST(sum(nt) AS BIGINT) FROM s1
       |  UNION ALL SELECT '2_near_dedup', count(*), CAST(sum(nt) AS BIGINT) FROM s2
       |  UNION ALL SELECT '3_quality', count(*), CAST(sum(nt) AS BIGINT) FROM s3)
       |SELECT stage, n_docs, n_tokens,
       |       round(CAST(n_docs AS DOUBLE) / CAST(nraw.n0 AS DOUBLE), 4) + 0.0 AS retained
       |FROM st, nraw ORDER BY stage""".stripMargin

  // ------------------------------------------- corpus_pipeline_funnel_staged
  /** Staged per-doc curation FLAGS: the funnel's three stage decisions
    * (exact-dedup keeper, ≥0.9-Jaccard near-dup partner, quality-gate
    * keep) plus the token count, baked once per ingest — the production
    * shape for the release report, which is re-published after every
    * threshold retune while the underlying decisions are unchanged. The
    * in-query funnel re-pays the md5 + tokenizer kernels AND the full
    * near-dup candidate pipeline per run (25.4 s at sf10, ~all of it
    * this re-derivation); off the staged flags the report is one
    * conditional-sum aggregate over 5 integer columns. Flags derive
    * from the SAME registered pipelines the in-query funnel composes
    * (dedup_ngram_jaccard, corpus_quality_gate), so both faces share
    * corpusPipelineFunnelSql verbatim — the staging must change
    * nothing (TrainPrepSpec pins staged == in-query). */
  private[graft] def stagedPipelineFlags(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staged.table(spark, "pipeflags", dir) {
      val base = Tables.documents(spark, dir).select(col("doc_id"),
        md5(col("text")).as("h"), Text.nBpeTokens(col("text")).cast("long").as("nt"))
      val keepersExact = base.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(1L).as("ek"))
      val dupIds = Dedup.dedupNgramJaccard(spark, dir)
        .filter(col("jaccard") >= 0.9)
        .select(col("id_b").as("doc_id")).distinct()
        .select(col("doc_id"), lit(1L).as("nd"))
      val qualityKeep = TextAnalysis.corpusQualityGate(spark, dir)
        .filter(col("keep")).select(col("doc_id"), lit(1L).as("qk"))
      base.join(keepersExact, Seq("doc_id"), "left")
        .join(dupIds, Seq("doc_id"), "left")
        .join(qualityKeep, Seq("doc_id"), "left")
        .select(col("doc_id"), col("nt"),
          coalesce(col("ek"), lit(0L)).as("ek"),
          coalesce(col("nd"), lit(0L)).as("nd"),
          coalesce(col("qk"), lit(0L)).as("qk"))
    }

  /** The funnel report off the staged flag table: stage membership is
    * cumulative by construction (s1 = keeper, s2 = s1 ∧ ¬near-dup,
    * s3 = s2 ∧ quality), so all four rows fold out of ONE map-side-
    * combined aggregate — no joins, no text, no re-derivation. Same
    * output as corpus_pipeline_funnel (shared oracle SQL). */
  def corpusPipelineFunnelStaged(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val in1 = col("ek") === 1L
    val in2 = in1 && col("nd") === 0L
    val in3 = in2 && col("qk") === 1L
    // empty-stage parity with the in-query face: counts via SUM of 0/1
    // stay 0, token sums with no `otherwise` stay NULL — exactly what
    // count()/sum() over an empty filtered frame produce there
    val a = stageBarrier(stagedPipelineFlags(spark, dir).agg(
      count(lit(1)).as("n0"), sum(col("nt")).as("t0"),
      sum(when(in1, 1L).otherwise(0L)).as("n1"), sum(when(in1, col("nt"))).as("t1"),
      sum(when(in2, 1L).otherwise(0L)).as("n2"), sum(when(in2, col("nt"))).as("t2"),
      sum(when(in3, 1L).otherwise(0L)).as("n3"), sum(when(in3, col("nt"))).as("t3")))
    def leg(name: String, n: String, t: String) =
      a.select(lit(name).as("stage"), col(n).as("n_docs"), col(t).as("n_tokens"),
        (round(col(n).cast("double") / col("n0").cast("double"), 4) + 0.0)
          .as("retained"))
    leg("0_raw", "n0", "t0")
      .unionAll(leg("1_exact_dedup", "n1", "t1"))
      .unionAll(leg("2_near_dedup", "n2", "t2"))
      .unionAll(leg("3_quality", "n3", "t3"))
      .orderBy(col("stage"))
  }

  // -------------------------------------------------- corpus_source_report
  /** Per-SOURCE corpus scorecard — the review a data team runs before
    * setting mixture weights (corpus_mix consumes those weights; this
    * is where they come from): volume (docs, BPE-ish tokens), quality
    * (mean integer unique-word ratio, the token_budget q16), redundancy
    * (share of docs whose exact text appears elsewhere in the CORPUS —
    * cross-source copies count against both sources), and language
    * spread.
    *
    * Scale: the per-doc signal frame computes once (staged — the md5 +
    * tokenizer kernels are the expensive map work) and feeds the
    * dup-hash aggregate, the semi-join, and the source rollup; shuffles
    * are the 16-byte hash key and the |sources| rollup. Quality mean is
    * Σq16/(n·65536) — exact integer sums, one boundary division each
    * for the two reported ratios. */
  def corpusSourceReport(spark: SparkSession, dir: String): DataFrame = {
    val base = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("h"),
        expr("CAST(size(array_distinct(split(text, ' '))) * CAST(65536 AS BIGINT)" +
          " DIV size(split(text, ' ')) AS BIGINT)").as("q16"),
        Text.nBpeTokens(col("text")).cast("long").as("n_tokens")))
    val dupH = base.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val dups = base.join(dupH, Seq("h"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("q16")).as("sq"),
        countDistinct(col("lang")).as("n_langs"))
      .join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_langs"),
        (round(col("sq").cast("double")
          / (col("n_docs") * 65536L).cast("double"), 4) + 0.0).as("avg_quality"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (round(coalesce(col("n_dup"), lit(0L)).cast("double")
          / col("n_docs").cast("double"), 4) + 0.0).as("dup_share"))
      .orderBy(col("source"))
  }

  val corpusSourceReportSql: String =
    """WITH b AS (
      |  SELECT doc_id, source, lang, md5(text) AS h,
      |         CAST(len(list_distinct(string_split(text, ' '))) * 65536
      |              // len(string_split(text, ' ')) AS BIGINT) AS q16,
      |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
      |              AS BIGINT) AS n_tokens
      |  FROM documents),
      |dh AS (SELECT h FROM b GROUP BY h HAVING count(*) > 1),
      |dp AS (SELECT source, count(*) AS n_dup
      |       FROM b WHERE EXISTS (SELECT 1 FROM dh WHERE dh.h = b.h)
      |       GROUP BY source),
      |ag AS (SELECT source, count(*) AS n_docs,
      |              CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |              CAST(sum(q16) AS BIGINT) AS sq,
      |              count(DISTINCT lang) AS n_langs
      |       FROM b GROUP BY source)
      |SELECT ag.source, ag.n_docs, ag.total_tokens, ag.n_langs,
      |       round(CAST(sq AS DOUBLE) / CAST(n_docs * 65536 AS DOUBLE), 4) + 0.0 AS avg_quality,
      |       coalesce(dp.n_dup, 0) AS n_dup,
      |       round(CAST(coalesce(dp.n_dup, 0) AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) + 0.0 AS dup_share
      |FROM ag LEFT JOIN dp USING (source)
      |ORDER BY ag.source""".stripMargin

  // -------------------------------------------------- corpus_ngram_novelty
  /** Per-doc NOVELTY contribution: the fraction of a doc's distinct
    * word-5-grams whose FIRST corpus occurrence (lowest doc_id —
    * ingestion order) is this doc. The curation read next to the dedup
    * family: dup_spans asks "how much of this doc is copied", novelty
    * asks the forward question — "how much does this doc ADD that the
    * corpus hasn't seen" — the signal for dropping late crawl snapshots
    * and ordering training mixtures by marginal information (the
    * D4/dedup-then-diversify argument, Tirumala et al. '23).
    *
    * Scale shape: first-introduction is min(doc_id) per gram — an
    * order-independent aggregate computed as a window over the GRAM
    * partition (each partition = one gram's occurrence list, bounded by
    * its dup count; one shuffle on the gram hash, no gram-stream
    * self-join), then one doc-keyed rollup. Novelty divides identical
    * integers once at the output boundary. */
  def corpusNgramNovelty(spark: SparkSession, dir: String): DataFrame =
    corpusNgramNoveltyFrom(Tables.documents(spark, dir))

  private[graft] def corpusNgramNoveltyFrom(docs: DataFrame): DataFrame = {
    val g = docs.select(col("doc_id"), explode(Text.shingleHashes16(col("text"), 5)).as("h"))
      .distinct()
    val w = Window.partitionBy(col("h"))
    g.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6) + 0.0)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val corpusNgramNoveltySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g0 AS (SELECT doc_id,
      |        [substr(md5(words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4]||' '||
      |             words[i+5]), 1, 16)
      |         for i in range(0, greatest(len(words)-4, 0))] AS hs
      |       FROM w),
      |g AS (SELECT DISTINCT doc_id, h
      |      FROM (SELECT doc_id, unnest(hs) AS h FROM g0)),
      |f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS first_doc FROM g)
      |SELECT doc_id, count(*) AS n_grams,
      |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) + 0.0 AS novelty
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- corpus_length_hist
  /** Token-length DISTRIBUTION per language: docs bucketed by
    * floor(log2(bpe_tokens)) with per-bucket doc count, within-language
    * share, and token mass — the length profile a pretraining pipeline
    * reads before choosing its packing cap (text_pack_tokens' 2048) and
    * for spotting truncation cliffs; corpus_source_report publishes
    * per-source TOTALS, this publishes the SHAPE.
    *
    * Exactness: the bucket is integer-exact in both engines WITHOUT
    * evaluating a transcendental — floor(log2(n)) = len(binary(n)) − 1
    * (Spark `bin()`, DuckDB `format('{:b}')`), the bucket floor is an
    * integer shift, the share one division of exact integers; empty
    * docs clamp to n = 1 (bucket 0).
    *
    * Scale: map-only tokenize + ONE map-side-combined (lang, bucket)
    * aggregate (≤|langs|·~20 rows), STAGED for its two consumers
    * (output + the per-lang totals rollup — the trade_flow_matrix
    * aggregate-over-aggregate shape, broadcast back). */
  def corpusLengthHist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val n = greatest(Text.nBpeTokens(col("text")).cast("long"), lit(1L))
    val agg = stageBarrier(Tables.documents(spark, dir)
      .select(col("lang"), n.as("n_tok"))
      .withColumn("bucket", (length(bin(col("n_tok"))) - 1).cast("int"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens")))
    val tot = agg.groupBy(col("lang")).agg(sum(col("n_docs")).as("lang_docs"))
    agg.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("bucket"),
        expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)").as("bucket_lo"),
        col("n_docs"),
        (round(col("n_docs").cast("double") / col("lang_docs").cast("double"), 6)
          + 0.0).as("share"),
        col("sum_tokens"))
      .orderBy(col("lang"), col("bucket"))
  }

  val corpusLengthHistSql: String =
    """WITH b AS (
      |  SELECT lang,
      |    greatest(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')), 1)
      |      AS n_tok
      |  FROM documents),
      |k AS (SELECT lang, n_tok,
      |        CAST(length(format('{:b}', n_tok)) - 1 AS INT) AS bucket FROM b),
      |ag AS (SELECT lang, bucket, count(*) AS n_docs,
      |        CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |       FROM k GROUP BY lang, bucket),
      |tt AS (SELECT lang, sum(n_docs) AS lang_docs FROM ag GROUP BY lang)
      |SELECT ag.lang, bucket, CAST(1 AS BIGINT) << bucket AS bucket_lo, n_docs,
      |       round(CAST(n_docs AS DOUBLE)/CAST(lang_docs AS DOUBLE), 6) + 0.0 AS share,
      |       sum_tokens
      |FROM ag JOIN tt ON ag.lang = tt.lang
      |ORDER BY ag.lang, bucket""".stripMargin

  // ---------------------------------------------------- corpus_vocab_growth
  /** Vocabulary GROWTH curve (Heaps' law read): the corpus cut into 10
    * doc_id-order buckets, per bucket the doc count, the number of
    * words seen for the FIRST time, the cumulative vocabulary, and the
    * new-words-per-doc rate — "is this corpus still adding vocabulary
    * or saturating", the signal behind dedup aggressiveness and
    * how much more crawl is worth buying (corpus_ngram_novelty
    * attributes first-introduction per DOC; this publishes the curve).
    *
    * Exactness: a word's first appearance is min(doc_id) — an integer;
    * the bucket is exact integer division doc_id·10 div N (never a
    * float quotient — a boundary doc must bucket identically in both
    * engines); the rate is one division of exact integers.
    *
    * Scale: ONE vocab-keyed shuffle (word → min doc, map-side
    * combined) + a doc-count scan, both collapsing to ≤10 rows before
    * the running sum (a global window over a FIXED 10-row frame — the
    * orders_pareto post-aggregate exception, never data-scaled). */
  def corpusVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nd = docs.agg((max(col("doc_id")) + 1).as("nd"))
    val db = docs.select(col("doc_id")).crossJoin(broadcast(nd))
      .select(expr("CAST(doc_id * 10 div nd AS INT)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val fw = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
    val wb = fw.crossJoin(broadcast(nd))
      .select(expr("CAST(first_doc * 10 div nd AS INT)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_words"))
    val w10 = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    db.join(wb, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
      .withColumn("vocab_cum", sum(col("new_words")).over(w10))
      .withColumn("words_per_doc",
        round(col("new_words").cast("double") / col("n_docs").cast("double"), 4)
          + 0.0)
      .orderBy(col("bucket"))
  }

  val corpusVocabGrowthSql: String =
    """WITH nd AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |fw AS (SELECT word, min(doc_id) AS first_doc FROM wd GROUP BY word),
      |db AS (SELECT CAST(doc_id * 10 // (SELECT n FROM nd) AS INT) AS bucket,
      |              count(*) AS n_docs
      |       FROM documents GROUP BY bucket),
      |wb AS (SELECT CAST(first_doc * 10 // (SELECT n FROM nd) AS INT) AS bucket,
      |              count(*) AS new_words
      |       FROM fw GROUP BY bucket)
      |SELECT db.bucket, n_docs,
      |       CAST(coalesce(new_words, 0) AS BIGINT) AS new_words,
      |       CAST(sum(coalesce(new_words, 0)) OVER (ORDER BY db.bucket
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
      |       round(CAST(coalesce(new_words, 0) AS DOUBLE)
      |             / CAST(n_docs AS DOUBLE), 4) + 0.0 AS words_per_doc
      |FROM db LEFT JOIN wb ON db.bucket = wb.bucket
      |ORDER BY db.bucket""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_vocab_growth" -> (corpusVocabGrowth _),
    "corpus_length_hist" -> (corpusLengthHist _),
    "corpus_pipeline_funnel" -> (corpusPipelineFunnel _),
    "corpus_pipeline_funnel_staged" -> (corpusPipelineFunnelStaged _),
    "corpus_source_report" -> (corpusSourceReport _),
    "corpus_ngram_novelty" -> (corpusNgramNovelty _),
    "corpus_dup_spans" -> (corpusDupSpans _),
    "corpus_dup_spans_staged" -> (corpusDupSpansStaged _),
    "corpus_dup_trim" -> (corpusDupTrim _),
    "text_pack_ffd_staged" -> (textPackFfdStaged _),
    "corpus_token_budget_staged" -> (corpusTokenBudgetStaged _),
    "corpus_token_budget" -> (corpusTokenBudget _),
    "corpus_dsir_weights" -> (corpusDsirWeights _),
    "corpus_sample_weighted" -> (corpusSampleWeighted _),
    "corpus_curate" -> (corpusCurate _),
    "corpus_decontaminate" -> (corpusDecontaminate _),
    "corpus_ngram_coverage" -> (corpusNgramCoverage _),
    "corpus_sample_stratified" -> (corpusSampleStratified _),
    "corpus_sample_fixed" -> (corpusSampleFixed _),
    "corpus_sample_per_group" -> (corpusSamplePerGroup _),
    "corpus_mix" -> (corpusMix _),
    "corpus_train_split" -> (corpusTrainSplit _),
    "text_pack_tokens" -> (textPackTokens _),
    "text_pack_ffd" -> (textPackFfd _),
    "text_ngram_freq" -> (textNgramFreq _),
    "text_pii_scrub" -> (textPiiScrub _),
    "embed_quantize" -> (embedQuantize _),
    "embed_matryoshka" -> (embedMatryoshka _)
  )

  def oracles: Map[String, String] = Map(
    "corpus_pipeline_funnel" -> corpusPipelineFunnelSql,
    // the staged twin reports off the baked per-doc flags — the oracle
    // is the in-query twin's SQL verbatim (the staging changes nothing)
    "corpus_pipeline_funnel_staged" -> corpusPipelineFunnelSql,
    "corpus_source_report" -> corpusSourceReportSql,
    "corpus_length_hist" -> corpusLengthHistSql,
    "corpus_vocab_growth" -> corpusVocabGrowthSql,
    "corpus_ngram_novelty" -> corpusNgramNoveltySql,
    "corpus_dup_spans" -> corpusDupSpansSql,
    // the staged twin answers the same question from the staged gram
    // table — the oracle is the in-query twin's SQL verbatim
    "corpus_dup_spans_staged" -> corpusDupSpansSql,
    "corpus_dup_trim" -> corpusDupTrimSql,
    // staged twins share their in-query oracles verbatim (the warehouse
    // fin_*_staged convention — the staging must change nothing)
    "text_pack_ffd_staged" -> textPackFfdSql,
    "corpus_token_budget_staged" -> corpusTokenBudgetSql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "corpus_dsir_weights" -> corpusDsirWeightsSql,
    "corpus_sample_weighted" -> corpusSampleWeightedSql,
    "corpus_curate" -> corpusCurateSql,
    "corpus_decontaminate" -> corpusDecontaminateSql,
    "corpus_ngram_coverage" -> corpusNgramCoverageSql,
    "corpus_sample_stratified" -> corpusSampleStratifiedSql,
    "corpus_sample_fixed" -> corpusSampleFixedSql,
    "corpus_sample_per_group" -> corpusSamplePerGroupSql,
    "corpus_mix" -> corpusMixSql,
    "corpus_train_split" -> corpusTrainSplitSql,
    "text_pack_tokens" -> textPackTokensSql,
    "text_pack_ffd" -> textPackFfdSql,
    "text_ngram_freq" -> textNgramFreqSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "embed_quantize" -> embedQuantizeSql,
    "embed_matryoshka" -> embedMatryoshkaSql
  )
}
