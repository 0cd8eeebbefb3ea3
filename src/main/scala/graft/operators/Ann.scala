package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Vectors
import graft.sources.Tables

/** Similarity search over the embeddings table (SURVEY.md §2E).
  *
  * ann_brute_topk is the exact baseline (and the recall yardstick): the
  * query set broadcasts against the corpus — O(|Q|·n), only acceptable
  * because |Q| is small. ann_lsh_topk is the scale path: random-
  * hyperplane sign buckets (6 tables x 3 planes) shrink candidates to
  * same-bucket vectors, so the join shuffles on (table, bucket) and the
  * work is O(n·avg-bucket) — no cross product of the corpus with itself.
  *
  * vec_stats aggregates in exact integer micro-units (round(x*1e6)):
  * distributed float summation is order-dependent, so double sums can't
  * hash-match an oracle; integer sums can, and the centroid norm folds
  * the per-position sums in position order on both engines.
  */
object Ann {

  private val K = 10
  private val NQueries = 20
  private val Tables_ = 6 // LSH tables
  private val Planes = 3 // floor: hyperplanes per table → 8 buckets/table
  private val BucketTarget = 512L // target vectors per (table, bucket)

  /** Data-sized plane count: max(floor, ceil(log2(n / target))) keeps
    * bucket size ~target as the corpus grows, so per-query candidate
    * work stays bounded instead of growing as n/2^floor. At spec/gate
    * scales this evaluates to the floor; the oracle's `pl` CTE mirrors
    * the same rule, so the value-for-value check holds at every scale. */
  def adaptivePlanes(rows: Long): Int = {
    val needed = math.ceil(
      math.log(math.max(1L, rows).toDouble / BucketTarget) / math.log(2.0)).toInt
    math.max(Planes, needed)
  }

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  /** The query set of every driver-held search: the first NQueries
    * vectors of corpus `e` (vec_id, v) as (q_id, qv). */
  private def querySet(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("q_id"), col("v").as("qv")).filter(col("q_id") < NQueries)

  /** The same query set collected (one NQueries-row collect) for the
    * driver-side probe ranking, residual terms and lookup tables. */
  private def queryRows(e: DataFrame): Seq[(Long, Array[Double])] =
    e.filter(col("vec_id") < NQueries).select(col("vec_id"), col("v")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Deterministic ±1 hyperplane component for (table, plane, dim).
    * Shared with Dedup's embedding blocker, whose DuckDB oracle bakes
    * these same signs into its SQL — one source, no drift. */
  private[operators] def planeSign(t: Int, p: Int, d: Int): Int =
    if ((((t * 31 + p) * 131 + d) * 2654435761L % 97) % 2 == 0) 1 else -1

  /** Sign-bucket of vector `v` in table `t`: one bit per hyperplane.
    * `planes` is the scale knob — 2^planes buckets; pick ~log2(n/B) for
    * a target bucket size B as the corpus grows. */
  def hyperplaneBucket(v: Column, t: Int, planes: Int = Planes): Column =
    (0 until planes).map { p =>
      val plane = array((0 until 64).map(d => lit(planeSign(t, p, d).toDouble)): _*)
      when(Vectors.dot(v, plane) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** RAW projection of `v` onto hyperplane (t, p) — the continuous
    * companion of hyperplaneBucket's sign bit: identical vectors tie
    * EXACTLY and distinct vectors essentially never do, so (bucket,
    * projection, id) is a total order under which every exact-replica
    * run is contiguous (Dedup.celledChainPairs' sort key). The dot is
    * the sequential double fold every oracle mirrors. */
  def hyperplaneProj(v: Column, t: Int, p: Int): Column =
    Vectors.dot(v, array((0 until 64).map(d => lit(planeSign(t, p, d).toDouble)): _*))

  // --------------------------------------------------------- ann_brute_topk
  /** Exact cosine top-k for the first 20 vectors as queries, tie-broken
    * by neighbor id. The oracle mirrors the identical double fold. */
  def annBruteTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    bruteTopkFrom(e, querySet(e))
  }

  /** Exact cosine top-k of `queries` (q_id, qv) against corpus `e`
    * (vec_id, v) — the yardstick and the degenerate-corpus fallback. */
  private def bruteTopkFrom(e: DataFrame, queries: DataFrame): DataFrame =
    topK(broadcast(queries).join(e, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Vectors.cosine(col("qv"), col("v")).as("cos")))

  /** The per-query top-K every search path ends in: `cands` carries
    * (q_id, n_id, cos) and whatever `extra` reads; each query keeps its
    * K best by (cos DESC, n_id), numbered 1..K as `rank`. */
  private def topK(cands: DataFrame, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(Seq(col("q_id"), col("rank"), col("n_id"), cosSim(col("cos"))) ++ extra: _*)
      .orderBy(col("q_id"), col("rank"))
  }

  /** A cosine as the output's `cos_sim`: rounded to 4 places, -0.0 → 0.0. */
  private def cosSim(cos: Column): Column = (round(cos, 4) + 0.0).as("cos_sim")

  /** The exact two-level top-C shortlist of a scored candidate frame
    * (q_id, vec_id, `score`): each query keeps its `c` best rows by
    * (`score`, vec_id), best = highest unless `ascending`. Level 1 is a
    * window within (q_id, vec_id % 32), so each task holds ~1/32 of the
    * corpus; level 2 is the true per-query window over ≤ 32·c
    * survivors. Exact by the corpus_sample_per_group argument: a
    * query's c best rows are each among their own shard's c best, so
    * level 1 never evicts a global survivor. (A single q_id window puts
    * the ENTIRE corpus in every query's partition: one task per query
    * at any scale.) */
  private def shortlist(scored: DataFrame, score: String, c: Int,
      ascending: Boolean = false): DataFrame = {
    val order = Seq(if (ascending) col(score) else col(score).desc, col("vec_id"))
    val wShard = Window.partitionBy(col("q_id"), pmod(col("vec_id"), lit(32L))).orderBy(order: _*)
    val wQuery = Window.partitionBy(col("q_id")).orderBy(order: _*)
    scored
      .withColumn("cs", row_number().over(wShard)).filter(col("cs") <= c)
      .withColumn("crank", row_number().over(wQuery)).filter(col("crank") <= c)
      .select(col("q_id"), col("vec_id"), col(score))
  }

  /** The exact re-rank every candidate shortlist ends in: each
    * (q_id, vec_id) candidate fetches its original vector from corpus
    * `e` (vec_id, v) and its query's vector from the broadcast query
    * set `qs` (q_id, qv), scores the exact cosine (scale-invariant, so
    * the output rounds exactly like ann_brute_topk's), and keeps the
    * top-K. The candidates' other columns ride along for `extra`. */
  private def rerank(cand: DataFrame, e: DataFrame, qs: DataFrame, extra: Column*): DataFrame = {
    val carried = cand.columns.toSeq.filterNot(Set("q_id", "vec_id")).map(col)
    topK(cand.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(qs), Seq("q_id"))
      .select(Seq(col("q_id"), col("vec_id").as("n_id"),
        Vectors.cosine(col("qv"), col("v")).as("cos")) ++ carried: _*), extra: _*)
  }

  private val cosFoldSql =
    """list_reduce([qv[i]*v[i] for i in range(1, len(qv)+1)], (x, y) -> x + y)
      |    / (sqrt(list_reduce([qv[i]*qv[i] for i in range(1, len(qv)+1)], (x, y) -> x + y))
      |     * sqrt(list_reduce([v[i]*v[i] for i in range(1, len(v)+1)], (x, y) -> x + y)))""".stripMargin

  val annBruteTopkSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |p AS (SELECT q_id, vec_id AS n_id,
       |  $cosFoldSql AS cos
       |  FROM q JOIN e ON vec_id <> q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM p)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ----------------------------------------------------------- ann_lsh_topk
  /** Hyperplane-LSH top-k: queries meet only same-bucket vectors (unioned
    * over 6 tables, deduped), exact cosine re-ranks the candidates.
    * The buckets are xxhash-free, so annLshTopkSql recomputes them in
    * DuckDB and dev/check.py compares the rows value for value; AnnSpec
    * also bounds recall@10 against the brute-force baseline. */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // one scalar job to size the index (same pattern as Dedup.blockPlanes)
    val planes = adaptivePlanes(e.count())
    val bucketed = e.select(col("vec_id"), col("v"),
      explode(array((0 until Tables_).map(t =>
        struct(lit(t).as("t"), hyperplaneBucket(col("v"), t, planes).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.t"), col("tb.bucket"))
    val q = bucketed
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("t"), col("bucket"))
      .filter(col("q_id") < NQueries)
    // cosine map-side in the join projection: a candidate costs <=6 fused
    // dot products, and only scalars cross the dedup shuffle (carrying
    // both 64-dim vectors through dropDuplicates is the shape that sent
    // dedup_embedding superlinear at sf1)
    val cands = q.join(bucketed, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Vectors.cosine(col("qv"), col("v")).as("cos"))
      .dropDuplicates("q_id", "n_id")
    topK(cands)
  }

  /** ±1 plane components of LSH table `t`, plane `p`, as a DuckDB list
    * literal — generated from the same planeSign as the Spark buckets
    * (the Dedup oracle's pattern), so the two engines cannot drift. */
  private def lshPlaneListSql(t: Int, p: Int): String =
    (0 until 64).map(d => s"${planeSign(t, p, d)}.0").mkString("[", ", ", "]")

  /** Bucket of `v` in table `t` with the DYNAMIC plane count `np` (the
    * `pl` CTE mirrors adaptivePlanes in SQL): the bit-sum unrolls to 12
    * planes (512·2¹² ≈ 2M vectors before the cap binds — far past any
    * oracle scale) and masks each bit with `p < np`, so the same SQL is
    * exact at every SF the gate runs, not just where planes sit at the
    * floor. Each dot is the identical-order sequential fold, so the
    * sign test agrees bit-for-bit with Spark. */
  private def lshBucketSqlDyn(t: Int): String =
    (0 until 12).map { p =>
      s"""(CASE WHEN $p < np AND list_reduce([v[i] * (${lshPlaneListSql(t, p)})[i]
         |  for i in range(1, 65)], (x, y) -> x + y) >= 0 THEN ${1 << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  /** DuckDB twin of annLshTopk — candidates = same bucket in ANY of the
    * 6 tables (the OR mirrors the Spark explode-join-dropDuplicates),
    * ranked by the RAW cosine fold with the n_id tie-break, rounded
    * only at the output boundary. */
  val annLshTopkSql: String = {
    val ors = (0 until Tables_).map(t => s"q.b$t = c.b$t").mkString(" OR ")
    val buckets = (0 until Tables_).map(t => s"${lshBucketSqlDyn(t)} AS b$t").mkString(",\n      |        ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pl AS (SELECT greatest($Planes, CAST(ceil(ln(greatest(1, (SELECT count(*) FROM e)) / $BucketTarget.0)
      |                / ln(2.0)) AS INT)) AS np),
      |bkt AS (SELECT vec_id, v,
      |        $buckets
      |        FROM e, pl),
      |cands AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |         list_reduce([q.v[i]*c.v[i] for i in range(1, len(q.v)+1)], (x, y) -> x + y)
      |         / (sqrt(list_reduce([q.v[i]*q.v[i] for i in range(1, len(q.v)+1)], (x, y) -> x + y))
      |          * sqrt(list_reduce([c.v[i]*c.v[i] for i in range(1, len(c.v)+1)], (x, y) -> x + y))) AS cos
      |  FROM bkt q JOIN bkt c
      |    ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id AND ($ors)),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |                    ORDER BY cos DESC, n_id) AS rank FROM cands)
      |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
      |FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin
  }

  // ----------------------------------------------------------- ann_ivf_topk
  private val IvfProbe = 4 // cells probed per query

  /** Hard ceiling on the IVF cell count. Every index-build driver
    * collect is bounded by it: coarse seeds ≤ ceil(MaxLists/c2) ≈ 64
    * rows, sub-seeds ≤ MaxLists rows, and the Lloyd partial-sum frame ≤
    * MaxLists×dim rows (~2 MB at dim 64) — CONSTANT in the corpus size,
    * so a 10⁹-vector build holds the same driver state as a 10⁴ one.
    * The trade is query-time scan cost, not recall: past the cap, cells
    * grow as n/MaxLists, so each probe re-ranks more exact candidates —
    * recall weakly INCREASES while probe cost grows linearly; deployers
    * who need flat probe cost at 10⁹ vectors shard the corpus and build
    * per-shard indexes (the standard IVF sharding story). Never binds
    * below n = 1M, so every registered corpus (and the sf1 sweep) is
    * unchanged. Interpolated into the SQL mirror — the shared-constant
    * drift rule. */
  private[graft] val MaxLists = 4096

  /** Data-sized cell count: ~64 vectors per cell on small corpora,
    * bounded by 4·sqrt(n) at scale so cell size grows as sqrt(n)/4
    * while the cell count keeps growing with the corpus, hard-capped at
    * MaxLists (driver-state bound above). Floor of 8 keeps the probe
    * fraction high enough for useful recall on tiny spec corpora. (The
    * r5 version capped nlist at 64 because assignment was a
    * greatest()-over-structs expression whose size grew with nlist — at
    * 100x data each probe degenerated toward a brute scan. That cap is
    * gone: assignment is the NearestCell / NearestSubCell kernels,
    * whose generated code is one call regardless of nlist.) */
  private[graft] def ivfLists(n: Long): Int =
    math.max(8L, math.min(MaxLists.toLong,
      math.min(n / 64L, 4L * math.sqrt(n.toDouble).toLong))).toInt

  /** Unit-normalize, so argmax dot == argmax cosine in the kernels and
    * the probe ranking; an all-zero vector stays zero (dot 0 with
    * everything — never wins, never NaNs). */
  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm == 0.0) v else v.map(_ / nrm)
  }

  /** The broadcast-shaped two-level index state + the celled corpus. */
  private[graft] case class IvfIndex(celled: DataFrame, coarse: Array[Array[Double]],
      refinedSub: Array[Array[Array[Double]]], maxSub: Int) {
    /** The flat cells as (cell = ci·maxSub + si, refined centroid) in
      * (ci, si) order: the one centroid table the probe ranking, the
      * residual kernels and the cell reports read. */
    val cells: Seq[(Int, Array[Double])] =
      for (ci <- refinedSub.indices; si <- refinedSub(ci).indices)
        yield (ci * maxSub + si, refinedSub(ci)(si))

    /** `cells` as a dense array indexed by cell (holes where a coarse
      * cell has fewer than maxSub sub-cells stay empty — `celled` never
      * assigns them): the broadcast state CellResidual subtracts against. */
    lazy val flat: Array[Array[Double]] = {
      val f = Array.fill(refinedSub.length * maxSub)(Array.empty[Double])
      cells.foreach { case (cell, c) => f(cell) = c }
      f
    }
  }

  /** Build the two-level IVF index over corpus `e` (vec_id, v): coarse
    * seeds → strided sub-seeds → one integer-exact Lloyd step → celled
    * corpus. None when the corpus is degenerate (<2 coarse seeds) — the
    * callers fall back to brute force. Runs bounded driver jobs
    * (O(√n·dim) collects) at construction. */
  private def buildIvfIndex(e: DataFrame, n: Long): Option[IvfIndex] = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.{NearestCell, NearestSubCell}

    val nlist = ivfLists(n)
    val c2 = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val c1 = math.ceil(nlist.toDouble / c2).toInt

    // level-1 seeds: every (n/C1)-th vector by id
    val strideC = math.max(1L, n / c1)
    val coarse: Array[Array[Double]] = e.filter(col("vec_id") % strideC === 0)
      .orderBy(col("vec_id")).limit(c1)
      .select(col("v")).collect().map(r => unit(r.getSeq[Double](0).toArray))
    if (coarse.length < 2) return None

    def coarseCol(v: Column): Column = kcol(NearestCell(kexp(v), coarse))
    def subCol(v: Column, c: Column, cents: Array[Array[Array[Double]]]): Column =
      kcol(NearestSubCell(kexp(v), kexp(c), cents))

    val withCoarse = e.select(col("vec_id"), col("v"), coarseCol(col("v")).as("c1"))

    // level-2 seeds: C2 evenly-strided vectors per coarse cell
    val wc = Window.partitionBy(col("c1")).orderBy(col("vec_id"))
    val sstride = greatest(lit(1L), ceil(col("cnt").cast("double") / c2).cast("long"))
    val seedRows = withCoarse
      .withColumn("rn", row_number().over(wc))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("c1"))))
      .filter(((col("rn") - 1) % sstride) === 0)
      .withColumn("k", row_number().over(wc))
      .filter(col("k") <= c2)
      .select(col("c1"), col("k"), col("v")).collect()
    val subSeeds: Array[Array[Array[Double]]] = {
      val byCell = seedRows.groupBy(_.getInt(0))
      Array.tabulate(c1) { ci =>
        val got = byCell.getOrElse(ci, Array.empty)
          .sortBy(_.getInt(1)).map(r => unit(r.getSeq[Double](2).toArray))
        // pad empty slots with the coarse seed: a duplicate centroid ties
        // and loses to the lowest index, so padding never attracts rows
        if (got.isEmpty) Array(coarse(ci))
        else got ++ Array.fill(c2 - got.length)(got(0))
      }
    }

    // one Lloyd step on the sub-level: exact integer micro-unit means
    // per (coarse, sub, pos); empty cells keep their seed
    val refinedSub: Array[Array[Array[Double]]] = {
      val sums = withCoarse.select(col("c1"),
          subCol(col("v"), col("c1"), subSeeds).as("s"),
          transform(col("v"), x => round(x * 1000000).cast("long")).as("vi"))
        .select(col("c1"), col("s"), posexplode(col("vi")).as(Seq("pos", "x")))
        .groupBy(col("c1"), col("s"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cn"))
        .collect()
      val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      Array.tabulate(c1) { ci =>
        subSeeds(ci).indices.map { si =>
          byCell.get((ci, si)) match {
            case Some(rows) =>
              val dim = rows.map(_.getInt(2)).max + 1
              val arr = new Array[Double](dim)
              rows.foreach(r => arr(r.getInt(2)) = r.getLong(3).toDouble / (r.getLong(4) * 1000000.0))
              unit(arr)
            case None => subSeeds(ci)(si)
          }
        }.toArray
      }
    }

    val maxSub = refinedSub.map(_.length).max
    val celled = withCoarse.select(col("vec_id"), col("v"),
      (col("c1") * maxSub + subCol(col("v"), col("c1"), refinedSub)).as("cell"))
    Some(IvfIndex(celled, coarse, refinedSub, maxSub))
  }

  /** The celled embeddings corpus (vec_id, v, cell) for operators that
    * reuse the IVF clustering as their blocking structure (SemDeDup's
    * k-means stand-in). Degenerate corpora (<2 coarse seeds ⇒ a handful
    * of rows) collapse to one cell — quadratic there is O(tiny²). */
  private[operators] def celledEmbeddings(spark: SparkSession, dir: String): DataFrame =
    celledEmbeddingsOf(emb(spark, dir))

  private[graft] def celledEmbeddingsOf(e: DataFrame): DataFrame =
    buildIvfIndex(e, e.count()) match {
      case Some(idx) => idx.celled
      case None => e.select(col("vec_id"), col("v"), lit(0).as("cell"))
    }

  /** The index-construction CTE chain, shared with dedup_semantic's
    * oracle so cluster assignments cannot drift between mirrors. */
  private[operators] def ivfCtes: String = ivfIndexCtes

  /** 0.0-seeded ascending dot over the shorter of `a` and `b`: the
    * fold of every driver-side score (probe ranking, residual cell term). */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val m = math.min(a.length, b.length)
    while (i < m) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver-side probe ranking for a collected query set: each query's
    * `nprobe` best flat cells by raw query·centroid dot (ties → lower
    * cell), exhaustive over `idx.cells` — nlist dots × |queries|,
    * bounded. The distributed twin for query TABLES is the TopCells
    * kernel (ann_ivf_batch). */
  private def probePairs(idx: IvfIndex, qRows: Seq[(Long, Array[Double])],
      nprobe: Int): Seq[(Long, Array[Double], Int)] =
    qRows.flatMap { case (qid, qv) =>
      idx.cells.map { case (cell, c) => (cell, dot(qv, c)) }
        .sortBy { case (cell, s) => (-s, cell) }.take(nprobe)
        .map { case (cell, _) => (qid, qv, cell) }
    }

  /** The probe list as the (q_id, qv, cell) frame a probe join broadcasts. */
  private def driverProbes(idx: IvfIndex, qRows: Seq[(Long, Array[Double])],
      nprobe: Int = IvfProbe): DataFrame = {
    val session = idx.celled.sparkSession
    import session.implicits._
    probePairs(idx, qRows, nprobe).map { case (qid, qv, cell) => (qid, qv.toSeq, cell) }
      .toDF("q_id", "qv", "cell")
  }

  /** The residual searches' probe list (ann_ivfpq_topk, ann_ivf_sq_topk):
    * per (query, probed cell) the unit query qu and the decomposition's
    * cell term qu·ru(cell), one driver scalar next to the probe ranking. */
  private def residualProbes(idx: IvfIndex, qRows: Seq[(Long, Array[Double])])
      : Seq[(Long, Array[Double], Int, Double)] =
    probePairs(idx, qRows, IvfProbe).map { case (qid, qv, cell) =>
      val qu = unit(qv)
      (qid, qu, cell, dot(qu, idx.flat(cell)))
    }

  /** The probe-join/re-rank tail shared by the in-query search and the
    * staged twin: broadcast the (q_id, qv, cell) probe list against a
    * celled corpus frame, exact cosine inside probed cells, top-K.
    *
    * r15 (guide §1.2 per-task work): the norms are hoisted OUT of the
    * per-pair projection — cosine(qv, v) re-derived sqrt(qv·qv) for
    * every candidate of a query and sqrt(v·v) for every probe of a
    * corpus row, tripling the hot loop's 64-dim dots. Each norm is now
    * computed once per row; the per-pair score dot/(nq·nv) evaluates
    * the identical IEEE expression tree (same sqrt of the same dot,
    * same multiply, same divide), so every cos is bit-identical. */
  private def ivfTopkFrom(celled: DataFrame, probes: DataFrame): DataFrame = {
    val p = probes.withColumn("nq", sqrt(Vectors.dot(col("qv"), col("qv"))))
    val c = celled.withColumn("nv", sqrt(Vectors.dot(col("v"), col("v"))))
    topK(broadcast(p).join(c, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cos")))
  }

  /** The IVF top-K search given a built index and the collected query
    * set — shared by the registered query (nprobe = IvfProbe),
    * ann_probe_curve's depth sweep, ann_probe_apply and
    * ann_recall_report, so no caller rebuilds the index per leg. */
  private def ivfTopkWithIdx(idx: IvfIndex, qRows: Seq[(Long, Array[Double])],
      nprobe: Int): DataFrame =
    ivfTopkFrom(idx.celled, driverProbes(idx, qRows, nprobe))

  /** IVF (inverted-file) top-k — the other standard ANN scale structure
    * next to LSH: centroids partition the corpus into cells, a query
    * probes only its `IvfProbe` nearest cells, exact cosine re-ranks the
    * candidates — an nlist/nprobe reduction of the scanned corpus per
    * query, with nlist growing with the corpus (ivfLists).
    *
    * TWO-LEVEL assignment (the IMI shape), all deterministic:
    *  - level 1: C1 ≈ sqrt(nlist) coarse seeds, every (n/C1)-th vector
    *    by id — no RNG. Assignment is the NearestCell kernel against the
    *    collected unit-normalized seeds (the classic broadcast index
    *    state): map-only, no corpus shuffle, generated code independent
    *    of the centroid count;
    *  - level 2: within each coarse cell, C2 ≈ sqrt(nlist) sub-seeds
    *    picked by an evenly-strided row_number over the cell (one
    *    build-time window shuffle), then ONE Lloyd refinement whose
    *    sub-centroid means use exact INTEGER micro-unit sums (the
    *    vec_stats trick) — distributed summation order cannot perturb a
    *    centroid bit, so cells are reproducible across runs and
    *    partitionings. Assignment is the NearestSubCell kernel: per-row
    *    cost is C1 + C2 = O(sqrt(nlist)) dots, NOT nlist;
    *  - probes: the query set is tiny (NQueries = 20 collected rows), so
    *    the nprobe-best cells per query are ranked on the driver against
    *    the same flat centroid table and broadcast-joined against the
    *    celled corpus — the corpus never shuffles for the search; the
    *    only wide exchange is the final per-query top-k window over
    *    ~n·nprobe/nlist candidates. (A large query SET would rank cells
    *    distributed with the same kernels; the index state is already
    *    broadcast-shaped.)
    *
    * Degenerate corpora (fewer than 2 coarse seeds) fall back to the
    * exact brute-force scan — greatest()-style argmax over <2 candidates
    * is where the r5 version could throw at plan construction.
    *
    * Index construction runs driver jobs (count, seed collects, Lloyd
    * sums) when the DataFrame is BUILT — like factStaged, not for
    * plan-only tooling.
    *
    * The cells are engine-seeded but deterministic: annIvfTopkSql
    * rebuilds the same index in DuckDB (ivfIndexCtes) and dev/check.py
    * compares the rows value for value; AnnSpec bounds recall@10
    * against ann_brute_topk and pins determinism. */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    buildIvfIndex(e, e.count()) match {
      case None => annBruteTopk(spark, dir)
      case Some(idx) => ivfTopkWithIdx(idx, queryRows(e), IvfProbe)
    }
  }

  // ------------------------------------------------------- ann_ivf_topk_staged
  /** ann_ivf_topk_staged: the identical IVF top-K off a STAGED inverted
    * file — sources.Staged.tablePair("ivfindex") persists the celled
    * corpus ONCE per ingest, PARTITIONED BY cell, plus a (cell,
    * centroid) sidecar. This is the production ANN serving shape: a
    * real IVF deployment builds its index at ingest and answers probes
    * against it; it does not re-run seed collects + a Lloyd step per
    * query the way the (honest cold-start) in-query twin must.
    *
    * The staged layout makes the IVF read pattern REAL at the storage
    * level: probed cells are known on the driver BEFORE the scan, so
    * the isin filter statically prunes cell directories and a warm
    * probe reads ~|probed cells|/nlist of the corpus — versus the
    * in-query twin's four full passes (count, seed window, Lloyd sums,
    * assignment). At 100 TB the inverted file lives beside the corpus
    * like any secondary index; probe I/O scales with nprobe, not n.
    *
    * Degenerate corpora (<2 coarse seeds) stage an all-cells-0 file
    * with an EMPTY sidecar, and the query falls back to the exact
    * brute scan exactly like the in-query twin. Oracle: ann_ivf_topk's
    * SQL verbatim — the build is deterministic and parquet round-trips
    * doubles exactly, so staged == in-query row for row (AnnSpec). */
  def annIvfTopkStaged(spark: SparkSession, dir: String): DataFrame =
    stagedIvf(spark, dir) match {
      case None => annBruteTopk(spark, dir)
      case Some(idx) =>
        val probes = driverProbes(idx, queryRows(emb(spark, dir)))
        // a local relation: reading its cells back runs no job
        val probedCells = probes.select(col("cell")).collect().toSeq.map(_.getInt(0)).distinct
        val celled = idx.celled
          .where(col("cell").isin(probedCells: _*)) // static partition pruning
          .select(col("vec_id"), col("v"), col("cell").cast("int").as("cell"))
        ivfTopkFrom(celled, probes)
    }

  /** ann_ivf_batch_staged: the distributed-probe batch search off the
    * SAME staged inverted file — the serving twin for query TABLES. The
    * sidecar persists the full two-level hierarchy (coarse rows si=-1,
    * sub rows (ci, si)), so the TopCells kernel gets the identical
    * broadcast state the in-query build produces; each query row ranks
    * its own cells map-side and the cell-keyed join against the staged
    * file replaces the four per-query index-build passes. Probed cells
    * here are NOT driver-known (that is the point of the batch shape),
    * so pruning happens at the join, not the scan — the trade
    * ann_ivf_topk_staged's isin path makes in the opposite direction. */
  def annIvfBatchStaged(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = batchQuerySet(e)
    stagedIvf(spark, dir) match {
      case None => bruteTopkFrom(e, q)
      case Some(idx) =>
        // r15: the tail is the shared ivfBatchTail — the r14 path fed
        // the fat probe frame through ivfTopkFrom's EXPLICIT broadcast,
        // the same data-scaled broadcast that killed the in-query twin
        // at sf100. The tail's (cell, salt) corpus exchange also covers
        // the old repartition(cell)'s job of restoring scan-width
        // parallelism over the compact per-cell staged files (measured
        // 62 s vs 12 s at sf10 without it).
        val celled = idx.celled.select(col("vec_id"), col("v"),
          col("cell").cast("int").as("cell"))
        ivfBatchTail(celled, q, topCells(idx, IvfProbe))
    }
  }

  /** The staged inverted file: celled corpus (partitioned by cell) + a
    * centroid sidecar carrying the FULL two-level hierarchy — coarse
    * centroids as (ci, -1, vec), refined sub-centroids as (ci, si, vec)
    * — so both the driver-ranked topk probes (flat cells) and the
    * TopCells batch descent reconstruct the exact in-query index state,
    * returned as the same IvfIndex the in-query build gives (its
    * `celled` is the staged file). Built once per ingest
    * (Staged.tablePair content-fingerprint cache); degenerate corpora
    * stage an empty sidecar → None, and callers fall back to brute
    * force like their in-query twins. */
  private def stagedIvf(spark: SparkSession, dir: String): Option[IvfIndex] = {
    val session = spark
    import session.implicits._
    val (celled, side) = graft.sources.Staged.tablePair(
      spark, "ivfindex", dir, partitionBy1 = Seq("cell")) {
      val e = emb(spark, dir)
      buildIvfIndex(e, e.count()) match {
        case Some(idx) =>
          val rows =
            idx.coarse.zipWithIndex.map { case (c, ci) => (ci, -1, c.toSeq) }.toSeq ++
              (for (ci <- idx.refinedSub.indices; si <- idx.refinedSub(ci).indices)
                yield (ci, si, idx.refinedSub(ci)(si).toSeq))
          // repartition on the directory key: without it every write
          // task splits into per-cell files (tasks × cells tiny files —
          // measured 115 s to write + slow full-file reads at sf10);
          // with it each cell lands as ~one file in its directory
          (idx.celled.repartition(col("cell")), rows.toDF("ci", "si", "c"))
        case None =>
          (e.select(col("vec_id"), col("v"), lit(0).as("cell")),
            Seq.empty[(Int, Int, Seq[Double])].toDF("ci", "si", "c"))
      }
    }
    val rows = side.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    if (rows.isEmpty) None
    else {
      val coarse = rows.filter(_._2 == -1).sortBy(_._1).map(_._3)
      val subs = rows.filter(_._2 >= 0)
      val maxSub = subs.iterator.map(_._2).max + 1
      val refinedSub = Array.tabulate(coarse.length) { ci =>
        subs.filter(_._1 == ci).sortBy(_._2).map(_._3)
      }
      Some(IvfIndex(celled, coarse, refinedSub, maxSub))
    }
  }

  // ----------------------------------------------------------- ann_probe_curve
  /** The nprobe TUNING CURVE: recall@10 of the IVF search at nprobe ∈
    * {1, 2, 4, 8} against the brute-force truth — the knob every IVF
    * deployment turns (more probed cells = more candidates scanned =
    * higher recall at linearly more read work), published as a curve so
    * the latency/recall trade is a lookup, not a guess.
    * ann_recall_report compares METHODS at fixed settings; this sweeps
    * the setting of one method. The nprobe=4 point is by construction
    * the registered ann_ivf_topk's recall.
    *
    * Scale: the index builds ONCE (the expensive part — bounded driver
    * state, O(√n·dim)); each depth re-probes the SAME celled corpus
    * with a wider broadcast probe list, so the sweep costs ~Σ nprobe/
    * nlist corpus fractions, not 4 index builds. Recall = hits/(|Q|·K)
    * — exact integer counts, one boundary division. Mirror embeds the
    * brute oracle + the parameterized IVF mirror at each depth (the
    * recall_report drift rule). */
  def annProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val truth = annBruteTopk(spark, dir).select(col("q_id"), col("n_id"))
    val nPairs = lit(NQueries * K)
    val legs = buildIvfIndex(e, e.count()) match {
      case None => ProbeDepths.map(p => annBruteTopk(spark, dir)
        .select(col("q_id"), col("n_id")).limit(0)
        .select(lit(p).as("nprobe"), lit(0L).as("hits"), lit(0.0).as("recall")))
      case Some(idx) =>
        val qRows = queryRows(e)
        ProbeDepths.map { p =>
          ivfTopkWithIdx(idx, qRows, p).select(col("q_id"), col("n_id"))
            .join(truth, Seq("q_id", "n_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .select(lit(p).as("nprobe"), col("hits"),
              (round(col("hits").cast("double") / nPairs, 4) + 0.0).as("recall"))
        }
    }
    legs.reduce(_ unionAll _).orderBy(col("nprobe"))
  }

  private val ProbeDepths = Seq(1, 2, 4, 8)

  // ----------------------------------------------------------- ann_probe_apply
  /** The decision→action closure for the nprobe knob (the
    * layout_zorder_apply / dedup_threshold_apply pattern, r12 verdict
    * task): choose the SMALLEST probe depth whose curve recall@10
    * reaches 0.9 — falling back to the deepest candidate — then emit
    * the actual IVF retrieval at that depth, the chosen nprobe in every
    * row so the oracle re-derives the choice and the gate checks the
    * whole curve → choose → retrieve composition.
    *
    * Exactness: the recall compare runs on the same HALF_UP round(·,4)
    * doubles the oracled curve publishes (identical cross-engine by
    * ann_probe_curve's own hash match). Scale: the index builds ONCE
    * and every probed depth re-reads the same celled corpus
    * (annProbeCurve's argument); the choice itself is a ≤4-number
    * driver decision — bounded state, the same class as the index's
    * centroid collects — and `find` stops at the first passing depth,
    * so shallow-enough corpora never pay the deeper legs. */
  private[graft] val ProbeRecallTarget = 0.9

  def annProbeApply(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    buildIvfIndex(e, e.count()) match {
      case None =>
        // no index ⇒ no probed retrieval: empty output with the query's
        // schema — annProbeCurve's None convention (r13 advisory: the
        // earlier brute-rows fallback diverged from the mirror, which
        // always derives its legs from the IVF CTEs)
        annBruteTopk(spark, dir).limit(0)
          .select(lit(ProbeDepths.max).as("nprobe"), col("q_id"), col("rank"),
            col("n_id"), col("cos_sim"))
      case Some(idx) =>
        val truth = annBruteTopk(spark, dir).select(col("q_id"), col("n_id"))
        val denom = (NQueries * K).toDouble
        val qRows = queryRows(e)
        val chosen = ProbeDepths.find { p =>
          val hits = ivfTopkWithIdx(idx, qRows, p)
            .select(col("q_id"), col("n_id"))
            .join(truth, Seq("q_id", "n_id"), "left_semi").count()
          BigDecimal(hits / denom)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble >= ProbeRecallTarget
        }.getOrElse(ProbeDepths.max)
        ivfTopkWithIdx(idx, qRows, chosen)
          .select(lit(chosen).as("nprobe"), col("q_id"), col("rank"),
            col("n_id"), col("cos_sim"))
    }
  }

  /** Mirror: the full curve (the registered legs verbatim), the min-
    * passing-depth choice, and the retrieval legs gated by the choice —
    * one statement, so the composition cannot drift. */
  lazy val annProbeApplySql: String = {
    def curveLeg(p: Int): String =
      s"""SELECT $p AS nprobe,
         |       CAST(round(CAST(count(*) AS DOUBLE) / ${NQueries * K}, 4) AS DOUBLE)
         |         + 0.0 AS recall
         |FROM (SELECT * FROM (${ivfTopkSqlAt(p)}) c${p}_t) m
         |WHERE EXISTS (SELECT 1 FROM truth t
         |              WHERE t.q_id = m.q_id AND t.n_id = m.n_id)""".stripMargin
    def retLeg(p: Int): String =
      s"SELECT $p AS np, q_id, rank, n_id, cos_sim FROM (${ivfTopkSqlAt(p)}) r${p}_t"
    s"""WITH truth AS (SELECT q_id, n_id FROM ($annBruteTopkSql) bt),
       |pa_curve AS (
       |  ${ProbeDepths.map(curveLeg).mkString("\n  UNION ALL\n  ")}),
       |pa_ch AS (
       |  SELECT coalesce(min(CASE WHEN recall >= CAST($ProbeRecallTarget AS DOUBLE)
       |                           THEN nprobe END), ${ProbeDepths.max}) AS np
       |  FROM pa_curve),
       |pa_u AS (
       |  ${ProbeDepths.map(retLeg).mkString("\n  UNION ALL\n  ")})
       |SELECT u.np AS nprobe, u.q_id, u.rank, u.n_id, u.cos_sim
       |FROM pa_u u JOIN pa_ch ON u.np = pa_ch.np
       |ORDER BY u.q_id, u.rank""".stripMargin
  }

  lazy val annProbeCurveSql: String = {
    def leg(p: Int): String =
      s"""SELECT $p AS nprobe, count(*) AS hits,
         |       CAST(round(CAST(count(*) AS DOUBLE) / ${NQueries * K}, 4) AS DOUBLE)
         |         + 0.0 AS recall
         |FROM (SELECT * FROM (${ivfTopkSqlAt(p)}) p${p}_t) m
         |WHERE EXISTS (SELECT 1 FROM truth t
         |              WHERE t.q_id = m.q_id AND t.n_id = m.n_id)""".stripMargin
    s"""WITH truth AS (SELECT q_id, n_id FROM ($annBruteTopkSql) bt)
       |${ProbeDepths.map(leg).mkString("\nUNION ALL\n")}
       |ORDER BY nprobe""".stripMargin
  }

  // ----------------------------------------------------------- ann_ivf_batch
  private val BatchProbeCoarse = 2 // coarse cells descended per query

  /** IVF search with the probe ranking DISTRIBUTED — the shape for a
    * query TABLE (the registered 20-query ann_ivf_topk ranks its probes
    * on the driver, which is bounded for a handful of queries but not
    * for a query table at scale). Each query row ranks its own nprobe
    * cells map-side via the TopCells kernel against the same broadcast
    * index state the assignment kernels use: C1 + probeCoarse·C2 =
    * O(√nlist) dots per query, one generated call regardless of index
    * size, NO driver collect of the query set. The probe list explodes
    * to |Q|·nprobe rows joined against the celled corpus — AQE
    * broadcasts it while it fits and degrades to a cell-keyed shuffle
    * join beyond that (both sides carry the cell key; the corpus
    * shuffles ONCE on cell, never pairwise).
    *
    * The cells are deterministic: annIvfBatchSql rebuilds the index and
    * the TopCells descent in DuckDB and dev/check.py compares the rows
    * value for value; AnnSpec bounds recall@10 ≥ 0.5 on a 1000-query
    * set vs brute force. */
  def annIvfBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    annIvfBatchFrom(spark, e, batchQuerySet(e))
  }

  /** The batch searches' query TABLE: every 37th vector as (q_id, qv),
    * a deterministic table, not a collected list. */
  private def batchQuerySet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 37 === 0).select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Distributed-probe IVF top-k of `queries` (q_id, qv) against corpus
    * `e` (vec_id, v); brute-force fallback on degenerate corpora. */
  def annIvfBatchFrom(spark: SparkSession, e: DataFrame, queries: DataFrame): DataFrame =
    buildIvfIndex(e, e.count()) match {
      case None => bruteTopkFrom(e, queries)
      case Some(idx) => ivfBatchTail(idx.celled, queries, topCells(idx, IvfProbe))
    }

  /** The TopCells kernel over `idx`'s broadcast hierarchy: each query
    * row ranks its own `nprobe` flat cells map-side, descending into
    * its BatchProbeCoarse best coarse cells. */
  private def topCells(idx: IvfIndex, nprobe: Int)(v: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    kcol(graft.expressions.TopCells(kexp(v), idx.coarse, idx.refinedSub, idx.maxSub,
      BatchProbeCoarse, nprobe))
  }

  /** Salt width for the batch scoring join (guide §2.5, §8): candidate
    * work is the join's OUTPUT (|cell| corpus rows × probes per cell),
    * so a few populous cells concentrate billions of scored pairs into
    * single tasks — invisible to AQE's skew splitter, which sizes only
    * join INPUT partitions (a 30k-vector cell is ~16 MB of input, far
    * under the 256 MB split threshold, yet owns ~10⁹ pairs at sf100).
    * Salting the corpus side by a deterministic hash of vec_id and
    * exploding each probe row across all salts spreads every cell's
    * scoring over BatchSalt partitions; each (probe, corpus-row) pair
    * still meets exactly once (a corpus row has ONE salt), so the
    * candidate set — and the output — is unchanged. A 64-wide salt is
    * affordable ONLY because the exploded probe rows are metadata —
    * see ivfBatchTail. */
  private val BatchSalt = 64

  /** Target candidate rows per scoring task: ~1.5M (q_id, n_id, cos)
    * rows ≈ 60 MB of sort state — 32 concurrent tasks stay well inside
    * an 8 GB heap where the session default (bytes-derived from INPUT
    * size) left ~10M-row/400 MB sorts per task and 64 MB pointer-array
    * allocations OOM'd the scoring stage at sf100. */
  private val BatchPairsPerTask = 1500000L

  /** Scoring-stage width: the candidate volume is the join OUTPUT —
    * bounded above by (probe rows × the most populous cell), which the
    * input-bytes-derived session default cannot see. One cheap
    * max-cell-population aggregate sizes it; capped at the session
    * MaxShufflePartitions rail, floored at the session default so gate
    * scales are unchanged. */
  private def batchWidth(celled: DataFrame, nQ: Long,
      nprobe: Int = IvfProbe, keys: Seq[Column] = Seq(col("cell"))): Int = {
    val spark = celled.sparkSession
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val maxCell = celled.groupBy(keys: _*).count()
      .agg(max(col("count"))).first() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val pairsUB = nQ * nprobe * math.max(1L, maxCell)
    math.min(graft.GraftSession.MaxShufflePartitions.toLong,
      math.max(session.toLong, pairsUB / BatchPairsPerTask)).toInt
  }

  /** The scoring tail shared by the in-query batch search and its staged
    * twin: explode each query's nprobe cells, cell-keyed join against
    * the celled corpus, exact cosine, per-query top-K.
    *
    * - Probe rows are metadata only: the probe frame shuffles
    *   (q_id, cell, salt), and the 64-double query vector does not ride
    *   the explode. Carried along, the |Q|·nprobe·520 B frame is large
    *   enough to kill the query when broadcast at sf100, and gigabytes
    *   once salted 64 wide. Query vectors and their norms attach to the
    *   candidates by a broadcast hash join on q_id at scoring time: |Q|
    *   rows once (the bruteTopkFrom discipline), inside the 8 GB /
    *   512M-row broadcast rail while |Q| ≈ n/37 stays under ~10⁸
    *   vectors; past that a deployment slices the query table into
    *   independent jobs.
    * - The probe side repartitions on `cell` (with the salt) BEFORE the
    *   join, so AQE sizes it from the exchange's real bytes rather than
    *   a scan estimate: at gate scale it still broadcasts (a few hundred
    *   KB), past the threshold it becomes the cell-keyed shuffle join,
    *   never a data-scaled broadcast.
    * - The corpus side exchanges once on (cell, salt), which restores
    *   scan-width parallelism when the probe side broadcasts (the staged
    *   compact-file layout coalesces to a handful of splits) and
    *   evaluates the assignment kernels once instead of in the join's
    *   filter and project.
    * - Norms are hoisted: nq once per query before the explode, nv once
    *   per corpus row; the per-pair score dot/(nq·nv) is the identical
    *   IEEE expression tree, bit for bit. */
  private def ivfBatchTail(celled: DataFrame, queries: DataFrame,
      topCellsCol: Column => Column): DataFrame = {
    val width = batchWidth(celled, queries.count())
    val q2 = queries
      .withColumn("nq", sqrt(Vectors.dot(col("qv"), col("qv"))))
      .select(col("q_id"), col("qv"), col("nq"))
    val probed = queries
      .select(col("q_id"), explode(topCellsCol(col("qv"))).as("cell"))
      .withColumn("salt", explode(array((0 until BatchSalt).map(lit): _*)))
      .repartition(width, col("cell"), col("salt"))
    val salted = celled
      .withColumn("nv", sqrt(Vectors.dot(col("v"), col("v"))))
      .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(BatchSalt)).cast("int"))
      .repartition(width, col("cell"), col("salt"))
    topK(probed.join(salted, Seq("cell", "salt"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(q2), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cos")))
  }

  // ------------------------------------------------------------ ann_pq_topk
  private val PqM = 8   // subspaces (64-dim → 8 dims per subspace)
  private val PqKs = 16 // sub-centroids per subspace → 4-bit codes

  /** ADC re-rank depth: fraction-bounded on small corpora, capped at
    * 1024 at scale — PQ quantization error does not grow with n on
    * clustered data, so the candidate pool need not either. */
  private def pqRerank(n: Long): Int =
    math.max(64L, math.min(1024L, n / 32L)).toInt

  /** The PQ codebook state: refined sub-centroids per subspace. */
  private case class PqBook(cents: Array[Array[Array[Double]]], dsub: Int, m: Int)

  /** Build the M×ks codebook over array column `v` of `e` (vec_id, v):
    * strided seeds sliced per subspace, one Lloyd step whose
    * per-(subspace, code, pos) means are exact integer micro-unit sums.
    * `normalize` (plain PQ) seeds, codes and averages UNIT vectors;
    * residual IVF-PQ passes false, because its residuals are
    * deliberately NOT unit-normalized — their magnitude IS the signal
    * the codebook spends its 4 bits on (one codebook shared across
    * cells, the FAISS IVFPQ shape). None when fewer than 2 seed
    * vectors exist. */
  private def buildPqCodebook(e: DataFrame, v: String, n: Long,
      normalize: Boolean): Option[PqBook] = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.PqCodes
    val stride = math.max(1L, n / PqKs)
    val seedRows = e.filter(col("vec_id") % stride === 0).orderBy(col("vec_id"))
      .limit(PqKs).select(col(v)).collect()
      .map { r => val x = r.getSeq[Double](0).toArray; if (normalize) unit(x) else x }
    if (seedRows.length < 2) return None
    val dim = seedRows(0).length
    val dsub = math.max(1, dim / PqM)
    val m = dim / dsub
    val seeds: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seedRows.map(r => r.slice(s * dsub, (s + 1) * dsub)))
    val nrm = Vectors.norm(col(v))
    val averaged =
      if (normalize) when(nrm === lit(0.0), col(v)).otherwise(transform(col(v), x => x / nrm))
      else col(v)
    val sums = e
      .select(kcol(PqCodes(kexp(col(v)), seeds, dsub, normalize)).as("codes"),
        posexplode(transform(averaged, x => round(x * 1000000).cast("long")))
          .as(Seq("pos", "x")))
      // drop tail positions the encoder truncates when dim % PqM != 0
      // (codes[pos DIV dsub] would be null there and the driver-side
      // getInt would throw; safe no-op while dim=64/PqM=8 divide evenly)
      .filter(col("pos") < lit(m * dsub))
      .select(expr(s"CAST(pos DIV $dsub AS INT)").as("mi"),
        expr(s"codes[CAST(pos DIV $dsub AS INT)]").as("code"),
        expr(s"CAST(pos % $dsub AS INT)").as("j"), col("x"))
      .groupBy(col("mi"), col("code"), col("j"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cn"))
      .collect()
    val refined: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => seeds(mi).map(_.clone()))
    sums.foreach { r =>
      refined(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
        r.getLong(3).toDouble / (r.getLong(4) * 1000000.0)
    }
    Some(PqBook(refined, dsub, m))
  }

  /** Per-query ADC lookup tables against a codebook (ascending-j fold,
    * matching the pqAdc kernel's loop). */
  private def pqLuts(qRows: Seq[(Long, Array[Double])], book: PqBook): Seq[(Long, Seq[Seq[Double]])] =
    qRows.map { case (qid, qv) =>
      val qu = unit(qv)
      (qid, (0 until book.m).map { mi =>
        book.cents(mi).toSeq.map { cent =>
          var s = 0.0; var i = 0
          while (i < book.dsub) { s += qu(mi * book.dsub + i) * cent(i); i += 1 }
          s
        }
      })
    }

  /** Product-quantization ANN (Jégou et al., PAMI'11 — the memory-bound
    * 100 TB scale structure next to LSH and IVF): each unit vector is
    * encoded as M=8 sub-centroid codes of ks=16 (4 bits each), so the
    * candidate-generation scan reads ~M bytes of code per vector instead
    * of d floats — a 32× reduction (64×8B → 8×1B of information), which
    * at 100 TB is the difference between an index that fits executor
    * memory and one that doesn't. Queries score candidates by ADC
    * (asymmetric distance computation): a per-query M×ks lookup table of
    * partial dots is broadcast, scoring is M lookups+adds per candidate
    * (PqAdc kernel — no float vector is read until re-rank); the top-C
    * ADC candidates re-rank by exact cosine against the ORIGINAL
    * vectors, fetched by a candidate-side join the optimizer broadcasts
    * (≤ |queries|·C rows against the corpus scan).
    *
    * All deterministic, the IVF playbook: strided unit seeds (no RNG),
    * ONE Lloyd refinement whose sub-centroid means are exact integer
    * micro-unit sums (summation order cannot perturb a centroid bit),
    * argmin ties → lowest code, ADC ties → lowest vec_id. Corpora with
    * <2 seed vectors fall back to the exact brute scan.
    *
    * Why plain PQ stays NON-residual (the r8-verdict follow-up,
    * resolved by algebra rather than code): residual coding needs a
    * coarse quantizer to subtract, and the only one available to
    * cell-less PQ is the single global centroid g. But subtracting one
    * CONSTANT vector is a translation: k-means on {u−g} with seeds
    * {u_i−g} yields exactly the translated centroids {c−g} and the
    * SAME assignments (‖(u−g)−(c−g)‖ = ‖u−c‖), and the decomposed ADC
    * cancels term-for-term — qu·g + Σ_m qu_m·(c_m−g_m) = Σ_m qu_m·c_m,
    * the raw score. Identical codes, identical ranking; a "residual
    * upgrade" here is a no-op up to last-ulp rounding of the shifted
    * micro-unit sums. Residual gains exist exactly when the subtracted
    * centroid VARIES per row (many cells shrink residual norms) —
    * that is ann_ivfpq_topk, where the upgrade is implemented,
    * registered, and spec-measured (recall ≥ the non-residual
    * yardstick on tight clusters).
    *
    * The codebook is engine-seeded but deterministic: annPqTopkSql
    * re-derives it in DuckDB and dev/check.py compares the rows value
    * for value; AnnSpec bounds recall@10 vs ann_brute_topk, pins
    * determinism and the code shape. */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.{PqAdc, PqCodes}
    import spark.implicits._
    val e = emb(spark, dir)
    val n = e.count()
    val q0 = querySet(e)
    val book = buildPqCodebook(e, "v", n, normalize = true) match {
      case None => return bruteTopkFrom(e, q0)
      case Some(b) => b
    }

    // encoded corpus: vec_id + M code ints — the only columns the
    // candidate-generation scan touches
    val encoded = e.select(col("vec_id"),
      kcol(PqCodes(kexp(col("v")), book.cents, book.dsub)).as("codes"))

    // per-query ADC lookup tables (queries are NQueries collected rows;
    // a query TABLE would build luts distributed like annIvfBatch)
    val lutDf = pqLuts(queryRows(e), book).toDF("q_id", "lut")
    val scored = encoded.crossJoin(broadcast(lutDf))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", kcol(PqAdc(kexp(col("codes")), kexp(col("lut")))))
    rerank(shortlist(scored, "adc", pqRerank(n)), e, q0)
  }

  /** The PQ codebook + corpus codes as shareable CTEs (pq_-prefixed so
    * they compose with ivfIndexCtes without name collisions): seeds →
    * seed assignment → integer-micro-unit Lloyd → refined codebook →
    * re-encoded corpus codes. Depends on vecBaseCtes' e/nn/un. */
  private lazy val pqCodebookCtes: String =
    s"""pq_seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, u AS su
       |  FROM un WHERE vec_id % greatest(1, (SELECT n FROM nn) // $PqKs) = 0
       |  ORDER BY vec_id LIMIT $PqKs),
       |pq_cent0 AS (  -- seed codebook: (m, c, 8-dim sub-centroid)
       |  SELECT m.range AS m, s.c, su[m.range*8 + 1 : m.range*8 + 8] AS cent
       |  FROM pq_seeds s, range(0, $PqM) m),
       |pq_a0 AS (  -- seed assignment: argmin L2, codes normalize by inv MULTIPLY
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT un.vec_id, c0.m, c0.c,
       |           row_number() OVER (PARTITION BY un.vec_id, c0.m ORDER BY
       |             list_reduce([(un.v[c0.m*8 + j]*un.inv - c0.cent[j])
       |                          * (un.v[c0.m*8 + j]*un.inv - c0.cent[j])
       |                          for j in range(1, 9)], (x, y) -> x + y) ASC,
       |             c0.c ASC) AS rn
       |    FROM un CROSS JOIN pq_cent0 c0)
       |  WHERE rn = 1),
       |pq_lloyd AS (  -- exact integer micro-unit means over members' u values
       |  SELECT a0.m, a0.code, j.range AS j,
       |         sum(CAST(round(un.u[a0.m*8 + j.range + 1] * 1000000) AS BIGINT)) AS sx,
       |         count(*) AS cn
       |  FROM pq_a0 a0 JOIN un ON a0.vec_id = un.vec_id CROSS JOIN range(0, 8) j
       |  GROUP BY a0.m, a0.code, j.range),
       |pq_cent1 AS (  -- refined codebook; empty cells keep their seed
       |  SELECT c0.m, c0.c,
       |         list_transform(list_sort(list(struct_pack(j := j.range,
       |           val := coalesce(l.val, c0.cent[j.range + 1])))), x -> x.val) AS cent
       |  FROM pq_cent0 c0 CROSS JOIN range(0, 8) j
       |  LEFT JOIN (SELECT m, code, j, CAST(sx AS DOUBLE) / (cn * 1000000.0) AS val
       |             FROM pq_lloyd) l
       |    ON l.m = c0.m AND l.code = c0.c AND l.j = j.range
       |  GROUP BY c0.m, c0.c),
       |pq_codes AS (  -- re-encode against the refined codebook
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT un.vec_id, c1.m, c1.c,
       |           row_number() OVER (PARTITION BY un.vec_id, c1.m ORDER BY
       |             list_reduce([(un.v[c1.m*8 + j]*un.inv - c1.cent[j])
       |                          * (un.v[c1.m*8 + j]*un.inv - c1.cent[j])
       |                          for j in range(1, 9)], (x, y) -> x + y) ASC,
       |             c1.c ASC) AS rn
       |    FROM un CROSS JOIN pq_cent1 c1)
       |  WHERE rn = 1)""".stripMargin

  /** The ENTIRE PQ pipeline as a DuckDB mirror (the ann_lsh_topk
    * dynamic-plane precedent): strided seeds, seed assignment, the
    * integer-micro-unit Lloyd step, re-encoding, per-query LUTs, ADC
    * top-C, exact re-rank. Float parity is op-for-op:
    *  - ss (squared norm) is the same 0.0-seeded ascending fold both
    *    sides; codes normalize by MULTIPLYING 1/sqrt(ss) (the PqCodes
    *    kernel's `inv`), while unit vectors u and seeds DIVIDE by
    *    sqrt(ss) (the declarative transform / `unit` helper) — the SQL
    *    reproduces each form where each is used;
    *  - squared distances write (t)*(t), never ^2 (DuckDB pow ≠ x*x in
    *    the last ulp), folded in ascending j like the kernel loop;
    *  - argmin/rank ties break to the lowest index/id exactly like the
    *    kernel's strict `<` scan;
    *  - Lloyd means are exact BIGINT micro-unit sums divided once;
    *  - ADC folds the 8 per-subspace lookups in ascending m (sorted
    *    struct fold), matching pqAdc's loop.
    * dsub is pinned at 8 (64-dim embeddings), like the LSH oracle's
    * 64-dim plane literals. */
  lazy val annPqTopkSql: String = {
    val c = s"greatest(64, least(1024, (SELECT n FROM nn) // 32))"
    s"""WITH $vecBaseCtes,
       |$pqCodebookCtes,
       |q AS (SELECT vec_id AS q_id, u AS qu FROM un WHERE vec_id < $NQueries),
       |lut AS (  -- per-(query, m, c) partial dot, ascending-j fold
       |  SELECT q.q_id, c1.m, c1.c,
       |         list_reduce([q.qu[c1.m*8 + j] * c1.cent[j] for j in range(1, 9)],
       |                     (x, y) -> x + y) AS lv
       |  FROM q CROSS JOIN pq_cent1 c1),
       |adc AS (  -- sum the 8 lookups in ascending m, 0.0-seeded order
       |  SELECT a1.vec_id, l.q_id,
       |         list_reduce(list_transform(
       |           list_sort(list(struct_pack(m := a1.m, lv := l.lv))), x -> x.lv),
       |           (x, y) -> x + y) AS adc
       |  FROM pq_codes a1 JOIN lut l ON a1.m = l.m AND a1.code = l.c
       |  WHERE a1.vec_id <> l.q_id
       |  GROUP BY a1.vec_id, l.q_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS crank
       |    FROM adc)
       |  WHERE crank <= $c),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |rr AS (
       |  SELECT cand.q_id, cand.vec_id AS n_id,
       |         $cosFoldSql AS cos
       |  FROM cand JOIN e ON cand.vec_id = e.vec_id
       |  JOIN qv ON cand.q_id = qv.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** The composed residual-IVF-PQ mirror: ivfIndexCtes prunes to probed
    * cells; the pr_ CTE chain re-derives the RESIDUAL codebook (r =
    * u − ru(cell), raw seeds, raw argmin-L2, integer-micro-unit Lloyd —
    * the same float discipline as pqCodebookCtes but with no inv
    * multiply anywhere, matching `normalize = false`); ADC is the
    * decomposed qu·ru(cell) + Σ_m lut[m][code]; exact cosine re-ranks.
    * Shares vecBase/ivfIndex constants with the other mirrors, so the
    * oracles cannot drift on the index. */
  lazy val annIvfPqTopkSql: String =
    s"""WITH $ivfIndexCtes,
       |pr_res AS (  -- cell residual on unit vectors: the coded quantity
       |  SELECT un.vec_id, c.cell,
       |         [un.u[i] - f.ru[i] for i in range(1, len(un.u)+1)] AS r
       |  FROM un JOIN celled c USING (vec_id) JOIN flatcells f USING (cell)),
       |pr_seeds AS (  -- strided RAW residual seeds (no normalization)
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, r AS sr
       |  FROM pr_res WHERE vec_id % greatest(1, (SELECT n FROM nn) // $PqKs) = 0
       |  ORDER BY vec_id LIMIT $PqKs),
       |pr_cent0 AS (
       |  SELECT m.range AS m, s.c, sr[m.range*8 + 1 : m.range*8 + 8] AS cent
       |  FROM pr_seeds s, range(0, $PqM) m),
       |pr_a0 AS (  -- seed assignment: argmin L2 on the raw residual subvector
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT rr0.vec_id, c0.m, c0.c,
       |           row_number() OVER (PARTITION BY rr0.vec_id, c0.m ORDER BY
       |             list_reduce([(rr0.r[c0.m*8 + j] - c0.cent[j])
       |                          * (rr0.r[c0.m*8 + j] - c0.cent[j])
       |                          for j in range(1, 9)], (x, y) -> x + y) ASC,
       |             c0.c ASC) AS rn
       |    FROM pr_res rr0 CROSS JOIN pr_cent0 c0)
       |  WHERE rn = 1),
       |pr_lloyd AS (  -- exact integer micro-unit means over residual values
       |  SELECT a0.m, a0.code, j.range AS j,
       |         sum(CAST(round(rr0.r[a0.m*8 + j.range + 1] * 1000000) AS BIGINT)) AS sx,
       |         count(*) AS cn
       |  FROM pr_a0 a0 JOIN pr_res rr0 ON a0.vec_id = rr0.vec_id
       |  CROSS JOIN range(0, 8) j
       |  GROUP BY a0.m, a0.code, j.range),
       |pr_cent1 AS (  -- refined residual codebook; empty cells keep their seed
       |  SELECT c0.m, c0.c,
       |         list_transform(list_sort(list(struct_pack(j := j.range,
       |           val := coalesce(l.val, c0.cent[j.range + 1])))), x -> x.val) AS cent
       |  FROM pr_cent0 c0 CROSS JOIN range(0, 8) j
       |  LEFT JOIN (SELECT m, code, j, CAST(sx AS DOUBLE) / (cn * 1000000.0) AS val
       |             FROM pr_lloyd) l
       |    ON l.m = c0.m AND l.code = c0.c AND l.j = j.range
       |  GROUP BY c0.m, c0.c),
       |pr_codes AS (  -- re-encode residuals against the refined codebook
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT rr0.vec_id, c1.m, c1.c,
       |           row_number() OVER (PARTITION BY rr0.vec_id, c1.m ORDER BY
       |             list_reduce([(rr0.r[c1.m*8 + j] - c1.cent[j])
       |                          * (rr0.r[c1.m*8 + j] - c1.cent[j])
       |                          for j in range(1, 9)], (x, y) -> x + y) ASC,
       |             c1.c ASC) AS rn
       |    FROM pr_res rr0 CROSS JOIN pr_cent1 c1)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, u AS qu FROM un WHERE vec_id < $NQueries),
       |probes AS (  -- exhaustive driver probe ranking (annIvfTopk's contract)
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, f.cell,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_reduce([q.qv[i] * f.ru[i] for i in range(1, len(q.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM q CROSS JOIN flatcells f)
       |  WHERE pr <= $IvfProbe),
       |lut AS (  -- per-(query, m, c) partial dot vs the RESIDUAL codebook
       |  SELECT q.q_id, c1.m, c1.c,
       |         list_reduce([q.qu[c1.m*8 + j] * c1.cent[j] for j in range(1, 9)],
       |                     (x, y) -> x + y) AS lv
       |  FROM q CROSS JOIN pr_cent1 c1),
       |cdot AS (  -- the decomposition's cell term qu·ru, per (query, probed cell)
       |  SELECT p.q_id, p.cell,
       |         list_reduce([q.qu[i] * f.ru[i] for i in range(1, len(q.qu)+1)],
       |                     (x, y) -> x + y) AS cd
       |  FROM probes p JOIN q USING (q_id) JOIN flatcells f USING (cell)),
       |probed AS (  -- only the probed cells' rows reach ADC scoring
       |  SELECT p.q_id, c.cell, c.vec_id
       |  FROM probes p JOIN celled c USING (cell)
       |  WHERE p.q_id <> c.vec_id),
       |adc AS (
       |  SELECT pr.vec_id, pr.q_id,
       |         cd.cd + list_reduce(list_transform(
       |           list_sort(list(struct_pack(m := a1.m, lv := l.lv))), x -> x.lv),
       |           (x, y) -> x + y) AS adc
       |  FROM probed pr
       |  JOIN cdot cd ON cd.q_id = pr.q_id AND cd.cell = pr.cell
       |  JOIN pr_codes a1 ON a1.vec_id = pr.vec_id
       |  JOIN lut l ON a1.m = l.m AND a1.code = l.c AND l.q_id = pr.q_id
       |  GROUP BY pr.vec_id, pr.q_id, cd.cd),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS crank
       |    FROM adc)
       |  WHERE crank <= $IvfPqRerank),
       |rr AS (
       |  SELECT cand.q_id, cand.vec_id AS n_id,
       |         $cosFoldSql AS cos
       |  FROM cand JOIN e ON cand.vec_id = e.vec_id
       |  JOIN q qv0 ON cand.q_id = qv0.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------- ann_ivfpq_topk
  /** IVF-PQ re-rank depth: the ADC pass inside the probed cells keeps
    * this many candidates for the exact re-rank. */
  private val IvfPqRerank = 64

  /** IVF-PQ: the two index structures COMPOSED, the production ANN
    * shape (FAISS IVFx,PQy) — IVF cells prune the corpus to nprobe
    * cells per query, then PQ ADC scores ONLY the probed cells' rows
    * from their 8-byte codes (no float vector is read between the cell
    * scan and the final re-rank), and the top-IvfPqRerank candidates
    * re-rank by exact cosine. Per-query cost: O(√nlist) probe dots +
    * (n·nprobe/nlist) ADC lookups + IvfPqRerank exact cosines — both
    * the scan set (IVF) and the bytes-per-row (PQ) shrink, which is the
    * point of the composition at 100 TB.
    *
    * Deterministic end to end (both builders' playbooks), and fully
    * oracled: the SQL mirror composes the SAME ivfIndexCtes and
    * pqCodebookCtes constants the single-structure mirrors use, so the
    * three oracles cannot drift on shared state. Degenerate corpora
    * fall back to brute force. */
  def annIvfPqTopk(spark: SparkSession, dir: String): DataFrame =
    annIvfPqTopkOn(spark, emb(spark, dir), residual = true)

  /** Either composed variant over an arbitrary (vec_id, v) corpus frame
    * (queries = vec_id < NQueries); the registered query is the
    * residual one. `pre`: a prebuilt (corpus count, index) so composed
    * evaluators (ann_recall_report) build the shared IVF structure
    * ONCE — the build is deterministic, so pre-supplying it cannot
    * change a row. */
  private[graft] def annIvfPqTopkOn(spark: SparkSession, e: DataFrame,
      residual: Boolean,
      pre: Option[(Long, Option[IvfIndex])] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.{CellResidual, PqAdc, PqCodes}
    import spark.implicits._
    val n = pre.map(_._1).getOrElse(e.count())
    val q0 = querySet(e)
    val idxOpt = pre.map(_._2).getOrElse(buildIvfIndex(e, n))
    if (idxOpt.isEmpty) return bruteTopkFrom(e, q0)
    val idx = idxOpt.get

    // (rows to encode, their vector column, codebook). In residual mode
    // the codes live on r = u − c(cell) and ADC decomposes as
    // qu·(c + r̂) = qu·c(cell) + Σ_m lut[m][code]: the cell term is ONE
    // scalar per (query, probed cell), computed on the driver next to
    // the probe ranking itself (residualProbes) — so one shared
    // codebook still serves every cell, the FAISS IVFPQ shape.
    val (coded, v, bookOpt) =
      if (residual) {
        // staged: the codebook build (seed collect + Lloyd) and the
        // final encode are three actions over this frame — one shuffle
        // materializes the cell assignment + residual once (factStaged)
        val res = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
          idx.celled.select(col("vec_id"), col("cell"),
            kcol(CellResidual(kexp(col("v")), kexp(col("cell")), idx.flat)).as("r"))
          .repartition(col("vec_id")))
        (res, "r", buildPqCodebook(res, "r", n, normalize = false))
      } else (idx.celled, "v", buildPqCodebook(e, "v", n, normalize = true))
    bookOpt match {
      case None => bruteTopkFrom(e, q0)
      case Some(book) =>
        val encoded = coded.select(col("vec_id"), col("cell"),
          kcol(PqCodes(kexp(col(v)), book.cents, book.dsub, normalize = !residual)).as("codes"))
        val qRows = queryRows(e)
        val luts = pqLuts(qRows, book).toMap
        val terms =
          if (residual) residualProbes(idx, qRows).map { case (qid, _, cell, cd) => (qid, cell, cd) }
          else probePairs(idx, qRows, IvfProbe).map { case (qid, _, cell) => (qid, cell, 0.0) }
        val probes = terms.map { case (qid, cell, cd) => (qid, cell, cd, luts(qid)) }
          .toDF("q_id", "cell", "cd", "lut")
        val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
        val cand = broadcast(probes).join(encoded, Seq("cell"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("adc", col("cd") + kcol(PqAdc(kexp(col("codes")), kexp(col("lut")))))
          .withColumn("crank", row_number().over(wAdc))
          .filter(col("crank") <= IvfPqRerank)
          .select(col("q_id"), col("vec_id"))
        rerank(cand, e, q0)
    }
  }

  /** Shared base: the corpus as DOUBLE[] plus unit-normalized vectors in
    * BOTH forms (u: division, the declarative transform/`unit`; inv:
    * 1/sqrt multiplier, the PqCodes kernel) — one constant under every
    * ANN mirror. */
  private lazy val vecBaseCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM e),
      |un AS (
      |  SELECT vec_id, v, ss,
      |         CASE WHEN ss = 0 THEN v ELSE [x / sqrt(ss) FOR x IN v] END AS u,
      |         CASE WHEN ss = 0 THEN 0.0 ELSE 1.0/sqrt(ss) END AS inv
      |  FROM (SELECT vec_id, v,
      |          list_reduce([v[i]*v[i] for i in range(1, len(v)+1)], (x, y) -> x + y) AS ss
      |        FROM e))""".stripMargin

  /** The shared two-level index-construction CTE chain (through the
    * celled corpus) — one Scala constant so the topk and batch mirrors
    * can never drift on the index (the ngramDupsCtes lesson). */
  private lazy val ivfIndexCtes: String =
    s"""$vecBaseCtes,
       |params AS (
       |  SELECT n, nlist,
       |         CAST(ceil(sqrt(CAST(nlist AS DOUBLE))) AS INT) AS c2,
       |         CAST(ceil(CAST(nlist AS DOUBLE)
       |                   / CAST(ceil(sqrt(CAST(nlist AS DOUBLE))) AS INT)) AS INT) AS c1
       |  FROM (SELECT n, greatest(8, least($MaxLists, n // 64,
       |                 4 * CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))) AS nlist
       |        FROM nn)),
       |coarse AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, u AS cu
       |  FROM un WHERE vec_id % greatest(1, (SELECT n FROM params) // (SELECT c1 FROM params)) = 0
       |  ORDER BY vec_id LIMIT (SELECT c1 FROM params)),
       |ac AS (  -- coarse assignment: argmax raw·unit dot, ties -> lowest ci
       |  SELECT vec_id, ci AS ca FROM (
       |    SELECT un.vec_id, co.ci,
       |           row_number() OVER (PARTITION BY un.vec_id ORDER BY
       |             list_reduce([un.v[i] * co.cu[i] for i in range(1, len(un.v)+1)],
       |                         (x, y) -> x + y) DESC, co.ci ASC) AS rn
       |    FROM un CROSS JOIN coarse co)
       |  WHERE rn = 1),
       |counts AS (SELECT ca, count(*) AS cnt FROM ac GROUP BY ca),
       |strided AS (  -- evenly-strided candidate seed rows per cell
       |  SELECT ca, u, row_number() OVER (PARTITION BY ca ORDER BY vec_id) AS k
       |  FROM (
       |    SELECT ac.ca, un.u, ac.vec_id,
       |           row_number() OVER (PARTITION BY ac.ca ORDER BY ac.vec_id) AS rn,
       |           greatest(1, CAST(ceil(CAST(counts.cnt AS DOUBLE)
       |                                / (SELECT c2 FROM params)) AS BIGINT)) AS sstride
       |    FROM ac JOIN un USING (vec_id) JOIN counts USING (ca))
       |  WHERE (rn - 1) % sstride = 0),
       |sgk AS (SELECT ca, k - 1 AS k, u FROM strided WHERE k <= (SELECT c2 FROM params)),
       |gotn AS (SELECT ca, count(*) AS gn FROM sgk GROUP BY ca),
       |subseed AS (  -- padded per-cell sub-seed table (kernel's got ++ fill(got0));
       |              -- constant + filter because range() rejects subquery bounds.
       |              -- 4096 bounds the SLOT count c2 = ceil(sqrt(nlist)) — NOT the
       |              -- dim-64 pin used by the position ranges — and holds through
       |              -- n <= 4096⁴/16 ≈ 1.7e13 vectors (c2 <= 2·n^(1/4)); the Spark
       |              -- builder has no such bound, so the gate SFs sit far inside it
       |  SELECT co.ci AS ca, kk.range AS si, coalesce(sk.u, s0.u, co.cu) AS su
       |  FROM coarse co CROSS JOIN range(0, 4096) kk
       |  LEFT JOIN gotn g ON g.ca = co.ci
       |  LEFT JOIN sgk sk ON sk.ca = co.ci AND sk.k = kk.range
       |  LEFT JOIN sgk s0 ON s0.ca = co.ci AND s0.k = 0
       |  WHERE kk.range < (SELECT c2 FROM params)
       |    AND (kk.range = 0 OR coalesce(g.gn, 0) > 0)),
       |as0 AS (  -- sub assignment against the seed subcells
       |  SELECT vec_id, ca, si FROM (
       |    SELECT un.vec_id, ac.ca, ss.si,
       |           row_number() OVER (PARTITION BY un.vec_id ORDER BY
       |             list_reduce([un.v[i] * ss.su[i] for i in range(1, len(un.v)+1)],
       |                         (x, y) -> x + y) DESC, ss.si ASC) AS rn
       |    FROM un JOIN ac USING (vec_id) JOIN subseed ss ON ss.ca = ac.ca)
       |  WHERE rn = 1),
       |lloyd AS (  -- exact integer micro-unit sums of members' RAW values
       |  SELECT a.ca, a.si, p.range AS pos,
       |         sum(CAST(round(un.v[p.range + 1] * 1000000) AS BIGINT)) AS sx,
       |         count(*) AS cn
       |  FROM as0 a JOIN un USING (vec_id) CROSS JOIN range(0, 64) p
       |  GROUP BY a.ca, a.si, p.range),
       |means AS (  -- mean vector per refined cell, ascending-pos order
       |  SELECT ca, si,
       |         list_transform(list_sort(list(struct_pack(pos := pos,
       |           val := CAST(sx AS DOUBLE) / (cn * 1000000.0)))), x -> x.val) AS mv
       |  FROM lloyd GROUP BY ca, si),
       |refined AS (  -- unit-normalize the means (unit(): division form)
       |  SELECT ss.ca, ss.si,
       |         CASE WHEN m.mv IS NULL THEN ss.su
       |              WHEN mss.mss = 0 THEN m.mv
       |              ELSE [x / sqrt(mss.mss) FOR x IN m.mv] END AS ru
       |  FROM subseed ss
       |  LEFT JOIN means m ON m.ca = ss.ca AND m.si = ss.si
       |  LEFT JOIN (SELECT ca, si,
       |               list_reduce([mv[i]*mv[i] for i in range(1, len(mv)+1)],
       |                           (x, y) -> x + y) AS mss
       |             FROM means) mss ON mss.ca = ss.ca AND mss.si = ss.si),
       |msub AS (SELECT max(cnt) AS maxsub FROM
       |           (SELECT ca, count(*) AS cnt FROM refined GROUP BY ca)),
       |flatcells AS (
       |  SELECT ca, si, ca * (SELECT maxsub FROM msub) + si AS cell, ru FROM refined),
       |celled AS (  -- final assignment against the refined subcells
       |  SELECT vec_id, cell FROM (
       |    SELECT un.vec_id, f.cell,
       |           row_number() OVER (PARTITION BY un.vec_id ORDER BY
       |             list_reduce([un.v[i] * f.ru[i] for i in range(1, len(un.v)+1)],
       |                         (x, y) -> x + y) DESC, f.si ASC) AS rn
       |    FROM un JOIN ac USING (vec_id) JOIN flatcells f ON f.ca = ac.ca)
       |  WHERE rn = 1)""".stripMargin

  /** The two-level IVF pipeline as a DuckDB mirror (the ann_pq_topk /
    * ann_lsh_topk precedent): coarse strided seeds → coarse argmax-dot
    * assignment → per-cell strided sub-seeds (padded with the cell's
    * first seed; seedless cells carry their coarse seed alone — padding
    * copies lose argmax ties to the lowest index exactly like the
    * kernel's strict `>` scan, but they occupy flat-cell slots and CAN
    * attract rows after refinement, so the mirror reproduces them) →
    * one integer-micro-unit Lloyd step whose means are then
    * unit-NORMALIZED (division form, the `unit` helper) → re-assignment
    * → exhaustive per-query probe ranking (raw-query dot vs every flat
    * centroid, ties to the lower cell — the driver loop's sortBy) →
    * cosine re-rank. Assignment dots use the RAW vector against unit
    * centroids (NearestCell's contract); every fold is 0.0-seeded
    * ascending; dim pinned at 64 like the LSH plane literals.
    *
    * This is the mirror at an arbitrary probe depth — ONE builder for
    * the registered query (IvfProbe) and every ann_probe_curve leg, so
    * the depths cannot drift from the registered semantics. */
  private def ivfTopkSqlAt(nprobe: Int): String =
    s"""WITH $ivfIndexCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |probes AS (  -- exhaustive probe ranking: raw query dot vs every flat centroid
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, f.cell,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_reduce([q.qv[i] * f.ru[i] for i in range(1, len(q.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM q CROSS JOIN flatcells f)
       |  WHERE pr <= $nprobe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id, $cosFoldSql AS cos
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN q qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  lazy val annIvfTopkSql: String = ivfTopkSqlAt(IvfProbe)

  /** ann_ivf_batch's mirror: same index CTEs, but the probe ranking is
    * the TopCells kernel's two-step descent — top-$BatchProbeCoarse
    * coarse cells (dot DESC, ci ASC: the kernel's strict-> selection),
    * then the $IvfProbe best flat cells among ONLY those cells'
    * subcells, ordered (dot DESC, cell ASC: the insertion buffer's
    * comparison). Query table = every 37th vector, as registered. */
  lazy val annIvfBatchSql: String =
    s"""WITH $ivfIndexCtes,
       |qb AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 37 = 0),
       |pcq AS (  -- kernel step 1: the probeCoarse best coarse cells
       |  SELECT q_id, ci FROM (
       |    SELECT qb.q_id, co.ci,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * co.cu[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, co.ci ASC) AS rn
       |    FROM qb CROSS JOIN coarse co)
       |  WHERE rn <= $BatchProbeCoarse),
       |probes AS (  -- kernel step 2: nprobe best flat cells among their subcells
       |  SELECT q_id, cell FROM (
       |    SELECT qb.q_id, f.cell,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * f.ru[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM qb JOIN pcq USING (q_id) JOIN flatcells f ON f.ca = pcq.ci)
       |  WHERE pr <= $IvfProbe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id, $cosFoldSql AS cos
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN qb qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------- ann_filtered_topk
  /** Probe inflation for filtered search: with a ~1/|labels| selective
    * predicate, a probed cell contributes ~selectivity of its rows, so
    * nprobe scales by the inverse selectivity to keep the candidate
    * pool k-sized. */
  private val FilteredProbe = IvfProbe * 4

  /** Metadata-FILTERED vector search — the production shape vector DBs
    * call filtered ANN: each query retrieves its top-k only among
    * vectors satisfying a predicate (here: the query's own label, a
    * ~10%-selective filter). The IVF index prunes cells exactly as in
    * ann_ivf_topk; the label predicate applies AFTER the cell join but
    * BEFORE any distance work (predicate pushdown into the candidate
    * scan — only same-label rows reach the cosine), and nprobe inflates
    * by the inverse selectivity (FilteredProbe = 4×) so the filtered
    * candidate pool still covers k — the standard post-filter recall
    * fix. Queries that land in label-sparse cells return fewer than k
    * rows honestly (no fallback scan), which the oracle reproduces.
    *
    * Scale: same broadcast-probe + cell-keyed join as ann_ivf_topk —
    * the filter is one scan-fused predicate; nothing new shuffles. */
  def annFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val e = e0.select(col("vec_id"), col("v"))
    val n = e.count()
    val q0 = e0.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    buildIvfIndex(e, n) match {
      case None =>
        topK(broadcast(q0).join(e0, col("q_id") =!= col("vec_id") &&
            col("q_label") === col("label"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            Vectors.cosine(col("qv"), col("v")).as("cos")))
      case Some(idx) =>
        val probes = driverProbes(idx, queryRows(e), FilteredProbe)
        val labeled = idx.celled.join(e0.select(col("vec_id"), col("label")), Seq("vec_id"))
        topK(broadcast(probes).join(labeled, Seq("cell"))
          .join(broadcast(q0.select(col("q_id"), col("q_label"))), Seq("q_id"))
          .filter(col("q_id") =!= col("vec_id") && col("label") === col("q_label"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            Vectors.cosine(col("qv"), col("v")).as("cos")))
    }
  }

  lazy val annFilteredTopkSql: String =
    s"""WITH $ivfIndexCtes,
       |el AS (SELECT vec_id, label FROM embeddings),
       |q AS (SELECT e.vec_id AS q_id, el.label AS q_label, e.v AS qv
       |      FROM e JOIN el ON e.vec_id = el.vec_id WHERE e.vec_id < $NQueries),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, f.cell,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_reduce([q.qv[i] * f.ru[i] for i in range(1, len(q.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM q CROSS JOIN flatcells f)
       |  WHERE pr <= $FilteredProbe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id, $cosFoldSql AS cos
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN el ON c.vec_id = el.vec_id
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN q qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id AND el.label = qv0.q_label),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------ ann_filtered_batch
  /** Metadata-filtered vector search for a query TABLE — ann_ivf_batch's
    * distributed TopCells probe descent composed with ann_filtered_topk's
    * scan-fused label predicate: the batch retrieval shape a production
    * pipeline actually runs (label-scoped top-k for every row of a query
    * table, no driver-held query list). Each query row ranks its own
    * probe cells map-side (C1 + probeCoarse·C2 ≈ O(√nlist) dots, one
    * kernel call); nprobe inflates by the inverse selectivity
    * (FilteredProbe = 4×, the post-filter recall fix); the label
    * predicate rides the candidate join KEY (cell, label), so only
    * same-label pairs are ever enumerated — no distance work, and no
    * pair iteration, is spent on rows the filter would discard;
    * label-sparse cells return fewer than k rows honestly.
    *
    * Scale: identical to ann_ivf_batch — the probed (q_id, cell, label)
    * frame joins the celled corpus on (cell, label) (AQE broadcasts
    * while it fits, keyed shuffle beyond), the corpus shuffles at most
    * ONCE, and the label join adds only (vec_id, label) scalars.
    * Query table = every 37th vector with its own label (~10%
    * selective). FULLY oracled through the shared ivfIndexCtes + the
    * TopCells two-step descent mirror. */
  def annFilteredBatch(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val e = e0.select(col("vec_id"), col("v"))
    val n = e.count()
    val q = e0.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    buildIvfIndex(e, n) match {
      case None => // degenerate corpus (<2 seeds ⇒ tiny): exact filtered scan
        topK(broadcast(q).join(e0, col("q_id") =!= col("vec_id") &&
            col("q_label") === col("label"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            Vectors.cosine(col("qv"), col("v")).as("cos")))
      case Some(idx) =>
        // r15: same shape as ivfBatchTail — the probe explode carries
        // only (q_id, cell, label, salt) metadata, the corpus side
        // salts so a populous cell's scoring spreads across BatchSalt
        // partitions (pair set unchanged — one salt per corpus row),
        // and the query vector + hoisted norm attach via ONE broadcast
        // hash join on q_id at scoring time (bit-identical score, see
        // ivfTopkFrom).
        //
        // r15 second pass (guide §3 — put the predicate in the join
        // key): the label equality moved from a post-enumeration
        // filter INTO the equi-join key (cell, label, salt). The join
        // now enumerates only same-label pairs — the rows the filter
        // kept — so candidate work drops by the label selectivity
        // (~10%) instead of paying FilteredProbe× the batch volume and
        // discarding 90% after the fact. Dropped pairs are exactly
        // those with label ≠ q_label: the surviving pair set, and the
        // output, are unchanged. Width sizing follows the real bound:
        // FilteredProbe probes × the most populous (cell, label) slice.
        val labeled = idx.celled
          .withColumn("nv", sqrt(Vectors.dot(col("v"), col("v"))))
          .join(e0.select(col("vec_id"), col("label")), Seq("vec_id"))
          .withColumn("salt",
            pmod(xxhash64(col("vec_id")), lit(BatchSalt)).cast("int"))
        val width = batchWidth(idx.celled.join(
            e0.select(col("vec_id"), col("label")), Seq("vec_id")),
          q.count(), FilteredProbe, Seq(col("cell"), col("label")))
        val q2 = q
          .withColumn("nq", sqrt(Vectors.dot(col("qv"), col("qv"))))
          .select(col("q_id"), col("qv"), col("nq"))
        val probed = q
          .select(col("q_id"), col("q_label").as("label"),
            explode(topCells(idx, FilteredProbe)(col("qv"))).as("cell"))
          .withColumn("salt", explode(array((0 until BatchSalt).map(lit): _*)))
          .repartition(width, col("cell"), col("label"), col("salt"))
        topK(probed.join(labeled.repartition(width, col("cell"), col("label"), col("salt")),
            Seq("cell", "label", "salt"))
          .filter(col("q_id") =!= col("vec_id"))
          .join(broadcast(q2), Seq("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            (Vectors.dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cos")))
    }
  }

  /** ann_filtered_batch's mirror: ivfIndexCtes + the TopCells two-step
    * descent (annIvfBatchSql's pcq/probes shape, at FilteredProbe depth)
    * + the label equality inside the candidate join. */
  lazy val annFilteredBatchSql: String =
    s"""WITH $ivfIndexCtes,
       |el AS (SELECT vec_id, label FROM embeddings),
       |qb AS (SELECT e.vec_id AS q_id, el.label AS q_label, e.v AS qv
       |       FROM e JOIN el ON e.vec_id = el.vec_id WHERE e.vec_id % 37 = 0),
       |pcq AS (  -- kernel step 1: the probeCoarse best coarse cells
       |  SELECT q_id, ci FROM (
       |    SELECT qb.q_id, co.ci,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * co.cu[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, co.ci ASC) AS rn
       |    FROM qb CROSS JOIN coarse co)
       |  WHERE rn <= $BatchProbeCoarse),
       |probes AS (  -- kernel step 2: nprobe best flat cells among their subcells
       |  SELECT q_id, cell FROM (
       |    SELECT qb.q_id, f.cell,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * f.ru[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM qb JOIN pcq USING (q_id) JOIN flatcells f ON f.ca = pcq.ci)
       |  WHERE pr <= $FilteredProbe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id, $cosFoldSql AS cos
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN el ON c.vec_id = el.vec_id
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN qb qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id AND el.label = qv0.q_label),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ----------------------------------------------------------- embed_knn_graph
  private val KnnK = 5 // neighbors per vertex in the corpus k-NN graph

  /** Corpus-wide k-NN GRAPH: every vector's top-$KnnK approximate
    * neighbors through the shared IVF index, plus the MUTUAL flag (is
    * the reverse edge also in the graph?) — the construction step
    * behind SemDeDup-style curation, dataset cartography, and
    * graph-based label propagation, where mutual-kNN is the standard
    * sparsification (a mutual edge is bidirectional evidence of
    * proximity; one-way edges are hub artifacts). This is
    * ann_ivf_batch's distributed-probe descent with the query table =
    * the ENTIRE corpus — the shape that proves the batch path needs no
    * driver collect at any |Q|.
    *
    * Scale: |corpus|·nprobe probe rows against the celled corpus — the
    * corpus shuffles ONCE on cell; per-query candidates are bounded by
    * probed-cell populations (O(n/√n·nprobe) each, independent of
    * total n as nlist grows with the corpus). The mutual join is a
    * self-join of the k·n edge list on its own (reversed) key — scalar
    * edges only, shuffled on q_id. Engine-seeded cells make the flat
    * assignment Spark-side state, but the mirror reproduces it through
    * ivfIndexCtes exactly as every other ANN oracle. */
  def embedKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val knn = annIvfBatchFrom(spark, e, q).filter(col("rank") <= KnnK)
    val rev = knn.select(col("n_id").as("q_id"), col("q_id").as("n_id"),
      lit(1).as("mf"))
    knn.join(rev, Seq("q_id", "n_id"), "left_outer")
      .select(col("q_id"), col("rank"), col("n_id"), col("cos_sim"),
        col("mf").isNotNull.as("mutual"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** annIvfBatchSql's CTE chain with the query table = every vector,
    * wrapped in a knn CTE for the mutual-edge self-join. */
  lazy val embedKnnGraphSql: String =
    s"""WITH $ivfIndexCtes,
       |qb AS (SELECT vec_id AS q_id, v AS qv FROM e),
       |pcq AS (  -- kernel step 1: the probeCoarse best coarse cells
       |  SELECT q_id, ci FROM (
       |    SELECT qb.q_id, co.ci,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * co.cu[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, co.ci ASC) AS rn
       |    FROM qb CROSS JOIN coarse co)
       |  WHERE rn <= $BatchProbeCoarse),
       |probes AS (  -- kernel step 2: nprobe best flat cells among their subcells
       |  SELECT q_id, cell FROM (
       |    SELECT qb.q_id, f.cell,
       |           row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |             list_reduce([qb.qv[i] * f.ru[i] for i in range(1, len(qb.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM qb JOIN pcq USING (q_id) JOIN flatcells f ON f.ca = pcq.ci)
       |  WHERE pr <= $IvfProbe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id, $cosFoldSql AS cos
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN qb qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr),
       |knn AS (
       |  SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim
       |  FROM rk WHERE rank <= $KnnK)
       |SELECT k.q_id, k.rank, k.n_id, k.cos_sim,
       |       (m.q_id IS NOT NULL) AS mutual
       |FROM knn k LEFT JOIN (SELECT q_id, n_id FROM knn) m
       |  ON m.q_id = k.n_id AND m.n_id = k.q_id
       |ORDER BY k.q_id, k.rank""".stripMargin

  // ------------------------------------------------------------ ann_mmr_topk
  private val MmrC = 30 // candidate pool per query (relevance top-C)
  private val MmrLambda = 0.7
  private val MmrMu = 0.3 // NOT 1-λ in code: 1-0.7 is 0.30000000000000004

  /** MMR diversity re-rank (maximal marginal relevance, Carbonell &
    * Goldstein, SIGIR'98): take each query's top-C candidates by
    * cosine, then greedily pick k of them by
    * argmax λ·rel(i) − μ·max_{j∈selected} sim(i, j) — relevance traded
    * against redundancy with what is already picked, the standard
    * diversity selection for retrieval results and for training-data
    * example selection. Greedy selection is inherently sequential in k,
    * so it runs as ONE compiled kernel call per query row over the
    * collected candidate array (O(k·C·dim), bounded by construction) —
    * the per-query candidate generation above it is the same
    * shard-then-final two-level top-C as ann_pq_topk, so no window ever
    * holds the corpus in one partition.
    *
    * FULLY oracled: the mirror unrolls the k greedy steps as CTE pairs
    * (max-sim-to-selected → argmax pick → accumulate), with identical
    * float discipline — rel and pairwise sims 4-decimal-rounded before
    * any arithmetic, λ/μ as literals on both engines, ties → lowest
    * n_id. AnnSpec pins the diversity property itself. */
  def annMmrTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.MmrSelect
    val e = emb(spark, dir)
    val q = querySet(e)
    val wShard = Window.partitionBy(col("q_id"), pmod(col("n_id"), lit(32L)))
      .orderBy(col("rel").desc, col("n_id"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val cand = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(Vectors.cosine(col("qv"), col("v")), 4) + 0.0).as("rel"), col("v"))
      .withColumn("cs", row_number().over(wShard)).filter(col("cs") <= MmrC)
      .withColumn("cr", row_number().over(wq)).filter(col("cr") <= MmrC)
    cand.groupBy(col("q_id"))
      .agg(collect_list(struct(col("n_id"), col("rel"), col("v"))).as("cands"))
      .select(col("q_id"),
        posexplode(kcol(MmrSelect(kexp(col("cands")), K, MmrLambda, MmrMu)))
          .as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("p.n_id").as("n_id"), (round(col("p.mmr"), 6) + 0.0).as("mmr"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The greedy unrolled: sel1 is the pure-relevance argmax (max over
    * the empty set is the literal 0.0 on both engines); each further
    * step joins the not-yet-selected candidates to their MAX sim over
    * the accumulated picks, scores λ·rel − μ·maxsim, and picks the
    * (mmr DESC, n_id) row_number 1. */
  lazy val annMmrTopkSql: String = {
    val simFold =
      """list_reduce([c1.v[i]*c2.v[i] for i in range(1, len(c1.v)+1)], (x, y) -> x + y)
        |      / (sqrt(list_reduce([c1.v[i]*c1.v[i] for i in range(1, len(c1.v)+1)], (x, y) -> x + y))
        |       * sqrt(list_reduce([c2.v[i]*c2.v[i] for i in range(1, len(c2.v)+1)], (x, y) -> x + y)))""".stripMargin
    val steps = (2 to K).map { i =>
      s"""mx$i AS (SELECT s.q_id, s.a AS n_id, max(s.s) AS m
         |  FROM sim s JOIN sel${i - 1} t ON s.q_id = t.q_id AND s.b = t.n_id
         |  GROUP BY s.q_id, s.a),
         |sc$i AS (SELECT c.q_id, c.n_id, $MmrLambda*c.rel - $MmrMu*mx.m AS mmr
         |  FROM cand c JOIN mx$i mx ON c.q_id = mx.q_id AND c.n_id = mx.n_id
         |  LEFT JOIN sel${i - 1} t ON t.q_id = c.q_id AND t.n_id = c.n_id
         |  WHERE t.n_id IS NULL),
         |pk$i AS (SELECT q_id, n_id, mmr, $i AS rank FROM (
         |    SELECT q_id, n_id, mmr,
         |           row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, n_id) AS rn
         |    FROM sc$i) WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT q_id, n_id, mmr, rank FROM sel${i - 1}
         |          UNION ALL SELECT q_id, n_id, mmr, rank FROM pk$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |cand AS MATERIALIZED (
       |  SELECT q_id, n_id, rel, v FROM (
       |    SELECT q_id, n_id, rel, v,
       |           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS cr
       |    FROM (SELECT q.q_id, e.vec_id AS n_id, e.v,
       |                 CAST(round($cosFoldSql, 4) AS DOUBLE) + 0.0 AS rel
       |          FROM q JOIN e ON e.vec_id <> q.q_id))
       |  WHERE cr <= $MmrC),
       |sim AS MATERIALIZED (
       |  SELECT c1.q_id, c1.n_id AS a, c2.n_id AS b,
       |         CAST(round($simFold, 4) AS DOUBLE) + 0.0 AS s
       |  FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id AND c1.n_id <> c2.n_id),
       |sel1 AS (SELECT q_id, n_id, mmr, 1 AS rank FROM (
       |    SELECT q_id, n_id, mmr,
       |           row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, n_id) AS rn
       |    FROM (SELECT c.q_id, c.n_id, $MmrLambda*c.rel - $MmrMu*0.0 AS mmr FROM cand c))
       |  WHERE rn = 1),
       |$steps
       |SELECT q_id, rank, n_id, CAST(round(mmr, 6) AS DOUBLE) + 0.0 AS mmr
       |FROM sel$K ORDER BY q_id, rank""".stripMargin
  }

  def vecStats(spark: SparkSession, dir: String): DataFrame = {
    val vi = transform(col("v"), x => round(x * 1000000).cast("long"))
    val sq = aggregate(vi, lit(0L), (acc, x) => acc + x * x)
    val base = emb(spark, dir).select(col("vec_id"), col("label"), vi.as("vi"), sq.as("sq"))
    // ssq accumulates squared micro-units (~1e13-1e15 per row): a LONG sum
    // overflows past ~1e4 rows/label (the r6 sf1 sweep hit it under ANSI —
    // DuckDB silently survives by promoting BIGINT sums to HUGEINT).
    // DECIMAL(38,0) is the exact Spark twin of that promotion: same
    // integer value, same stringification after the double division.
    val g1 = base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("sq").cast("decimal(38,0)")).as("ssq"))
    val comps = base
      .select(col("label"), posexplode(col("vi")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(sum(col("x")).as("ci"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("ci")))).as("comps"))
    val nMicro = col("n").cast("double") * 1000000.0
    val centroidNorm = sqrt(aggregate(col("comps"), lit(0.0),
      (acc, s) => acc + (s.getField("ci") / nMicro) * (s.getField("ci") / nMicro)))
    g1.join(comps, Seq("label"))
      .select(col("label"), col("n"),
        (col("ssq").cast("double") / (col("n").cast("double") * 1000000000000.0)).as("avg_sq_norm"),
        sqrt(col("ssq").cast("double") / (col("n").cast("double") * 1000000000000.0)).as("rms_norm"),
        centroidNorm.as("centroid_norm"),
        (element_at(col("comps"), 1).getField("ci") / nMicro).as("centroid_c0"))
      .orderBy(col("label"))
  }

  val vecStatsSql: String =
    """WITH e AS (SELECT vec_id, label,
      |             [CAST(round(x*1000000) AS BIGINT) for x in CAST(embedding AS DOUBLE[])] AS vi
      |           FROM embeddings),
      |s AS (SELECT label, vec_id,
      |        list_reduce([vi[i]*vi[i] for i in range(1, len(vi)+1)], (x, y) -> x + y) AS sq
      |      FROM e),
      |g1 AS (SELECT label, count(*) AS n, sum(sq) AS ssq FROM s GROUP BY label),
      |c AS (SELECT label, i AS pos, sum(vi[i]) AS ci FROM e, range(1, 65) t(i) GROUP BY label, i),
      |g2 AS (SELECT label, list(ci ORDER BY pos) AS comps FROM c GROUP BY label)
      |SELECT g1.label, g1.n,
      |  CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0) AS avg_sq_norm,
      |  sqrt(CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0)) AS rms_norm,
      |  sqrt(list_reduce([(comps[i] / (CAST(n AS DOUBLE) * 1000000.0))
      |                    * (comps[i] / (CAST(n AS DOUBLE) * 1000000.0))
      |                    for i in range(1, len(comps)+1)], (x, y) -> x + y)) AS centroid_norm,
      |  comps[1] / (CAST(n AS DOUBLE) * 1000000.0) AS centroid_c0
      |FROM g1 JOIN g2 ON g1.label = g2.label
      |ORDER BY g1.label""".stripMargin

  // -------------------------------------------------------- ann_range_search
  /** Cosine THRESHOLD (radius) search: every corpus vector with
    * round(cos, 4) ≥ τ = 0.35 of each driver-held query — the "all
    * matches above a similarity bar" retrieval shape (near-dup candidate
    * pull, dedup-by-query, wiki-link mining), where top-k's fixed k is
    * the wrong contract because the true match count varies per query
    * (possibly zero — queries may legitimately return no rows).
    *
    * Scale: identical candidate shape to ann_ivf_topk — nprobe probed
    * cells per query, candidates bounded by probed-cell membership, NO
    * per-query global sort (the threshold filter replaces the top-k
    * window entirely, so this is WINDOW-FREE: scan-fused cosine + filter
    * after the cell join). Output is bounded by the true ≥τ match count
    * within probed cells. The threshold compares the ROUNDED cosine so
    * both engines gate on identical doubles. Fully oracled through the
    * shared ivfIndexCtes (probe ranking mirrored like ann_ivf_topk);
    * AnnSpec bounds recall and pins zero false positives vs the brute
    * ≥τ pair set. */
  private val RangeTau = 0.35

  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val n = e.count()
    val out = buildIvfIndex(e, n) match {
      case None => // degenerate corpus: exact scan, same output contract
        broadcast(querySet(e)).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            cosSim(Vectors.cosine(col("qv"), col("v"))))
      case Some(idx) =>
        broadcast(driverProbes(idx, queryRows(e))).join(idx.celled, Seq("cell"))
          .filter(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            cosSim(Vectors.cosine(col("qv"), col("v"))))
    }
    out.filter(col("cos_sim") >= RangeTau)
      .orderBy(col("q_id"), col("cos_sim").desc, col("n_id"))
  }

  lazy val annRangeSearchSql: String =
    s"""WITH $ivfIndexCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |probes AS (  -- exhaustive probe ranking, the ann_ivf_topk mirror
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, f.cell,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_reduce([q.qv[i] * f.ru[i] for i in range(1, len(q.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM q CROSS JOIN flatcells f)
       |  WHERE pr <= $IvfProbe),
       |rr AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |         CAST(round($cosFoldSql, 4) AS DOUBLE) + 0.0 AS cos_sim
       |  FROM probes p JOIN celled c USING (cell)
       |  JOIN e ON c.vec_id = e.vec_id
       |  JOIN q qv0 ON p.q_id = qv0.q_id
       |  WHERE p.q_id <> c.vec_id)
       |SELECT q_id, n_id, cos_sim
       |FROM rr WHERE cos_sim >= $RangeTau
       |ORDER BY q_id, cos_sim DESC, n_id""".stripMargin

  // ----------------------------------------------------- embed_cluster_stats
  /** IVF cluster OBSERVABILITY report: per flat cell, the member count,
    * lowest member id, and mean member→centroid raw·unit dot (the
    * affinity the assignment argmax maximizes) — the health check run
    * after (re)building a vector index: skewed cell sizes mean hot
    * probes, low affinity means the one Lloyd step under-fit that
    * region (pairs with dedup_semantic, which trusts these same cells).
    *
    * Scale: one shuffle of (cell, vec_id, dot-scalar) — the dot is
    * computed scan-side against the broadcast centroid table (nlist
    * rows, O(√n·dim) — the same bounded index state every ANN query
    * ships); output is nlist rows. Affinity sums follow the vec_stats
    * integer-micro-unit discipline (per-row round to BIGINT, then an
    * order-independent integer sum), so no sorted fold is needed.
    * Degenerate corpora (<2 coarse seeds — sub-spec scale only) report
    * a single cell with NULL affinity; the oracle's CTE chain, like the
    * builder, assumes a real index. */
  def embedClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val n = e.count()
    buildIvfIndex(e, n) match {
      case None =>
        e.groupBy(lit(0L).as("cell"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
          .withColumn("avg_dot", lit(null).cast("double"))
      case Some(idx) =>
        idx.celled.join(broadcast(cellCentroids(idx)), Seq("cell"))
          .select(col("cell"), col("vec_id"),
            round(Vectors.dot(col("v"), col("ru")) * 1000000).cast("long").as("dot_micro"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"),
            sum(col("dot_micro")).as("sdm"))
          .select(col("cell").cast("long").as("cell"), col("n_members"), col("min_member"),
            (round(col("sdm").cast("double") / (col("n_members") * 1000000.0), 4) + 0.0)
              .as("avg_dot"))
          .orderBy(col("cell"))
    }
  }

  /** The flat centroid table as a (cell, ru) frame — the bounded
    * nlist-row index state the cell reports broadcast. */
  private def cellCentroids(idx: IvfIndex): DataFrame = {
    val session = idx.celled.sparkSession
    import session.implicits._
    idx.cells.map { case (cell, ru) => (cell.toLong, ru.toSeq) }.toDF("cell", "ru")
  }

  lazy val embedClusterStatsSql: String =
    s"""WITH $ivfIndexCtes,
       |dm AS (
       |  SELECT c.cell, c.vec_id,
       |         CAST(round(list_reduce([e.v[i] * f.ru[i] for i in range(1, len(e.v)+1)],
       |                                (x, y) -> x + y) * 1000000) AS BIGINT) AS dot_micro
       |  FROM celled c JOIN e USING (vec_id) JOIN flatcells f ON f.cell = c.cell)
       |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_members,
       |       min(vec_id) AS min_member,
       |       round(CAST(sum(dot_micro) AS DOUBLE) / (count(*) * 1000000.0), 4) + 0.0 AS avg_dot
       |FROM dm GROUP BY cell ORDER BY cell""".stripMargin

  // ------------------------------------------------------------ embed_outliers
  /** Embedding-space OUTLIERS: members whose centroid affinity sits
    * |z| > 2 BELOW their cell's affinity distribution — the curation
    * signal for mislabeled / off-manifold vectors (SemDeDup prunes
    * near-duplicates; this prunes the opposite tail). Reuses the shared
    * IVF cells and the events_value_anomaly discipline: affinity is the
    * integer micro-unit dot (one broadcast centroid probe, scan-side),
    * and membership is the cross-multiplied exact test
    * 4·(n−1)·(n·x−s)² > 9·n·(n·q−s²) with x BELOW the mean (|z| > 1.5,
    * fin_anomaly_zscore's report bar — within-cell affinity is tight by
    * construction, so the 3σ event bar would be vacuous) —
    * DECIMAL(38,0) accumulators, no float ever gates a row.
    *
    * Scale: one (cell) shuffle to build |cells| stat rows, broadcast
    * back; output is the true outlier count. Degenerate corpora fall
    * back like embed_cluster_stats (no real index → no outliers). */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val n = e.count()
    buildIvfIndex(e, n) match {
      case None =>
        e.select(col("vec_id"), lit(0L).as("cell"), lit(0.0).as("affinity"),
          lit(0.0).as("cell_mean")).limit(0)
      case Some(idx) =>
        val dm = idx.celled.join(broadcast(cellCentroids(idx)), Seq("cell"))
          .select(col("cell").cast("long").as("cell"), col("vec_id"),
            round(Vectors.dot(col("v"), col("ru")) * 1000000).cast("long").as("dm"))
        val d = (c: Column) => c.cast("decimal(38,0)")
        val stats = dm.groupBy(col("cell")).agg(count(lit(1)).as("n"),
          sum(col("dm")).as("s"), sum(d(col("dm")) * d(col("dm"))).as("q"))
        val (nn, x, s, q) = (d(col("n")), d(col("dm")), d(col("s")), d(col("q")))
        val dev = nn * x - s
        dm.join(broadcast(stats), Seq("cell"))
          .filter(dev < 0 && lit(4) * (nn - lit(1)) * dev * dev > lit(9) * nn * (nn * q - s * s))
          .select(col("vec_id"), col("cell"),
            (col("dm").cast("double") / 1000000.0).as("affinity"),
            (col("s").cast("double") / (lit(1000000.0) * col("n"))).as("cell_mean"))
          .orderBy(col("vec_id"))
    }
  }

  lazy val embedOutliersSql: String =
    s"""WITH $ivfIndexCtes,
       |dm AS (
       |  SELECT CAST(c.cell AS BIGINT) AS cell, c.vec_id,
       |         CAST(round(list_reduce([e.v[i] * f.ru[i] for i in range(1, len(e.v)+1)],
       |                                (x, y) -> x + y) * 1000000) AS BIGINT) AS dm
       |  FROM celled c JOIN e USING (vec_id) JOIN flatcells f ON f.cell = c.cell),
       |st AS (SELECT cell, count(*) AS n, sum(dm) AS s,
       |              sum(CAST(dm AS HUGEINT) * CAST(dm AS HUGEINT)) AS q
       |       FROM dm GROUP BY cell)
       |SELECT m.vec_id, m.cell, CAST(m.dm AS DOUBLE)/1000000.0 AS affinity,
       |       CAST(t.s AS DOUBLE)/(1000000.0 * t.n) AS cell_mean
       |FROM dm m JOIN st t USING (cell)
       |WHERE CAST(t.n AS HUGEINT) * m.dm - t.s < 0
       |  AND 4 * (CAST(t.n AS HUGEINT) - 1)
       |        * (CAST(t.n AS HUGEINT) * m.dm - t.s)
       |        * (CAST(t.n AS HUGEINT) * m.dm - t.s)
       |      > 9 * CAST(t.n AS HUGEINT)
       |        * (CAST(t.n AS HUGEINT) * t.q - CAST(t.s AS HUGEINT) * t.s)
       |ORDER BY m.vec_id""".stripMargin

  // ------------------------------------------------------ embed_centroid_drift
  /** Index REFRESH report: run ONE more exact Lloyd step over the
    * shipped refined cells and report, per coarse cell, how much the
    * index would move — member count, vectors that would change refined
    * cell, and the mean affinity gain re-assignment would buy. This is
    * the "should we rebuild" signal an index deployment reads next to
    * embed_cluster_stats (that audits the CURRENT structure; this
    * measures its distance from the next fixpoint — near-zero movement
    * and gain mean the one-step index already converged for this
    * corpus; pairs with ann_recall_report, which prices the same
    * question in retrieval quality).
    *
    * Exactness: the extra Lloyd step follows the builder's discipline
    * to the letter — integer micro-unit position sums (summation order
    * cannot perturb a mean), empty cells keep their previous centroid,
    * unit-normalization in division form with the zero-norm
    * passthrough, re-assignment ties to the lowest sub-index. Affinity
    * deltas are rounded-micro-integer dots (the embed_cluster_stats
    * discipline), so moved counts and gains hash-match cross-engine.
    * Spherical-k-means monotonicity makes per-vector gain >= 0 up to
    * the micro rounding; AnnSpec pins it at -1 µ tolerance.
    *
    * Scale: one (cell, pos) integer aggregate to O(nlist·dim) rows
    * collected as bounded index state (exactly the builder's Lloyd
    * collect), one map-side kernel re-assignment against the broadcast
    * refreshed codebook, one |nlist|-row report aggregate — the fact
    * side shuffles only for the (cell, pos) combine. */
  def embedCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.NearestSubCell
    val e = emb(spark, dir)
    val n = e.count()
    buildIvfIndex(e, n) match {
      case None =>
        e.select(lit(0L).as("ca"), lit(0L).as("n_members"), lit(0L).as("n_moved"),
          lit(0.0).as("moved_share"), lit(0.0).as("mean_gain")).limit(0)
      case Some(idx) =>
        val session = spark
        import session.implicits._
        val maxSub = idx.maxSub
        val sums = idx.celled.select(col("cell"),
            posexplode(transform(col("v"), x => round(x * 1000000).cast("long")))
              .as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("x")).as("sx"), count(lit(1)).as("cn"))
          .collect()
        val byCell = sums.groupBy(_.getInt(0))
        val refined2: Array[Array[Array[Double]]] =
          Array.tabulate(idx.coarse.length) { ci =>
            idx.refinedSub(ci).indices.map { si =>
              byCell.get(ci * maxSub + si) match {
                case Some(rows) =>
                  val dim = rows.map(_.getInt(1)).max + 1
                  val arr = new Array[Double](dim)
                  rows.foreach(r =>
                    arr(r.getInt(1)) = r.getLong(2).toDouble / (r.getLong(3) * 1000000.0))
                  unit(arr)
                case None => idx.refinedSub(ci)(si)
              }
            }.toArray
          }
        def centroidsDf(sub: Array[Array[Array[Double]]]) = (for {
          ci <- sub.indices; si <- sub(ci).indices
        } yield ((ci * maxSub + si), sub(ci)(si).toSeq)).toDF("cell", "cu")
        val caCol = expr(s"CAST(cell DIV $maxSub AS INT)")
        val assigned = idx.celled.select(col("vec_id"), col("v"), col("cell"),
          (caCol * maxSub +
            kcol(NearestSubCell(kexp(col("v")), kexp(caCol), refined2))).as("cell2"))
        assigned
          .join(broadcast(centroidsDf(idx.refinedSub)), Seq("cell"))
          .join(broadcast(centroidsDf(refined2).withColumnRenamed("cell", "cell2")
            .withColumnRenamed("cu", "cu2")), Seq("cell2"))
          .select(expr(s"CAST(cell DIV $maxSub AS BIGINT)").as("ca"),
            col("cell"), col("cell2"),
            round(Vectors.dot(col("v"), col("cu")) * 1000000).cast("long").as("dmo"),
            round(Vectors.dot(col("v"), col("cu2")) * 1000000).cast("long").as("dmn"))
          .groupBy(col("ca"))
          .agg(count(lit(1)).as("n_members"),
            sum(when(col("cell") =!= col("cell2"), 1L).otherwise(0L)).as("n_moved"),
            sum(col("dmn") - col("dmo")).as("sg"))
          .select(col("ca"), col("n_members"), col("n_moved"),
            (round(col("n_moved").cast("double") / col("n_members"), 4) + 0.0)
              .as("moved_share"),
            (round(col("sg").cast("double") / (col("n_members") * 1000000.0), 6) + 0.0)
              .as("mean_gain"))
          .orderBy(col("ca"))
    }
  }

  /** Mirror: ivfIndexCtes + one more Lloyd round (lloyd2/means2/
    * refined2 echo the chain's lloyd/means/refined over the REFINED
    * cells) + re-assignment + the micro-integer gain aggregate. */
  lazy val embedCentroidDriftSql: String =
    s"""WITH $ivfIndexCtes,
       |lloyd2 AS (
       |  SELECT c.cell, p.range AS pos,
       |         sum(CAST(round(un.v[p.range + 1] * 1000000) AS BIGINT)) AS sx,
       |         count(*) AS cn
       |  FROM celled c JOIN un USING (vec_id) CROSS JOIN range(0, 64) p
       |  GROUP BY c.cell, p.range),
       |means2 AS (
       |  SELECT cell,
       |         list_transform(list_sort(list(struct_pack(pos := pos,
       |           val := CAST(sx AS DOUBLE) / (cn * 1000000.0)))), x -> x.val) AS mv
       |  FROM lloyd2 GROUP BY cell),
       |refined2 AS (
       |  SELECT f.ca, f.si, f.cell,
       |         CASE WHEN m.mv IS NULL THEN f.ru
       |              WHEN mss.mss = 0 THEN m.mv
       |              ELSE [x / sqrt(mss.mss) FOR x IN m.mv] END AS ru2
       |  FROM flatcells f
       |  LEFT JOIN means2 m ON m.cell = f.cell
       |  LEFT JOIN (SELECT cell,
       |               list_reduce([mv[i]*mv[i] for i in range(1, len(mv)+1)],
       |                           (x, y) -> x + y) AS mss
       |             FROM means2) mss ON mss.cell = f.cell),
       |celled2 AS (
       |  SELECT vec_id, cell2 FROM (
       |    SELECT un.vec_id, f.cell AS cell2,
       |           row_number() OVER (PARTITION BY un.vec_id ORDER BY
       |             list_reduce([un.v[i] * f.ru2[i] for i in range(1, len(un.v)+1)],
       |                         (x, y) -> x + y) DESC, f.si ASC) AS rn
       |    FROM un JOIN ac USING (vec_id) JOIN refined2 f ON f.ca = ac.ca)
       |  WHERE rn = 1),
       |dms AS (
       |  SELECT ac.ca, c.cell, c2.cell2,
       |         CAST(round(list_reduce([un.v[i] * fo.ru[i]
       |             for i in range(1, len(un.v)+1)], (x, y) -> x + y) * 1000000)
       |           AS BIGINT) AS dmo,
       |         CAST(round(list_reduce([un.v[i] * fn.ru2[i]
       |             for i in range(1, len(un.v)+1)], (x, y) -> x + y) * 1000000)
       |           AS BIGINT) AS dmn
       |  FROM celled c JOIN celled2 c2 USING (vec_id) JOIN un USING (vec_id)
       |  JOIN ac USING (vec_id)
       |  JOIN flatcells fo ON fo.cell = c.cell
       |  JOIN refined2 fn ON fn.cell = c2.cell2)
       |SELECT CAST(ca AS BIGINT) AS ca, count(*) AS n_members,
       |       CAST(sum(CASE WHEN cell <> cell2 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       |       round(CAST(sum(CASE WHEN cell <> cell2 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 4) + 0.0 AS moved_share,
       |       round(CAST(sum(dmn - dmo) AS DOUBLE) / (count(*) * 1000000.0), 6) + 0.0
       |         AS mean_gain
       |FROM dms GROUP BY ca ORDER BY ca""".stripMargin

  // ----------------------------------------------------------- ann_rrf_fusion
  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ANN
    * rankers over the same query set: the IVF cell ranker and the
    * PQ/ADC ranker each produce a per-query top-K list; the fused score
    * is Σ_legs 1/(60 + rank) — the standard ensemble merge for
    * retrievers whose raw scores are incomparable, and exactly the
    * lexical+dense hybrid shape (swap either leg for a BM25 list and
    * the fusion arithmetic is unchanged).
    *
    * Scale: both legs are the registered bounded pipelines; the fusion
    * itself is a full-outer join of two ≤|Q|·K scalar frames plus a
    * window over ≤2K candidates per query — negligible next to the
    * legs. Determinism: ranks are exact integers, 1/(60+r) is one IEEE
    * division per leg, and the two terms sum in fixed leg order (no
    * fold needed); ties break on n_id. The mirror embeds the two
    * registered oracle queries VERBATIM as subqueries — shared-constant
    * drift-proofing taken to its limit. */
  def annRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val a = annIvfTopk(spark, dir)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_ivf"))
    val b = annPqTopk(spark, dir)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_pq"))
    val fused = a.join(b, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("rank_ivf")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_pq")), lit(0.0)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("n_id"),
        (round(col("rrf"), 6) + 0.0).as("rrf_score"),
        col("rank_ivf"), col("rank_pq"))
      .orderBy(col("q_id"), col("rank"))
  }

  lazy val annRrfFusionSql: String =
    s"""WITH ivf AS (SELECT * FROM ($annIvfTopkSql) ivf_t),
       |pq AS (SELECT * FROM ($annPqTopkSql) pq_t),
       |f AS (
       |  SELECT coalesce(ivf.q_id, pq.q_id) AS q_id,
       |         coalesce(ivf.n_id, pq.n_id) AS n_id,
       |         ivf.rank AS rank_ivf, pq.rank AS rank_pq,
       |         coalesce(CAST(1 AS DOUBLE) / (60 + ivf.rank), 0.0) +
       |           coalesce(CAST(1 AS DOUBLE) / (60 + pq.rank), 0.0) AS rrf
       |  FROM ivf FULL OUTER JOIN pq
       |    ON ivf.q_id = pq.q_id AND ivf.n_id = pq.n_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY rrf DESC, n_id) AS rank FROM f)
       |SELECT q_id, rank, n_id, CAST(round(rrf, 6) AS DOUBLE) + 0.0 AS rrf_score,
       |       rank_ivf, rank_pq
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------- ann_sq_topk
  /** Scalar-quantized (SQ8) search — the FAISS middle ground between
    * binary signatures and product quantization: each dimension maps to
    * one byte via a per-dim affine grid over the corpus [min, max], so
    * a vector is 64 bytes (4× under float32, 8× under float64) while
    * keeping per-dim resolution PQ's shared sub-codebooks give up and
    * the 1-bit signature can't have at all. Candidates rank by the
    * integer code dot product (asymmetric-free: the query quantizes on
    * the same grid), top-C re-ranks by exact cosine — completing the
    * quantization spectrum binary / SQ8 / PQ / IVF-PQ, every tier
    * oracled.
    *
    * Exactness: the grid is decided ENTIRELY in integer space —
    * milli-unit x, per-dim (mn, mx) exact integer extrema, code =
    * clamp(((x−mn)·255) DIV (mx−mn)) — no float quantization step
    * cross-engine; degenerate dims (mx=mn) code to 0. Candidates rank
    * by the cosine of the RECONSTRUCTED vectors (ranking raw code dots
    * would ignore the affine offset and the norm — a poor angle
    * proxy): the reconstruction in integer units X_d = mn_d·255 +
    * c_d·(mx_d−mn_d) (|X| ≤ ~5·10⁵ milli-grid) keeps every dot
    * product term ≤ ~2.6·10¹¹ and 64-term sums ≤ ~1.7·10¹³ — UNDER
    * 2^53, so the compiled VectorDot kernel sums them exactly in any
    * order and score = dot(X,Q)/√dot(X,X) is one IEEE division+sqrt of
    * exact integers, bit-identical cross-engine. The 64-row (mn, mx)
    * collect is the bounded index-state discipline (Ann.MaxLists).
    * Scale: the candidate scan is map-only (20 reconstruction arrays
    * broadcast), the exact two-level shard-then-final top-C avoids any
    * whole-corpus single-query window, re-rank fetches ≤|Q|·C floats. */
  def annSqTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q0 = querySet(e)
    val (n, recon) = sq8Grid(e, "v")
    if (n == 0) return bruteTopkFrom(e, q0)
    // staged: the non-equi candidate join is a BroadcastNestedLoopJoin,
    // and an unstaged projection under it re-evaluates the 64-branch
    // reconstruction once per JOINED PAIR (|Q|× per corpus row) instead
    // of once per row — measured 4.2 s → ~1 s at sf0.1
    val coded = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      e.select(col("vec_id"), recon.as("c")))
    val qc = coded.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("c").as("qc"))
    val score = Vectors.dot(col("qc"), col("c")) /
      (sqrt(Vectors.dot(col("qc"), col("qc"))) * sqrt(Vectors.dot(col("c"), col("c"))))
    val scored = broadcast(qc).join(coded, col("q_id") =!= col("vec_id"))
      .withColumn("sq", score)
    rerank(shortlist(scored, "sq", pqRerank(n)), e, q0, (round(col("sq"), 4) + 0.0).as("sq_score"))
  }

  /** The SQ8 grid over array column `c` of `df`, decided in integer
    * space: one 64-row collect of the per-dim exact milli-unit extrema
    * (mn, mx), then the reconstruction column X_d = mn_d·255 +
    * code_d·(mx_d − mn_d), code_d = clamp(((x − mn_d)·255) DIV
    * (mx_d − mn_d)), as integer-valued doubles (≤ ~5e5, exact);
    * degenerate dims (mx = mn) code to 0. Returns (row count,
    * reconstruction); the count is 0 on an empty frame. */
  private def sq8Grid(df: DataFrame, c: String): (Long, Column) = {
    val dimRows = df.select(posexplode(col(c)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(round(col("x") * 1000).cast("long")).as("mn"),
        max(round(col("x") * 1000).cast("long")).as("mx"),
        count(lit(1)).as("n"))
      .collect()
    val mn = new Array[Long](64); val mx = new Array[Long](64)
    dimRows.foreach { r => mn(r.getInt(0)) = r.getLong(1); mx(r.getInt(0)) = r.getLong(2) }
    val recon = expr("array(" + (0 until 64).map { d =>
      if (mx(d) == mn(d)) s"CAST(${mn(d) * 255L}L AS DOUBLE)"
      else s"CAST(${mn(d)}L * 255L + least(255L, greatest(0L, ((CAST(round(element_at($c, ${d + 1}) * 1000) AS BIGINT) - (${mn(d)}L)) * 255L) DIV ${mx(d) - mn(d)}L)) * ${mx(d) - mn(d)}L AS DOUBLE)"
    }.mkString(", ") + ")")
    (dimRows.headOption.map(_.getLong(3)).getOrElse(0L), recon)
  }

  lazy val annSqTopkSql: String = {
    val c = s"greatest(64, least(1024, (SELECT n FROM nn) // 32))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |d AS (SELECT i, min(CAST(round(v[i]*1000) AS BIGINT)) AS mn,
       |             max(CAST(round(v[i]*1000) AS BIGINT)) AS mx
       |      FROM e, range(1, 65) t(i) GROUP BY i),
       |cd AS (SELECT vec_id,
       |         list(CAST(CASE WHEN mx = mn THEN mn * 255
       |              ELSE mn * 255 + least(255, greatest(0,
       |                ((CAST(round(v[i]*1000) AS BIGINT) - mn) * 255) // (mx - mn)))
       |                * (mx - mn)
       |              END AS DOUBLE) ORDER BY i) AS c
       |       FROM e, range(1, 65) t(i) JOIN d USING (i)
       |       GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, c AS qc FROM cd WHERE vec_id < $NQueries),
       |cnd AS (SELECT q_id, vec_id,
       |          list_reduce([qc[i]*c[i] for i in range(1, 65)], (x, y) -> x + y)
       |          / (sqrt(list_reduce([qc[i]*qc[i] for i in range(1, 65)], (x, y) -> x + y))
       |           * sqrt(list_reduce([c[i]*c[i] for i in range(1, 65)], (x, y) -> x + y)))
       |          AS sq
       |        FROM q JOIN cd ON vec_id <> q_id),
       |ck AS (SELECT q_id, vec_id, sq FROM (
       |         SELECT q_id, vec_id, sq,
       |                row_number() OVER (PARTITION BY q_id ORDER BY sq DESC, vec_id) AS cr
       |         FROM cnd) WHERE cr <= $c),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |rr AS (SELECT ck.q_id, ck.vec_id AS n_id, ck.sq,
       |         $cosFoldSql AS cos
       |       FROM ck JOIN e ON ck.vec_id = e.vec_id
       |       JOIN qv ON qv.q_id = ck.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim,
       |       CAST(round(sq, 4) AS DOUBLE) + 0.0 AS sq_score
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------- ann_ivf_sq_topk
  /** IVF-SQ re-rank depth (candidates kept from the reconstructed-score
    * pass for the exact re-rank). */
  private val IvfSqRerank = 64

  /** IVF + SQ8 composed (FAISS IVFx,SQ8): IVF cells prune the corpus to
    * nprobe cells per query, then the probed rows are scored from their
    * per-dim byte codes over the RESIDUAL r = u − c(cell) — the same
    * residual discipline as ann_ivfpq_topk, but with the SQ8 grid
    * (per-dim resolution, no shared sub-codebooks) instead of PQ. This
    * fills the last cell of the composed quantization matrix: IVF-flat /
    * IVF-PQ / IVF-SQ are now ALL registered and oracled, so the
    * memory-recall trade (64 B/vector SQ vs 8 B/vector PQ, both inside
    * pruned cells) is measurable like-for-like on the shared index.
    *
    * The score decomposes exactly like ADC: qu·(c + r̂) = qu·c(cell) +
    * qu·r̂, with the cell term one driver scalar per (query, probed
    * cell) and r̂ reconstructed from the byte code. Exactness: the grid
    * is decided in integer space over residual MILLI-units (per-dim
    * exact extrema, code = clamp(((x−mn)·255) DIV (mx−mn)), degenerate
    * dims code to 0); the reconstruction X_d = mn_d·255 + c_d·(mx_d−mn_d)
    * is an integer-valued double, and the candidate score folds
    * qu_d·X_d in ascending dim order both engines (then ONE /255000
    * division and ONE addition of the cell term) — bit-identical
    * cross-engine, so the full pipeline oracles through the shared
    * ivfIndexCtes. The 64-row extrema collect is the bounded
    * index-state discipline (Ann.MaxLists); the residual frame is
    * STAGED (it feeds the extrema aggregate and the encode).
    *
    * Scale: per-query cost O(√nlist) probe dots + (n·nprobe/nlist)
    * 64-byte reconstruct-dots + IvfSqRerank exact cosines; the corpus
    * never shuffles for the search (probes broadcast). */
  def annIvfSqTopk(spark: SparkSession, dir: String): DataFrame =
    annIvfSqTopkOn(spark, emb(spark, dir))

  /** Spec entry point over an arbitrary (vec_id, v) corpus frame;
    * `pre` as in annIvfPqTopkOn (deterministic prebuilt index). */
  private[graft] def annIvfSqTopkOn(spark: SparkSession, e: DataFrame,
      pre: Option[(Long, Option[IvfIndex])] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    import graft.expressions.CellResidual
    import spark.implicits._
    val n = pre.map(_._1).getOrElse(e.count())
    val q0 = querySet(e)
    val idxOpt = pre.map(_._2).getOrElse(buildIvfIndex(e, n))
    if (idxOpt.isEmpty) return bruteTopkFrom(e, q0)
    val idx = idxOpt.get
    // staged: the residual frame feeds the extrema aggregate AND the encode
    val res = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      idx.celled.select(col("vec_id"), col("cell"),
        kcol(CellResidual(kexp(col("v")), kexp(col("cell")), idx.flat)).as("r")))
    val (_, recon) = sq8Grid(res, "r")
    // NOT staged (unlike ann_sq_topk's coded frame): the cell-keyed
    // probes join gives each corpus row < 1 expected scoring partner
    // (|Q|·nprobe / nlist), so re-evaluating the reconstruction there is
    // cheaper than materializing 64 doubles/row — measured both ways
    val coded = res.select(col("vec_id"), col("cell"), recon.as("x"))
    val probes = residualProbes(idx, queryRows(e))
      .map { case (qid, qu, cell, cd) => (qid, cell, cd, qu.toSeq) }
      .toDF("q_id", "cell", "cd", "qu")
    val wSq = Window.partitionBy(col("q_id")).orderBy(col("sq").desc, col("vec_id"))
    val cand = broadcast(probes).join(coded, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sq",
        col("cd") + Vectors.dot(col("qu"), col("x")) / lit(255000.0))
      .withColumn("crank", row_number().over(wSq))
      .filter(col("crank") <= IvfSqRerank)
      .select(col("q_id"), col("vec_id"), col("sq"))
    rerank(cand, e, q0, (round(col("sq"), 4) + 0.0).as("ivfsq_score"))
  }

  /** The composed IVF-SQ mirror: ivfIndexCtes prunes to probed cells,
    * the sr_ chain re-derives the residual SQ8 grid and reconstructions,
    * the score decomposes as qu·ru(cell) + qu·X/255000 with the folds in
    * ascending dim order — shares vecBase/ivfIndex constants with the
    * other ANN mirrors so the oracles cannot drift on the index. */
  lazy val annIvfSqTopkSql: String =
    s"""WITH $ivfIndexCtes,
       |sr_res AS (
       |  SELECT un.vec_id, c.cell,
       |         [un.u[i] - f.ru[i] for i in range(1, len(un.u)+1)] AS r
       |  FROM un JOIN celled c USING (vec_id) JOIN flatcells f USING (cell)),
       |sr_d AS (SELECT i, min(CAST(round(r[i]*1000) AS BIGINT)) AS mn,
       |                max(CAST(round(r[i]*1000) AS BIGINT)) AS mx
       |         FROM sr_res, range(1, 65) t(i) GROUP BY i),
       |sr_cd AS (SELECT vec_id, cell,
       |            list(CAST(CASE WHEN mx = mn THEN mn * 255
       |                 ELSE mn * 255 + least(255, greatest(0,
       |                   ((CAST(round(r[i]*1000) AS BIGINT) - mn) * 255) // (mx - mn)))
       |                   * (mx - mn)
       |                 END AS DOUBLE) ORDER BY i) AS x
       |          FROM sr_res, range(1, 65) t(i) JOIN sr_d USING (i)
       |          GROUP BY vec_id, cell),
       |q AS (SELECT vec_id AS q_id, v AS qv, u AS qu FROM un WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, f.cell,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_reduce([q.qv[i] * f.ru[i] for i in range(1, len(q.qv)+1)],
       |                         (x, y) -> x + y) DESC, f.cell ASC) AS pr
       |    FROM q CROSS JOIN flatcells f)
       |  WHERE pr <= $IvfProbe),
       |cdot AS (
       |  SELECT p.q_id, p.cell,
       |         list_reduce([q.qu[i] * f.ru[i] for i in range(1, len(q.qu)+1)],
       |                     (x, y) -> x + y) AS cd
       |  FROM probes p JOIN q USING (q_id) JOIN flatcells f USING (cell)),
       |scored AS (
       |  SELECT cd.q_id, s.vec_id,
       |         cd.cd + list_reduce([q.qu[i] * s.x[i] for i in range(1, 65)],
       |                             (x, y) -> x + y) / 255000.0 AS sq
       |  FROM cdot cd JOIN sr_cd s USING (cell) JOIN q ON q.q_id = cd.q_id
       |  WHERE cd.q_id <> s.vec_id),
       |cand AS (SELECT q_id, vec_id, sq FROM (
       |    SELECT q_id, vec_id, sq,
       |           row_number() OVER (PARTITION BY q_id ORDER BY sq DESC, vec_id) AS crank
       |    FROM scored) WHERE crank <= $IvfSqRerank),
       |rr AS (SELECT cand.q_id, cand.vec_id AS n_id, cand.sq,
       |         $cosFoldSql AS cos
       |       FROM cand JOIN e ON cand.vec_id = e.vec_id
       |       JOIN q qv0 ON cand.q_id = qv0.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim,
       |       CAST(round(sq, 4) AS DOUBLE) + 0.0 AS ivfsq_score
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------- ann_hamming_topk
  /** Binary (sign) quantization + Hamming candidate ranking: each vector
    * compresses to ONE 64-bit signature — bit d set iff coordinate d is
    * at or above its corpus mean — candidates are ranked by
    * popcount(sig XOR qsig) and the top-C re-ranked by exact cosine.
    * This is the binary-embedding retrieval path (Charikar STOC'02
    * hyperplane-sketch specialized to axis planes through the corpus
    * centroid): 8 bytes/vector vs 256-512 float bytes — a 32-64x
    * memory cut — and the candidate scan is one XOR+POPCNT per vector,
    * the cheapest distance a CPU can compute. At 100 TB the signature
    * index fits where no float index can, and the scan is map-only:
    * queries broadcast as 20 (id, long) pairs, no shuffle touches a
    * vector until the <=|Q|*C re-rank join.
    *
    * Binarization is decided in exact integer space: bit d = (micro(x)*n
    * >= S_d), with S_d the corpus sum of micro-units. Spark folds the
    * constant n into an exact integer threshold ceil(S_d/n) on the
    * driver (BigInteger ceil-division; x >= S/n <=> x >= ceil(S/n) for
    * integer x), the oracle cross-multiplies in HUGEINT — identical
    * bits, so candidate sets and the final report hash-match. The
    * 64-row dim-sum collect is the bounded index-state discipline
    * (Ann.MaxLists); rerank depth C = pqRerank(n), mirrored inline
    * from the nn CTE. */
  def annHammingTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q0 = querySet(e)
    val dimRows = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(round(col("x") * 1000000).cast("long").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    if (dimRows.isEmpty) return bruteTopkFrom(e, q0)
    val n = dimRows.head.getLong(2)
    val thr = new Array[Long](64)
    dimRows.foreach { r =>
      val s = r.getDecimal(1).toBigInteger
      val qr = s.divideAndRemainder(java.math.BigInteger.valueOf(n))
      val ceil = if (qr(1).signum > 0) qr(0).add(java.math.BigInteger.ONE) else qr(0)
      thr(r.getInt(0)) = ceil.longValueExact
    }
    val sig = (0 until 64).map { d =>
      val xm = round(element_at(col("v"), d + 1) * 1000000).cast("long")
      when(xm >= lit(thr(d)), lit(if (d == 63) Long.MinValue else 1L << d))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val sigs = e.select(col("vec_id"), sig.as("sig"))
    val qs = sigs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("sig").as("qsig"))
    val scored = broadcast(qs).join(sigs, col("q_id") =!= col("vec_id"))
      .withColumn("ham", bit_count(col("qsig").bitwiseXOR(col("sig"))).cast("long"))
    rerank(shortlist(scored, "ham", pqRerank(n), ascending = true), e, q0, col("ham"))
  }

  lazy val annHammingTopkSql: String = {
    val c = s"greatest(64, least(1024, (SELECT n FROM nn) // 32))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |d AS (SELECT i, sum(CAST(round(v[i]*1000000) AS HUGEINT)) AS s, count(*) AS n
       |      FROM e, range(1, 65) t(i) GROUP BY i),
       |sg AS (SELECT vec_id,
       |         bit_or(CASE WHEN CAST(round(v[i]*1000000) AS HUGEINT) * n >= s
       |                THEN (CASE WHEN i = 64 THEN (-9223372036854775807::BIGINT - 1)
       |                           ELSE 1::BIGINT << (i-1) END)
       |                ELSE 0::BIGINT END) AS sig
       |       FROM e, range(1, 65) t(i) JOIN d USING (i)
       |       GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, sig AS qsig FROM sg WHERE vec_id < $NQueries),
       |cnd AS (SELECT q_id, vec_id, CAST(bit_count(xor(qsig, sig)) AS BIGINT) AS ham
       |        FROM q JOIN sg ON vec_id <> q_id),
       |ck AS (SELECT q_id, vec_id, ham FROM (
       |         SELECT q_id, vec_id, ham,
       |                row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS cr
       |         FROM cnd) WHERE cr <= $c),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |rr AS (SELECT ck.q_id, ck.vec_id AS n_id, ck.ham,
       |         $cosFoldSql AS cos
       |       FROM ck JOIN e ON ck.vec_id = e.vec_id
       |       JOIN qv ON qv.q_id = ck.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM rr)
       |SELECT q_id, rank, n_id, CAST(round(cos, 4) AS DOUBLE) + 0.0 AS cos_sim, ham
       |FROM rk WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  // -------------------------------------------------------------- embed_pca_top
  /** Top principal component of the embedding corpus — the anisotropy
    * audit (Ethayarajh EMNLP'19): how much of total variance the
    * dominant direction eats. A high top_share means the embedding
    * space has collapsed toward a common direction (bad for cosine
    * retrieval — the whitening/ABTT trigger, Mu ICLR'18); reported
    * next to embed_cluster_stats in an index build report.
    *
    * Scale shape: the only data-scaled work is the Gram accumulation —
    * per vector the 2080 upper-triangle micro-unit products flow
    * through ONE map-side-combined aggregate (after partial agg each
    * partition ships exactly 2080 rows), plus the 64-row dim-sum
    * aggregate. Everything downstream is bounded driver state (the IVF
    * centroid discipline): covariance numerators are EXACT BigInteger
    * cross-products n·S_ij − S_i·S_j (the oracle's HUGEINT twins), one
    * double division each, then a fixed-20-step power iteration from
    * v0 = 1/8·ones whose ascending-index folds the mirror replays as
    * list_reduce comprehensions — bit-identical IEEE sequences, so
    * eigenvalue, share, AND the argmax loading dimension hash-match.
    * λ is the Rayleigh quotient after the fixed sweeps. */
  def embedPcaTop(spark: SparkSession, dir: String): DataFrame =
    embedPcaTopFrom(spark, emb(spark, dir))

  /** Shared bounded-driver-state PCA solve: exact Gram/dim-sum collect,
    * BigInteger covariance numerators, 20 power sweeps. Returns
    * (n, micro dim sums, covariance, final direction); None on an
    * empty corpus. embed_pca_top reports from it; embed_abtt_project
    * projects with it. */
  private def pcaSolve(e: DataFrame): Option[(Long, Array[java.math.BigInteger],
      Array[Array[Double]], Array[Double])] = {
    val mi = transform(col("v"), x => round(x * 1000000).cast("long"))
    val base = e.select(mi.as("m"))
    val pairRows = base
      .select(posexplode(col("m")).as(Seq("i", "xi")), col("m"))
      .select(col("i"), col("xi"), posexplode(col("m")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("sp"))
      .collect()
    val dimRows = base.select(posexplode(col("m")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("x").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .collect()
    if (dimRows.isEmpty) return None
    val n = dimRows.head.getLong(2)
    val bigN = java.math.BigInteger.valueOf(n)
    val s = new Array[java.math.BigInteger](64)
    dimRows.foreach(r => s(r.getInt(0)) = r.getDecimal(1).toBigInteger)
    val denom = n.toDouble * n.toDouble * 1000000000000.0
    val cov = Array.ofDim[Double](64, 64)
    pairRows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val num = bigN.multiply(r.getDecimal(2).toBigInteger)
        .subtract(s(i).multiply(s(j)))
      val c = num.doubleValue / denom
      cov(i)(j) = c; cov(j)(i) = c
    }
    var v = Array.fill(64)(0.125) // 1/sqrt(64), exact
    var it = 0
    while (it < 20) {
      val mv = pcaMatvec(cov, v)
      var n2 = 0.0; var i = 0
      while (i < 64) { n2 += mv(i) * mv(i); i += 1 }
      val nrm = math.sqrt(n2)
      if (nrm != 0.0) v = mv.map(_ / nrm)
      it += 1
    }
    Some((n, s, cov, v))
  }

  private def pcaMatvec(cov: Array[Array[Double]], v: Array[Double]): Array[Double] =
    Array.tabulate(64) { i =>
      var acc = 0.0; var j = 0
      while (j < 64) { acc += cov(i)(j) * v(j); j += 1 }; acc
    }

  private[graft] def embedPcaTopFrom(spark: SparkSession, e: DataFrame): DataFrame = {
    import spark.implicits._
    val (n, _, cov, v) = pcaSolve(e).getOrElse(
      return Seq.empty[(Long, Option[Double], Option[Double], Option[Double], Option[Long])]
        .toDF("n", "total_var", "top_eig", "top_share", "top_dim"))
    val mvF = pcaMatvec(cov, v)
    var lam = 0.0; var trace = 0.0
    var i = 0
    while (i < 64) { lam += v(i) * mvF(i); trace += cov(i)(i); i += 1 }
    var topDim = 0; var best = math.abs(v(0))
    i = 1
    while (i < 64) {
      if (math.abs(v(i)) > best) { best = math.abs(v(i)); topDim = i }
      i += 1
    }
    // Spark round() semantics (BigDecimal.valueOf = decimal-string repr,
    // HALF_UP) — the sparkRound4 convention, at scale 6
    def r6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val share: Option[Double] = if (trace == 0.0) None else Some(r6(lam / trace))
    Seq((n, Some(r6(trace)), Some(r6(lam)), share, Some(topDim.toLong + 1)))
      .toDF("n", "total_var", "top_eig", "top_share", "top_dim")
  }

  /** Shared mirror CTEs for the PCA family: exact HUGEINT covariance
    * numerators, then the 20 power sweeps unrolled as single-row CTEs
    * with ascending list_reduce folds — the Lloyd-step oracle
    * discipline applied to an eigen solve. Ends at u20 (the final
    * direction); consumers add their own report CTEs, so pca_top and
    * abtt_project cannot drift apart. */
  private lazy val pcaPowerCtes: String = {
    def step(k: Int): String =
      s"""u$k AS (
         |  SELECT CASE WHEN nrm = 0 THEN v ELSE [x / nrm FOR x IN mv] END AS v
         |  FROM (SELECT v, mv,
         |          sqrt(list_reduce([mv[i]*mv[i] for i in range(1, 65)], (x, y) -> x + y)) AS nrm
         |        FROM (SELECT u.v AS v,
         |                [list_reduce([m.f[(i-1)*64 + j] * u.v[j] for j in range(1, 65)],
         |                             (x, y) -> x + y) for i in range(1, 65)] AS mv
         |              FROM u${k - 1} u, mat m)))""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |su AS (SELECT i, j,
       |         sum(CAST(round(v[i]*1000000) AS HUGEINT) * CAST(round(v[j]*1000000) AS HUGEINT)) AS sp
       |       FROM e, range(1, 65) ti(i), range(1, 65) tj(j) GROUP BY i, j),
       |ds AS (SELECT i, sum(CAST(round(v[i]*1000000) AS HUGEINT)) AS s
       |       FROM e, range(1, 65) ti(i) GROUP BY i),
       |cv AS (SELECT su.i, su.j,
       |         CAST(nn.n * su.sp - ds1.s * ds2.s AS DOUBLE)
       |           / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * 1000000000000.0) AS c
       |       FROM su CROSS JOIN nn
       |       JOIN ds ds1 ON ds1.i = su.i
       |       JOIN ds ds2 ON ds2.i = su.j),
       |mat AS (SELECT list(c ORDER BY i, j) AS f FROM cv),
       |u0 AS (SELECT [0.125 for i in range(1, 65)] AS v),
       |${(1 to 20).map(step).mkString(",\n")}""".stripMargin
  }

  lazy val embedPcaTopSql: String =
    s"""WITH $pcaPowerCtes,
       |fin AS (SELECT u.v AS v,
       |          [list_reduce([m.f[(i-1)*64 + j] * u.v[j] for j in range(1, 65)],
       |                       (x, y) -> x + y) for i in range(1, 65)] AS mv
       |        FROM u20 u, mat m),
       |ray AS (SELECT v,
       |          list_reduce([v[i]*mv[i] for i in range(1, 65)], (x, y) -> x + y) AS lam
       |        FROM fin),
       |tr AS (SELECT list_reduce([f[(i-1)*64 + i] for i in range(1, 65)], (x, y) -> x + y) AS trace
       |       FROM mat),
       |dim AS (SELECT i AS top_dim FROM ray, range(1, 65) t(i)
       |        ORDER BY abs(v[i]) DESC, i LIMIT 1)
       |SELECT nn.n,
       |       CAST(round(trace, 6) AS DOUBLE) + 0.0 AS total_var,
       |       CAST(round(lam, 6) AS DOUBLE) + 0.0 AS top_eig,
       |       CASE WHEN trace = 0 THEN NULL
       |            ELSE CAST(round(lam / trace, 6) AS DOUBLE) + 0.0 END AS top_share,
       |       CAST(top_dim AS BIGINT) AS top_dim
       |FROM nn, ray, tr, dim""".stripMargin

  // ---------------------------------------------------------- embed_abtt_project
  /** ABTT projection (All-But-The-Top, Mu & Viswanath ICLR'18): per
    * vector, the coordinate along the corpus TOP principal direction
    * and the norm of what remains after removing mean + that direction
    * — the whitening ACTION embed_pca_top's audit calls for. A
    * retrieval pipeline stores resid_norm next to the vector and drops
    * the common-direction energy before cosine.
    *
    * Scale: the solve is embed_pca_top's (one Gram aggregate + bounded
    * driver state); the projection itself is MAP-ONLY — mean and
    * direction ride along as 64-double literals, each row costs two
    * ascending folds. Mirror shares pcaPowerCtes (the direction cannot
    * drift) and replays the same fold order, so proj and resid_norm
    * hash-match. */
  def embedAbttProject(spark: SparkSession, dir: String): DataFrame =
    embedAbttProjectFrom(spark, emb(spark, dir))

  private[graft] def embedAbttProjectFrom(spark: SparkSession, e: DataFrame): DataFrame = {
    val (n, s, _, v) = pcaSolve(e).getOrElse(
      return e.select(col("vec_id"), lit(0.0).as("proj"), lit(0.0).as("resid_norm")))
    val mu = Array.tabulate(64)(i => s(i).doubleValue / (n.toDouble * 1000000.0))
    val t = (0 until 64).map { i =>
      (element_at(col("v"), i + 1) - lit(mu(i))) * lit(v(i))
    }.reduce(_ + _)
    val resid2 = (0 until 64).map { i =>
      val d = (element_at(col("v"), i + 1) - lit(mu(i))) - col("proj") * lit(v(i))
      d * d
    }.reduce(_ + _)
    e.withColumn("proj", t)
      .withColumn("resid2", resid2)
      .select(col("vec_id"),
        (round(col("proj"), 4) + 0.0).as("proj"),
        (round(sqrt(col("resid2")), 4) + 0.0).as("resid_norm"))
      .orderBy(col("vec_id"))
  }

  lazy val embedAbttProjectSql: String =
    s"""WITH $pcaPowerCtes,
       |mu AS (SELECT list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS m
       |       FROM ds, nn),
       |p0 AS (SELECT e.vec_id, e.v, mu.m AS m, u.v AS pv FROM e, mu, u20 u),
       |p1 AS (SELECT vec_id, v, m, pv,
       |         list_reduce([(v[i] - m[i]) * pv[i] for i in range(1, 65)],
       |                     (x, y) -> x + y) AS t
       |       FROM p0)
       |SELECT vec_id, CAST(round(t, 4) AS DOUBLE) + 0.0 AS proj,
       |       CAST(round(sqrt(list_reduce(
       |         [((v[i] - m[i]) - t * pv[i]) * ((v[i] - m[i]) - t * pv[i])
       |          for i in range(1, 65)], (x, y) -> x + y)), 4) AS DOUBLE) + 0.0 AS resid_norm
       |FROM p1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------ embed_label_dists
  /** Label-centroid separability matrix: cosine and Euclidean distance
    * between every pair of label centroids — the class-separability
    * audit read next to embed_pca_top (collapsed classes → poor
    * retrieval/classification downstream; the pair list is what a
    * curation team eyeballs before merging or re-labeling classes).
    *
    * Scale: one map-side-combined (label, pos) micro-unit sum aggregate
    * (≤ |labels|·64 rows — bounded driver state, the vec_stats comps
    * discipline); centroid arithmetic on the driver with ascending
    * folds the mirror replays via ORDER BY i lists — identical IEEE
    * sequences, so cos and dist hash-match. */
  def embedLabelDists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = emb(spark, dir)
      .select(col("label"), posexplode(transform(col("v"),
        x => round(x * 1000000).cast("long"))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .collect()
    val byLabel = rows.groupBy(_.getInt(0)).map { case (l, rs) =>
      val c = new Array[Double](64)
      val n = rs.head.getLong(3)
      rs.foreach(r => c(r.getInt(1)) = r.getDecimal(2).toBigInteger.doubleValue
        / (n.toDouble * 1000000.0))
      (l, c)
    }
    def r6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val labels = byLabel.keys.toSeq.sorted
    val out = for {
      a <- labels; b <- labels if a < b
    } yield {
      val ca = byLabel(a); val cb = byLabel(b)
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var d2 = 0.0
      var i = 0
      while (i < 64) {
        dot += ca(i) * cb(i); sa += ca(i) * ca(i); sb += cb(i) * cb(i)
        val d = ca(i) - cb(i); d2 += d * d
        i += 1
      }
      val cos: Option[Double] =
        if (sa == 0.0 || sb == 0.0) None
        else Some(r6(dot / (math.sqrt(sa) * math.sqrt(sb))))
      (a, b, cos, r6(math.sqrt(d2)))
    }
    out.toDF("label_a", "label_b", "centroid_cos", "centroid_dist")
      .orderBy(col("label_a"), col("label_b"))
  }

  lazy val embedLabelDistsSql: String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cs AS (SELECT label, i, sum(CAST(round(v[i]*1000000) AS HUGEINT)) AS s, count(*) AS n
      |       FROM e, range(1, 65) t(i) GROUP BY label, i),
      |cl AS (SELECT label,
      |         list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY i) AS c
      |       FROM cs GROUP BY label),
      |pr AS (SELECT a.label AS label_a, b.label AS label_b, a.c AS ca, b.c AS cb
      |       FROM cl a JOIN cl b ON a.label < b.label),
      |sc AS (SELECT label_a, label_b,
      |         list_reduce([ca[i]*cb[i] for i in range(1, 65)], (x, y) -> x + y) AS dot,
      |         list_reduce([ca[i]*ca[i] for i in range(1, 65)], (x, y) -> x + y) AS sa,
      |         list_reduce([cb[i]*cb[i] for i in range(1, 65)], (x, y) -> x + y) AS sb,
      |         list_reduce([(ca[i]-cb[i])*(ca[i]-cb[i]) for i in range(1, 65)], (x, y) -> x + y) AS d2
      |       FROM pr)
      |SELECT label_a, label_b,
      |       CASE WHEN sa = 0 OR sb = 0 THEN NULL
      |            ELSE CAST(round(dot / (sqrt(sa) * sqrt(sb)), 6) AS DOUBLE) + 0.0 END AS centroid_cos,
      |       CAST(round(sqrt(d2), 6) AS DOUBLE) + 0.0 AS centroid_dist
      |FROM sc ORDER BY label_a, label_b""".stripMargin

  // ---------------------------------------------------------- ann_recall_report
  /** Index QUALITY report: recall@K of each oracled ANN method (Hamming, IVF, IVF-PQ, PQ) against
    * the brute-force truth on the driver query set — the evaluation a
    * vector-index deployment publishes next to its build (pairs with
    * embed_cluster_stats: that audits the index structure, this audits
    * retrieval quality THROUGH it). Avg recall is hits/(|Q|·K) — exact
    * integer counts, one boundary division — so the recall numbers
    * themselves are oracle-pinned cross-engine, not just spec-bounded.
    *
    * Scale: each leg is its registered bounded pipeline; the comparison
    * is a left-semi join of ≤|Q|·K scalar frames. The mirror embeds the
    * brute + four method oracles verbatim as subqueries (the
    * ann_rrf_fusion drift-proofing). */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val truth = annBruteTopk(spark, dir).select(col("q_id"), col("n_id"))
    val nPairs = lit(NQueries * K) // |Q|·K — both driver constants
    // the three IVF-family legs share ONE index build (r10): the build
    // is deterministic, so pre-supplying it is a pure driver-cost save
    // — three coarse/seed/Lloyd collect chains become one
    val e = emb(spark, dir)
    val n = e.count()
    val pre = Some((n, buildIvfIndex(e, n)))
    def leg(name: String, bytes: Int, df: DataFrame): DataFrame =
      df.select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), lit(bytes).as("index_bytes_per_vec"),
          col("hits"),
          (round(col("hits").cast("double") / nPairs, 4) + 0.0).as("recall"))
    val ivfLeg = pre.get._2 match {
      case Some(idx) => ivfTopkWithIdx(idx, queryRows(e), IvfProbe)
      case None => annBruteTopk(spark, dir)
    }
    // bytes/vector of each index's candidate-scan state: raw floats 256
    // (IVF-flat scans vectors), SQ8 one byte/dim, PQ/IVF-PQ 8-byte codes,
    // binary one 64-bit signature — the r9 memory-recall frontier row set
    leg("hamming", 8, annHammingTopk(spark, dir))
      .unionAll(leg("ivf", 256, ivfLeg))
      .unionAll(leg("ivfpq", 8, annIvfPqTopkOn(spark, e, residual = true, pre)))
      .unionAll(leg("ivfsq", 64, annIvfSqTopkOn(spark, e, pre)))
      .unionAll(leg("pq", 8, annPqTopk(spark, dir)))
      .unionAll(leg("sq", 64, annSqTopk(spark, dir)))
      .orderBy(col("method"))
  }

  lazy val annRecallReportSql: String = {
    def leg(name: String, bytes: Int, sql: String): String =
      s"""SELECT '$name' AS method, CAST($bytes AS INT) AS index_bytes_per_vec,
         |       count(*) AS hits,
         |       CAST(round(CAST(count(*) AS DOUBLE) / ${NQueries * K}, 4) AS DOUBLE) + 0.0 AS recall
         |FROM (SELECT * FROM ($sql) ${name}_t) m
         |WHERE EXISTS (SELECT 1 FROM truth t
         |              WHERE t.q_id = m.q_id AND t.n_id = m.n_id)""".stripMargin
    s"""WITH truth AS (SELECT q_id, n_id FROM ($annBruteTopkSql) bt)
       |${leg("hamming", 8, annHammingTopkSql)}
       |UNION ALL
       |${leg("ivf", 256, annIvfTopkSql)}
       |UNION ALL
       |${leg("ivfpq", 8, annIvfPqTopkSql)}
       |UNION ALL
       |${leg("ivfsq", 64, annIvfSqTopkSql)}
       |UNION ALL
       |${leg("pq", 8, annPqTopkSql)}
       |UNION ALL
       |${leg("sq", 64, annSqTopkSql)}
       |ORDER BY method""".stripMargin
  }

  // ------------------------------------------------------------------ maps
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_top" -> (embedPcaTop _),
    "embed_label_dists" -> (embedLabelDists _),
    "embed_abtt_project" -> (embedAbttProject _),
    "ann_sq_topk" -> (annSqTopk _),
    "ann_ivf_sq_topk" -> (annIvfSqTopk _),
    "ann_hamming_topk" -> (annHammingTopk _),
    "ann_recall_report" -> (annRecallReport _),
    "ann_probe_curve" -> (annProbeCurve _),
    "ann_probe_apply" -> (annProbeApply _),
    "ann_rrf_fusion" -> (annRrfFusion _),
    "embed_outliers" -> (embedOutliers _),
    "embed_cluster_stats" -> (embedClusterStats _),
    "ann_range_search" -> (annRangeSearch _),
    "ann_brute_topk" -> (annBruteTopk _),
    "ann_lsh_topk" -> (annLshTopk _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_topk_staged" -> (annIvfTopkStaged _),
    "ann_ivf_batch" -> (annIvfBatch _),
    "ann_ivf_batch_staged" -> (annIvfBatchStaged _),
    "ann_pq_topk" -> (annPqTopk _),
    "ann_ivfpq_topk" -> (annIvfPqTopk _),
    "ann_mmr_topk" -> (annMmrTopk _),
    "ann_filtered_topk" -> (annFilteredTopk _),
    "ann_filtered_batch" -> (annFilteredBatch _),
    "embed_knn_graph" -> (embedKnnGraph _),
    "embed_centroid_drift" -> (embedCentroidDrift _),
    "vec_stats" -> (vecStats _)
  )

  def oracles: Map[String, String] = Map(
    "embed_pca_top" -> embedPcaTopSql,
    "embed_label_dists" -> embedLabelDistsSql,
    "embed_abtt_project" -> embedAbttProjectSql,
    "ann_sq_topk" -> annSqTopkSql,
    "ann_ivf_sq_topk" -> annIvfSqTopkSql,
    "ann_hamming_topk" -> annHammingTopkSql,
    "ann_recall_report" -> annRecallReportSql,
    "ann_probe_curve" -> annProbeCurveSql,
    "ann_probe_apply" -> annProbeApplySql,
    "ann_rrf_fusion" -> annRrfFusionSql,
    "embed_outliers" -> embedOutliersSql,
    "embed_cluster_stats" -> embedClusterStatsSql,
    "ann_range_search" -> annRangeSearchSql,
    "ann_brute_topk" -> annBruteTopkSql,
    "ann_lsh_topk" -> annLshTopkSql,
    "ann_pq_topk" -> annPqTopkSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_ivf_topk_staged" -> annIvfTopkSql,
    "ann_ivf_batch" -> annIvfBatchSql,
    "ann_ivf_batch_staged" -> annIvfBatchSql,
    "ann_ivfpq_topk" -> annIvfPqTopkSql,
    "ann_mmr_topk" -> annMmrTopkSql,
    "ann_filtered_topk" -> annFilteredTopkSql,
    "ann_filtered_batch" -> annFilteredBatchSql,
    "embed_knn_graph" -> embedKnnGraphSql,
    "embed_centroid_drift" -> embedCentroidDriftSql,
    "vec_stats" -> vecStatsSql
  )
}
