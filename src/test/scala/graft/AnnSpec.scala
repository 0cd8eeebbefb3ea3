package graft

/** Sanity bounds on the ANN queries (recall against brute force,
  * determinism, plan shape); their rows are checked value for value
  * against the DuckDB oracles by dev/check.py. */
class AnnSpec extends SparkSpec {

  test("ann_lsh_topk recall@10 >= 0.5 vs brute force") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val lsh = neighbors("ann_lsh_topk")
    assert(truth.nonEmpty)
    val recalls = truth.map { case (q, t) =>
      lsh.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 $avg")
  }

  test("embed_pca_top: dominant planted axis found, share near 1, registered query sane") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // variance lives almost entirely on axis 5 (0-based): +/-10 swing
    // there, +/-0.01 jitter elsewhere -> top_dim 6 (1-based), share ~1
    val e = (0 until 400).map { i =>
      (i.toLong, "x", Array.tabulate(64) { d =>
        if (d == 5) (if (i % 2 == 0) 10.0 else -10.0)
        else 0.01 * math.sin(i * 1.7 + d * 0.9)
      }.toSeq)
    }.toDF("vec_id", "label", "v")
    val r = graft.operators.Ann.embedPcaTopFrom(spark, e).collect().head
    assert(r.getLong(0) == 400)
    assert(r.getLong(4) == 6L, s"top_dim ${r.getLong(4)}")
    assert(r.getDouble(3) > 0.95, s"top_share ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(2) - 100.0) < 1.0, s"top_eig ${r.getDouble(2)}")
    // registered corpus query: one row, share in (0, 1]
    val g = SparkEntry.queries("embed_pca_top")(spark, sf).collect()
    assert(g.length == 1)
    assert(g.head.getDouble(3) > 0.0 && g.head.getDouble(3) <= 1.0)
  }

  test("embed_abtt_project: planted-axis energy lands in proj, residual stays jitter-sized") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = (0 until 400).map { i =>
      (i.toLong, "x", Array.tabulate(64) { d =>
        if (d == 5) (if (i % 2 == 0) 10.0 else -10.0)
        else 0.01 * math.sin(i * 1.7 + d * 0.9)
      }.toSeq)
    }.toDF("vec_id", "label", "v")
    val rows = graft.operators.Ann.embedAbttProjectFrom(spark, e).collect()
    assert(rows.length == 400)
    rows.foreach { r =>
      assert(math.abs(math.abs(r.getDouble(1)) - 10.0) < 0.2,
        s"vec ${r.getLong(0)} proj ${r.getDouble(1)}")
      assert(r.getDouble(2) < 0.2, s"vec ${r.getLong(0)} resid ${r.getDouble(2)}")
    }
    // removing the top direction kills most variance: resid << proj
    assert(rows.map(r => math.abs(r.getDouble(1))).min > 9.0)
  }

  test("ann_sq_topk: recall@10 >= 0.7 and >= hamming's (8 bits/dim beats 1), K rows/query") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val sq = neighbors("ann_sq_topk")
    val ham = neighbors("ann_hamming_topk")
    assert(truth.nonEmpty)
    def avgRecall(got: Map[Long, Set[Long]]) = {
      val rs = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val (rSq, rHam) = (avgRecall(sq), avgRecall(ham))
    assert(rSq >= 0.7, s"sq recall@10 $rSq")
    // 8 bits/dim must not lose to the 1-bit signature on the same corpus
    assert(rSq >= rHam - 1e-9, s"sq $rSq < hamming $rHam")
    sq.foreach { case (q, ns) => assert(ns.size == 10, s"query $q: ${ns.size} rows") }
  }

  test("ann_ivf_sq_topk: recall@10 >= 0.5 vs brute and >= hamming's within the probe budget; K rows/query, deterministic") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val ivfsq = neighbors("ann_ivf_sq_topk")
    assert(truth.nonEmpty)
    def avgRecall(got: Map[Long, Set[Long]]) = {
      val rs = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val r = avgRecall(ivfsq)
    // the composed index prunes to nprobe cells, so its ceiling is the
    // IVF scan set — the IVF-flat bound, not plain SQ's
    assert(r >= 0.5, s"ivf-sq recall@10 $r")
    ivfsq.foreach { case (q, ns) => assert(ns.size == 10, s"query $q: ${ns.size} rows") }
    val a = SparkEntry.queries("ann_ivf_sq_topk")(spark, sf)
      .collect().map(_.toString).sorted
    val b = SparkEntry.queries("ann_ivf_sq_topk")(spark, sf)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("ann_hamming_topk: recall@10 >= 0.5 vs brute, K rows/query, deterministic") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val ham = neighbors("ann_hamming_topk")
    assert(truth.nonEmpty)
    val recalls = truth.map { case (q, t) =>
      ham.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 $avg")
    // per-query result-set size == K (corpus >> K at spec scale)
    ham.foreach { case (q, ns) => assert(ns.size == 10, s"query $q: ${ns.size} rows") }
    // signatures + thresholds are deterministic -> identical re-runs
    val a = SparkEntry.queries("ann_hamming_topk")(spark, sf)
      .collect().map(_.toString).sorted
    val b = SparkEntry.queries("ann_hamming_topk")(spark, sf)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("ann_ivf_topk recall@10 >= 0.5 vs brute force, and deterministic") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val ivf = neighbors("ann_ivf_topk")
    assert(truth.nonEmpty)
    val recalls = truth.map { case (q, t) =>
      ivf.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 $avg")
    // integer micro-unit centroid means -> bit-stable cells across runs
    val again = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .repartition(7).collect().map(_.toSeq).toSet
    val first = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(first == again)
  }

  test("ann_ivf_topk_staged == ann_ivf_topk (the staged inverted file serves identical rows)") {
    // The staged twin shares the in-query twin's oracle SQL verbatim, so
    // any drift (index round-trip, partition-column typing, probe tie
    // rule) must be caught here, not at the driver gate.
    val staged = SparkEntry.queries("ann_ivf_topk_staged")(spark, sf)
      .collect().map(_.toSeq).toSet
    val inQuery = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(staged.nonEmpty && staged == inQuery)
    // warm call hits the per-ingest cache and still serves the same rows
    val warm = SparkEntry.queries("ann_ivf_topk_staged")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(warm == inQuery)
  }

  test("ann_ivf_batch_staged == ann_ivf_batch (the sidecar hierarchy feeds TopCells exactly)") {
    val staged = SparkEntry.queries("ann_ivf_batch_staged")(spark, sf)
      .collect().map(_.toSeq).toSet
    val inQuery = SparkEntry.queries("ann_ivf_batch")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(staged.nonEmpty && staged == inQuery)
  }

  test("ann_ivf_topk_staged: the inverted-file scan is partition-pruned to probed cells") {
    // The family's scale claim at the STORAGE level: probed cells are
    // driver-known before the scan, so the staged parquet read must
    // carry a partition filter on cell — probe I/O ~nprobe/nlist of the
    // corpus, not a full-file scan. AQE off so collect() sees the scan.
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("ann_ivf_topk_staged")(spark, sf)
        .queryExecution.executedPlan
      val stagedScans = plan.collect {
        case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains("cell") => s
      }
      assert(stagedScans.nonEmpty, "staged inverted-file scan not found in the plan")
      assert(stagedScans.forall(_.partitionFilters.nonEmpty),
        "cell isin filter must statically prune the inverted file's partitions")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ann_ivf_batch: distributed probe ranking, recall@10 >= 0.5 on a 1000-query set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // clustered synthetic corpus: 2000 vectors around 25 centers with
    // deterministic per-vector jitter; 1000 of them double as queries
    val corpus = (0 until 2000).map { i =>
      val c = i % 25
      (i.toLong, Array.tabulate(64) { d =>
        math.sin(c * 3.1 + d * 0.73) + 0.08 * math.sin(i * 1.37 + d * 2.11)
      }.toSeq)
    }.toDF("vec_id", "v")
    val queries = corpus.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    assert(queries.count() == 1000)
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val got = neighbors(graft.operators.Ann.annIvfBatchFrom(spark, corpus, queries))
    // brute-force ground truth over the same frames
    val truth = neighbors(
      queries.crossJoin(corpus).filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.Vectors.cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id")))
    assert(truth.size == 1000)
    val recalls = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 $avg over 1000 queries")
    // every query returns ranked rows
    assert(got.size == 1000)
  }

  test("ann_pq_topk recall@10 >= 0.5 vs brute force, deterministic, k rows per query") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighbors("ann_brute_topk")
    val pq = neighbors("ann_pq_topk")
    assert(truth.nonEmpty)
    // every query comes back fully ranked
    assert(pq.keySet == truth.keySet)
    assert(pq.values.forall(_.size == truth.values.head.size))
    val recalls = truth.map { case (q, t) =>
      pq.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 $avg")
    // strided seeds + integer micro-unit Lloyd means -> bit-stable codes
    val again = SparkEntry.queries("ann_pq_topk")(spark, sf)
      .repartition(5).collect().map(_.toSeq).toSet
    val first = SparkEntry.queries("ann_pq_topk")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(first == again)
  }

  test("ann_pq_topk: ADC candidate rank is two-level, never a whole-corpus q_id partition") {
    // Plan pin for the 100x property: the first row_number over the
    // scored corpus must be partitioned by (q_id, vec_id%32); only the
    // ≤32·C survivors take a q_id-only window. Every caller of the
    // shared shortlist, each with its own score column.
    for ((query, score) <- Seq(("ann_pq_topk", "adc"), ("ann_sq_topk", "sq"),
        ("ann_hamming_topk", "ham"))) {
      val plan = SparkEntry.queries(query)(spark, sf)
        .queryExecution.optimizedPlan.toString
      // the shard key is projected as _w0 := pmod(vec_id, 32) below the window
      val rnLines = plan.split("\n").filter(_.contains("row_number()"))
      assert(plan.contains("pmod(vec_id") &&
        rnLines.exists(l => l.contains(s"$score#") && l.contains("_w0")),
        s"$query: no shard-level $score window:\n$plan")
    }
  }

  test("ann_ivfpq_topk: composed residual index recall >= 0.5, deterministic") {
    def neighborsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    def neighbors(name: String): Map[Long, Set[Long]] =
      neighborsOf(SparkEntry.queries(name)(spark, sf))
    val truth = neighbors("ann_brute_topk")
    val got = neighbors("ann_ivfpq_topk")
    assert(truth.nonEmpty)
    def avgRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) =>
        m.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val avg = avgRecall(got)
    assert(avg >= 0.5, s"avg recall@10 $avg")
    val again = SparkEntry.queries("ann_ivfpq_topk")(spark, sf)
      .repartition(3).collect().map(_.toSeq).toSet
    val first = SparkEntry.queries("ann_ivfpq_topk")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(first == again)
  }

  test("residual coding beats plain PQ on a clustered corpus (the case it exists for)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // tight clusters: residuals are jitter-sized (<< 1), so the shared
    // 4-bit codebook's resolution concentrates where the cell's vectors
    // actually live — the FAISS IVFx,PQy argument. On the loose gate
    // corpus (intra-cell cosine ~0.3, residual norm > 1) the advantage
    // inverts, which is why THIS spec owns the claim, not the gate.
    val corpus = (0 until 2000).map { i =>
      val c = i % 25
      (i.toLong, Array.tabulate(64) { d =>
        math.sin(c * 3.1 + d * 0.73) + 0.05 * math.sin(i * 1.37 + d * 2.11)
      }.toSeq)
    }.toDF("vec_id", "v")
    def neighborsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val truth = neighborsOf(
      corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
        .crossJoin(corpus).filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.Vectors.cosine(col("qv"), col("v")).as("cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id")))
    def avgRecall(m: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) =>
        m.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val res = avgRecall(neighborsOf(
      graft.operators.Ann.annIvfPqTopkOn(spark, corpus, residual = true)))
    val plain = avgRecall(neighborsOf(
      graft.operators.Ann.annIvfPqTopkOn(spark, corpus, residual = false)))
    assert(res >= plain,
      s"residual recall $res must be >= plain-PQ recall $plain on tight clusters")
    assert(res >= 0.8, s"residual recall on tight clusters should be high: $res")
  }

  test("ann_mmr_topk: first pick is pure relevance, scores non-increasing, picks from top-C") {
    val mmr = SparkEntry.queries("ann_mmr_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = SparkEntry.queries("ann_brute_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = mmr.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.values.forall(_.length == 10))
    val bruteTop1 = brute.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      // step 1 maximizes λ·rel alone — the relevance argmax
      assert(sorted.head._3 == bruteTop1(q), s"q$q first pick not relevance top-1")
      // the available max never rises once penalties only grow: each
      // step's winning score is <= the previous step's
      val scores = sorted.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q$q scores not non-increasing: ${scores.mkString(",")}")
    }
    // diversity actually bites somewhere: at least one query's pick set
    // differs from its pure top-10
    val top10 = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    assert(byQ.exists { case (q, rows) => rows.map(_._3).toSet != top10(q) },
      "MMR never diverged from pure top-k — λ penalty inert")
  }

  test("ann_filtered_topk: every hit shares the query's label, recall >= 0.5 vs filtered brute") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SparkEntry.queries("ann_filtered_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (q, n) =>
      assert(labels(n) == labels(q), s"hit $n label ${labels(n)} != query $q label ${labels(q)}")
    }
    // filtered ground truth: brute top-10 within the query's label
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("ql"), col("v").as("qv"))
    val truth = q.join(emb, col("q_id") =!= col("vec_id") && col("ql") === col("label"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Vectors.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 10)
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val gotByQ = got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val recalls = truth.map { case (k, t) =>
      gotByQ.getOrElse(k, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"filtered recall@10 $avg")
  }

  test("ann_filtered_batch: label purity + recall >= 0.5 vs filtered brute on the query table") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SparkEntry.queries("ann_filtered_batch")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (q, n) =>
      assert(labels(n) == labels(q), s"hit $n label ${labels(n)} != query $q label ${labels(q)}")
    }
    val q = emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("ql"), col("v").as("qv"))
    val truth = q.join(emb, col("q_id") =!= col("vec_id") && col("ql") === col("label"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Vectors.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 10)
      .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val gotByQ = got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val recalls = truth.map { case (k, t) =>
      gotByQ.getOrElse(k, Set.empty).intersect(t).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"filtered batch recall@10 $avg")
  }

  test("brute-force top-k is ranked descending with k rows per query") {
    val rows = SparkEntry.queries("ann_brute_topk")(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      val sims = byRank.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("mmrSelect: zero-norm (NaN-rel) candidates are excluded, never crash") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def cand(id: Long, rel: Double, v: Array[Double]) =
      new GenericInternalRow(Array[Any](id, rel, new GenericArrayData(v)))
    // a zero-norm vector's cosine rel is NaN — formerly it could never win
    // a pick (NaN never compares greater) yet still occupied the pool, and
    // an all-NaN tail left best = -1 → ArrayIndexOutOfBounds
    val mixed = new GenericArrayData(Array[Any](
      cand(1L, Double.NaN, Array(0.0, 0.0)),
      cand(2L, 0.9, Array(1.0, 0.0)),
      cand(3L, 0.8, Array(0.0, 1.0))))
    val out = graft.expressions.VectorKernels.mmrSelect(mixed, 3, 0.7, 0.3)
    assert(out.numElements() == 2, "NaN candidate must not count toward k")
    assert(out.getStruct(0, 2).getLong(0) == 2L)
    assert(out.getStruct(1, 2).getLong(0) == 3L)
    // all-NaN pool: zero picks, no throw
    val allNaN = new GenericArrayData(Array[Any](
      cand(7L, Double.NaN, Array(0.0, 0.0))))
    assert(graft.expressions.VectorKernels.mmrSelect(allNaN, 2, 0.7, 0.3)
      .numElements() == 0)
  }

  test("vec_stats: centroid norm bounded by RMS norm (Jensen)") {
    val rows = SparkEntry.queries("vec_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rms = r.getAs[Double]("rms_norm")
      val cn = r.getAs[Double]("centroid_norm")
      assert(cn <= rms + 1e-9, s"label ${r.get(0)}: centroid $cn > rms $rms")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  test("embed_outliers: every outlier sits below its cell mean, cells are real") {
    val outs = SparkEntry.queries("embed_outliers")(spark, sf).collect()
    assert(outs.nonEmpty, "gate corpus should surface affinity outliers")
    outs.foreach { r =>
      assert(r.getDouble(2) < r.getDouble(3),
        s"vec ${r.getLong(0)}: affinity ${r.getDouble(2)} not below mean ${r.getDouble(3)}")
    }
    val cells = SparkEntry.queries("embed_cluster_stats")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(outs.map(_.getLong(1)).toSet.subsetOf(cells), "outlier cells exist in the index")
  }

  test("ann_rrf_fusion: K rows per query, double-agreement dominates, legs traceable") {
    val rows = SparkEntry.queries("ann_rrf_fusion")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q: ${rs.length} rows")
      // every fused row must come from at least one leg
      rs.foreach(r => assert(!r.isNullAt(4) || !r.isNullAt(5), s"orphan row at $q"))
      // a doc ranked 1 by BOTH legs must win the fusion
      rs.find(r => !r.isNullAt(4) && r.getInt(4) == 1 &&
          !r.isNullAt(5) && r.getInt(5) == 1)
        .foreach(r => assert(r.getInt(1) == 1, s"double-#1 not fused #1 at $q"))
      // scores non-increasing down the fused ranking
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embed_cluster_stats: membership conserved, affinity finite, deterministic") {
    val rows = SparkEntry.queries("embed_cluster_stats")(spark, sf).collect()
    assert(rows.length >= 2, "gate corpus must build a real multi-cell index")
    val total = rows.map(_.getLong(1)).sum
    val corpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(total == corpus, s"members $total != corpus $corpus")
    rows.foreach { r =>
      assert(!r.isNullAt(3) && !r.getDouble(3).isNaN, s"cell ${r.getLong(0)} affinity")
      assert(r.getLong(1) > 0)
    }
    val again = SparkEntry.queries("embed_cluster_stats")(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("ann_range_search: no false positives vs brute >=tau set, recall >= 0.6") {
    import org.apache.spark.sql.functions._
    import graft.functions.Vectors
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .filter(col("q_id") < 20)
    val brute = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(Vectors.cosine(col("qv"), col("v")), 4) + 0.0).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("ann_range_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain >=tau pairs")
    val fps = got -- brute
    assert(fps.isEmpty, s"range search returned sub-threshold pairs: ${fps.take(3)}")
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"range recall $recall (${got.size}/${brute.size})")
  }

  test("embed_centroid_drift: conservation, spherical-Lloyd monotone gain") {
    val rows = SparkEntry.queries("embed_centroid_drift")(spark, sf).collect()
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == nVecs, "drift report must conserve the corpus")
    rows.foreach { r =>
      val (n, moved, share, gain) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(moved >= 0 && moved <= n, s"moved out of range: $r")
      assert(share == math.round(moved.toDouble / n * 10000) / 10000.0 + 0.0, s"share: $r")
      // spherical k-means: the mean-direction update + re-assignment can
      // only raise the summed dot, up to micro-unit rounding per vector
      assert(gain >= -1e-6, s"Lloyd step lost affinity: $r")
    }
  }

  test("embed_knn_graph: full coverage, no self loops, mutual flag is exact") {
    val rows = SparkEntry.queries("embed_knn_graph")(spark, sf).collect()
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.nonEmpty)
    val edges = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    rows.foreach { r =>
      val (q, n, mutual) = (r.getLong(0), r.getLong(2), r.getBoolean(4))
      assert(q != n, s"self loop at $r")
      assert(mutual == edges.contains((n, q)), s"mutual flag wrong at $r")
    }
    // every vector is a query vertex with consecutive ranks from 1
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == nVecs, s"${byQ.size} vertices for $nVecs vectors")
    byQ.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to g.length), s"ranks gap in $g")
    }
    // a corpus of near-cluster vectors must produce SOME mutual edges
    assert(rows.count(_.getBoolean(4)) > 0, "no mutual edges at all")
  }

  test("index-build driver state is bounded by a corpus-independent constant") {
    import graft.operators.Ann
    // ivfLists is the ONLY data-sized index dimension; every build-time
    // driver collect is ≤ nlist×dim rows (coarse seeds, sub-seeds, the
    // Lloyd partial-sum frame). The MaxLists ceiling therefore bounds
    // driver state at ~MaxLists×64×8 B regardless of corpus size.
    assert(Ann.ivfLists(1000L * 1000 * 1000) == Ann.MaxLists)
    assert(Ann.ivfLists(1000L * 1000 * 1000 * 1000) == Ann.MaxLists)
    // monotone: more data never means fewer cells
    val pts = Seq(100L, 10000L, 1000000L, 100000000L, 10000000000L).map(Ann.ivfLists)
    pts.sliding(2).foreach { case Seq(a, b) => assert(b >= a) }
    // the cap never binds at any registered/test corpus size (oracles
    // unchanged): sf0.01 ~500, sf0.1 ~5k, sf1 sweep ~50k vectors
    for (n <- Seq(500L, 5000L, 50000L))
      assert(Ann.ivfLists(n) ==
        math.max(8L, math.min(n / 64L, 4L * math.sqrt(n.toDouble).toLong)).toInt)
  }

  test("ann_probe_curve: monotone recall, nprobe=4 matches the registered IVF recall") {
    import org.apache.spark.sql.functions._
    val curve = SparkEntry.queries("ann_probe_curve")(spark, sf).collect()
    assert(curve.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    val rec = curve.map(_.getDouble(2))
    rec.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, s"recall must not drop with more probes: ${rec.toSeq}")
    }
    assert(rec.forall(r => r >= 0.0 && r <= 1.0))
    // the 4-probe point IS ann_ivf_topk's recall vs brute
    val truth = SparkEntry.queries("ann_brute_topk")(spark, sf)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfHits = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .select(col("q_id"), col("n_id")).collect()
      .count(r => truth((r.getLong(0), r.getLong(1))))
    assert(curve.find(_.getInt(0) == 4).get.getLong(1) == ivfHits.toLong)
  }
}
