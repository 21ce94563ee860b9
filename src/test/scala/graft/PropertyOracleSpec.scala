package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, IvfParams, KMeans, Similarity}
import SparkTestSession._

/** Property oracles for the declared queries DuckDB cannot replay
  * structurally (Spark-specific xxhash64, pruning heuristics): the
  * invariants the driver's rows-only check can't see, verified in-Spark
  * on the real testdata. These are the "oracle" halves of simhash_pairs,
  * embedding_topk_ivf and embedding_topk_ivf_kmeans.
  *
  * The two IVF queries additionally carry DuckDB replay oracles
  * (SparkEntry.oracleSql) that re-derive the probe set with DuckDB's own
  * FP sums. Those replays are only hash-stable while every ranking
  * decision (probe selection, per-round L2 argmin) sits far above
  * cross-engine ulp drift, so the margin tests below measure the actual
  * best-vs-second gaps on the live testdata and fail loudly if a
  * regeneration ever collapses one below its [[IvfParams]] floor —
  * instead of CORRECTNESS going silently flaky.
  */
class PropertyOracleSpec extends AnyFunSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  test("simhash_pairs is EXACTLY the hamming<=3 pair set (pigeonhole complete)") {
    val sims = Dedup.simhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute force over all pairs, driver-side (50 docs at sf0.001)
    val expected = (for {
      (da, ha) <- sims; (db, hb) <- sims if da < db
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (da, db, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  private def bruteForce(k: Int): Seq[(Long, Double)] =
    Similarity.cosineTopK(emb, queryId = IvfParams.QueryVecId, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** IVF property: every returned neighbor carries its TRUE cosine (same
    * value as brute force), ranking is consistent, and pruned recall@10
    * stays useful (the deterministic measured value, floored).
    */
  test("embedding_topk_ivf: results are true-cosine consistent with brute force") {
    val full = bruteForce(500).toMap
    val ivf = Similarity.cosineTopKIvf(emb, queryId = IvfParams.QueryVecId,
      k = IvfParams.K, nprobe = IvfParams.Label.Nprobe).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length == IvfParams.K)
    ivf.foreach { case (v, c) =>
      assert(full.contains(v) && full(v) == c, s"vec $v cosine $c diverges from brute force")
    }
    assert(ivf.map(_._2).toSeq == ivf.map(_._2).sorted.reverse.toSeq) // ranked desc
    // labels are RANDOM partitions in the testdata (not similarity
    // clusters) — the true top-10 spans 7 of the 10 labels — so label-IVF
    // needs a wider probe than a learned quantizer: nprobe=4 measures
    // 7/10 (still a 2.5× scan prune). The k-means quantizer below is the
    // canonical IVF (9/10 at nprobe=3 of nlist=8).
    val recall = ivf.map(_._1).toSet.intersect(bruteForce(IvfParams.K).map(_._1).toSet).size
    assert(recall >= IvfParams.Label.RecallFloor,
      s"nprobe=${IvfParams.Label.Nprobe} recall@10 collapsed to $recall/10 " +
        s"(measured ${IvfParams.Label.MeasuredRecall}, floor ${IvfParams.Label.RecallFloor})")
  }

  test("embedding_topk_rerank: true-cosine consistent; MRL recall@10 floored") {
    val full = bruteForce(500).toMap
    val rr = Similarity.cosineTopKRerank(emb, queryId = IvfParams.QueryVecId,
        k = IvfParams.K, dims = IvfParams.Mrl.Dims,
        coarseK = IvfParams.Mrl.CoarseK).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rr.length == IvfParams.K)
    // the rerank stage recomputes the EXACT full-dim cosine, so every
    // returned value must equal brute force bit-for-bit
    rr.foreach { case (v, c) =>
      assert(full.contains(v) && full(v) == c, s"vec $v cosine $c diverges from brute force")
    }
    assert(rr.map(_._2).toSeq == rr.map(_._2).sorted.reverse.toSeq)
    val recall = rr.map(_._1).toSet
      .intersect(bruteForce(IvfParams.K).map(_._1).toSet).size
    assert(recall >= IvfParams.Mrl.RecallFloor,
      s"MRL recall@10 collapsed to $recall/10 " +
        s"(measured ${IvfParams.Mrl.MeasuredRecall}, floor ${IvfParams.Mrl.RecallFloor})")
  }

  test("embedding_topk_ivfadc: true-cosine consistent; composed recall@10 floored") {
    val full = bruteForce(500).toMap
    val adc = Similarity.ivfAdcTopK(emb, queryId = IvfParams.QueryVecId,
        k = IvfParams.K, nprobe = IvfParams.Label.Nprobe,
        m = IvfParams.Pq.M, nCentroids = IvfParams.Pq.NCentroids,
        rerankN = IvfParams.IvfAdc.RerankN).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(adc.length == IvfParams.K)
    // the re-rank stage recomputes the EXACT full-dim cosine, so every
    // returned value must equal brute force bit-for-bit
    adc.foreach { case (v, c) =>
      assert(full.contains(v) && full(v) == c, s"vec $v cosine $c diverges from brute force")
    }
    assert(adc.map(_._2).toSeq == adc.map(_._2).sorted.reverse.toSeq)
    // composed quality: probe loses what label-IVF loses, the ADC head
    // can lose a little more before the exact re-rank recovers it
    val recall = adc.map(_._1).toSet
      .intersect(bruteForce(IvfParams.K).map(_._1).toSet).size
    assert(recall >= IvfParams.IvfAdc.RecallFloor,
      s"IVFADC recall@10 collapsed to $recall/10 " +
        s"(measured ${IvfParams.IvfAdc.MeasuredRecall}, floor ${IvfParams.IvfAdc.RecallFloor})")
  }

  test("events_quantiles_sampled: sampled quantiles land within the exact rank-error band") {
    // the 1/8 deterministic sample trades exactness for a 2^shift read
    // reduction; the audited property is bounded RANK error — each
    // sampled p50 must fall inside the exact p35–p65 band of its type
    // (≈ ±3/√n_sample rank error at n_sample ≈ 200/type on sf0.01)
    import org.apache.spark.sql.functions.expr
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val sampled = graft.pipeline.Events.sampledValueQuantiles(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sampled.nonEmpty)
    val bands = ev.groupBy("event_type")
      .agg(expr("percentile_disc(0.35) WITHIN GROUP (ORDER BY value)").as("lo"),
        expr("percentile_disc(0.65) WITHIN GROUP (ORDER BY value)").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    sampled.foreach { case (t, n, p50) =>
      assert(n > 50, s"type $t sample too small ($n) for the audit to mean anything")
      val (lo, hi) = bands(t)
      assert(p50 >= lo && p50 <= hi,
        s"type $t sampled p50 $p50 outside exact p35-p65 band [$lo, $hi]")
    }
  }

  test("label_noise_ann: suspect verdicts agree with the exact kernel above the floor") {
    // the pruned path (in-cluster candidates only) must stay a faithful
    // stand-in for the exact all-pairs kernel it replaces at scale —
    // fraction of matching `suspect` flags, floored (the IVF-recall
    // pattern; measured value recorded in AGREEMENT.json)
    val exact = Similarity.labelNoise(emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getBoolean(4))).toMap
    val ann = Similarity.labelNoiseAnn(emb, k = 10,
        nlist = IvfParams.Kmeans.Nlist, iters = IvfParams.Kmeans.Iters)
      .collect().map(r => (r.getLong(0), r.getBoolean(4)))
    assert(ann.nonEmpty)
    val common = ann.filter { case (v, _) => exact.contains(v) }
    val agreement = common.count { case (v, s) => exact(v) == s }.toDouble / common.length
    assert(agreement >= IvfParams.LabelNoise.AgreementFloor,
      f"ANN/exact suspect agreement collapsed to $agreement%.4f " +
        s"(measured ${IvfParams.LabelNoise.MeasuredAgreement}, " +
        s"floor ${IvfParams.LabelNoise.AgreementFloor})")
  }

  test("embedding_topk_ivf_kmeans: results are true-cosine consistent with brute force") {
    val full = bruteForce(500).toMap
    val ivf = KMeans.ivfTopK(emb, queryId = IvfParams.QueryVecId, k = IvfParams.K,
      nlist = IvfParams.Kmeans.Nlist, nprobe = IvfParams.Kmeans.Nprobe,
      iters = IvfParams.Kmeans.Iters)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length == IvfParams.K)
    ivf.foreach { case (v, c) =>
      assert(full.contains(v) && full(v) == c, s"vec $v cosine $c diverges from brute force")
    }
    assert(ivf.map(_._2).toSeq == ivf.map(_._2).sorted.reverse.toSeq)
    // measured deterministic value 9/10 (RECALL.json) — floor 8 so a
    // silent recall regression (e.g. a quantizer or seeding change
    // dropping it to 6) FAILS CI instead of passing under a slack floor
    val recall = ivf.map(_._1).toSet.intersect(bruteForce(IvfParams.K).map(_._1).toSet).size
    assert(recall >= IvfParams.Kmeans.RecallFloor,
      s"nprobe=${IvfParams.Kmeans.Nprobe}/nlist=${IvfParams.Kmeans.Nlist} recall@10 " +
        s"collapsed to $recall/10 (measured ${IvfParams.Kmeans.MeasuredRecall}, " +
        s"floor ${IvfParams.Kmeans.RecallFloor})")
  }

  // ---- FP-margin guards for the DuckDB replay oracles -------------------
  //
  // Driver-side double-precision replication of the deterministic
  // pipelines (sf0.01 embeddings fit trivially on the driver). Summation
  // order differs from both engines by at most ~1e-12 on 64-term sums,
  // five-plus orders below every floor, so a margin measured here bounds
  // the cross-engine one.

  /** (vec_id, label, embedding as double) collected once. */
  private lazy val rawVecs: Array[(Long, Long, Array[Double])] =
    emb.select(col("vec_id").cast("long"), col("label").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).map(_.toDouble).toArray))

  private lazy val queryVec: Array[Double] =
    rawVecs.find(_._1 == IvfParams.QueryVecId).get._3

  private def meanVec(vs: Iterable[Array[Double]]): Array[Double] = {
    val d = vs.head.length
    val m = new Array[Double](d)
    vs.foreach(v => (0 until d).foreach(i => m(i) += v(i)))
    (0 until d).foreach(i => m(i) /= vs.size)
    m
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def sqL2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    a.indices.foreach { i => val d = a(i) - b(i); s += d * d }
    s
  }

  test("label-IVF probe margin: nprobe-th vs next label cosine gap above floor") {
    val cents = rawVecs.groupBy(_._2).view.mapValues(g => meanVec(g.map(_._3))).toMap
    val ranked = cents.toSeq
      .map { case (label, c) => (label, cosine(c, queryVec)) }
      .sortBy { case (label, cc) => (-cc, label) }
    assert(ranked.size > IvfParams.Label.Nprobe, "testdata has too few labels to probe-prune")
    val margin = ranked(IvfParams.Label.Nprobe - 1)._2 - ranked(IvfParams.Label.Nprobe)._2
    assert(margin >= IvfParams.Label.ProbeMarginFloor,
      f"label probe margin collapsed to $margin%.3g " +
        f"(floor ${IvfParams.Label.ProbeMarginFloor}%.0e, measured 0.027 on sf0.01): " +
        "the DuckDB replay oracle for embedding_topk_ivf is no longer ulp-safe")
  }

  test("k-means-IVF margins: per-round argmin gaps and probe gap above floors") {
    import IvfParams.Kmeans._
    // seeds = the Nlist smallest vec_ids (KMeans.seedCentroids)
    var centroids: Seq[(Long, Array[Double])] =
      rawVecs.sortBy(_._1).take(Nlist).zipWithIndex
        .map { case ((_, _, e), i) => (i.toLong, e) }.toSeq
    var minGap = Double.MaxValue
    var assigned: Array[(Long, Array[Double], Long)] = null
    // rounds 1..Iters update centroids; round Iters+1 is the final assign
    // (KMeans.fit: `iters` update loops + one eager final assignment)
    (1 to Iters + 1).foreach { _ =>
      assigned = rawVecs.map { case (id, _, e) =>
        val byDist = centroids
          .map { case (c, m) => (c, sqL2(e, m)) }
          .sortBy { case (c, d) => (d, c) }
        if (byDist.size > 1) {
          val gap = byDist(1)._2 - byDist.head._2
          if (gap < minGap) minGap = gap
        }
        (id, e, byDist.head._1)
      }
      centroids = assigned.groupBy(_._3).view
        .mapValues(g => meanVec(g.map(_._2))).toSeq
        .sortBy(_._1).map { case (c, m) => (c, m) }
    }
    assert(minGap >= ArgminMarginFloor,
      f"min best-vs-second L2 argmin gap collapsed to $minGap%.3g " +
        f"(floor $ArgminMarginFloor%.0e, measured 6.7e-6 on sf0.01): " +
        "the unrolled Lloyd oracle for embedding_topk_ivf_kmeans is no longer ulp-safe")
    // probe = top-Nprobe clusters of the FINAL-assignment centroids by
    // squared L2 to the query (KMeans.ivfTopK re-derives centroidsOf(fitted))
    val ranked = centroids
      .map { case (c, m) => (c, sqL2(queryVec, m)) }
      .sortBy { case (c, d) => (d, c) }
    assert(ranked.size > Nprobe, "final quantizer collapsed below nprobe clusters")
    val probeGap = ranked(Nprobe)._2 - ranked(Nprobe - 1)._2
    assert(probeGap >= ProbeMarginFloor,
      f"k-means probe margin collapsed to $probeGap%.3g " +
        f"(floor $ProbeMarginFloor%.0e, measured 9.5e-3 on sf0.01): " +
        "the probe selection in the replay oracle is no longer ulp-safe")
  }

  // ---- bench-scale (sf0.1) recall floors --------------------------------
  //
  // RECALL.json floors only covered the driver's verify scale (sf0.01);
  // the bench scale had no recorded recall guard at all. Verify now
  // writes RECALL.sf0.1.json for sf0.1 runs, and this test keeps the
  // committed artifact honest by re-measuring recall@10 live on the
  // sf0.1 testdata against the IvfParams floors (measured − 1, the same
  // derivation as the sf0.01 floors).

  // ---- sampled-betweenness accuracy contract ----------------------------
  //
  // betweenness_top50 ships the SAMPLED estimator (4 md5-drawn sources,
  // depth ≤ 4 — the only shape that survives 100 TB); its DuckDB replay
  // oracle checks determinism, not estimation quality. This records what
  // sampling buys: exact Brandes (every vertex a source, unbounded depth,
  // same directed-dependency definition) is cheap on sf0.001, so measure
  // top-50 overlap and Kendall tau-b live and floor them the IvfParams
  // way (BetweennessParams).

  test("betweenness_top50 sampling accuracy vs exact Brandes stays above the floors (sf0.001)") {
    import graft.graph.{BetweennessParams, DerivedGraphs, GraphOps}
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.symmetrize(
      DerivedGraphs.partSuppEdges(spark, dir), dedup = false)
    def scores(sources: org.apache.spark.sql.DataFrame, depth: Int): Map[Long, Double] =
      GraphOps.betweennessSampled(edges, sources, maxDepth = depth)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // exact: every vertex is a source (symmetrized edges ⇒ src covers all
    // non-isolated vertices); depth 64 ≫ diameter, the loop exits on the
    // first empty frontier
    val exact = scores(edges.select(col("src").as("s")).distinct(), 64)
    val sampled = scores(SparkEntry.betweennessSources(spark, dir),
      BetweennessParams.MaxDepth)
    // Scores are double sums whose last bits follow the physical plan's
    // summation order: equal scores differ by up to ~33 ulps across plans.
    // Ties are therefore decided with an ulp tolerance: in the top-50
    // sort a score joins the tie class of the highest score it is within
    // tolerance of (classes rank by that head score, members by vertex
    // id), and tau-b counts a pair as tied the same way.
    val TieUlps = 256
    def tied(a: Double, b: Double): Boolean =
      math.abs(a - b) <= TieUlps * math.ulp(math.max(math.abs(a), math.abs(b)))
    def top50(m: Map[Long, Double]): Seq[Long] = {
      var head = Double.NaN
      m.toSeq.sortBy(-_._2).map { case (v, bc) =>
        if (head.isNaN || !tied(head, bc)) head = bc
        (head, v)
      }.sortBy { case (h, v) => (-h, v) }.take(50).map(_._2)
    }
    val eTop = top50(exact)
    val overlap = eTop.toSet.intersect(top50(sampled).toSet).size
    // Kendall tau-b over exact's top-50 vertices (sampled score 0 when
    // the estimator never reached a vertex)
    var conc = 0; var disc = 0; var tieE = 0; var tieS = 0; var n0 = 0
    for (i <- eTop.indices; j <- i + 1 until eTop.size) {
      n0 += 1
      val (e1, e2) = (exact(eTop(i)), exact(eTop(j)))
      val (s1, s2) = (sampled.getOrElse(eTop(i), 0.0), sampled.getOrElse(eTop(j), 0.0))
      val te = tied(e1, e2); val ts = tied(s1, s2)
      if (te) tieE += 1
      if (ts) tieS += 1
      if (!te && !ts) { if ((e1 - e2) * (s1 - s2) > 0) conc += 1 else disc += 1 }
    }
    val tau = (conc - disc).toDouble /
      math.sqrt((n0 - tieE).toDouble * (n0 - tieS).toDouble)
    val tauMilli = (tau * 1000).toInt
    info(s"sampled-vs-exact betweenness on sf0.001: overlap@50=$overlap/50, " +
      f"tau-b=$tau%.3f (conc=$conc disc=$disc tieE=$tieE tieS=$tieS)")
    import BetweennessParams.AccuracySf0001._
    assert(overlap >= Top50OverlapFloor,
      s"top-50 overlap collapsed to $overlap/50 " +
        s"(measured $MeasuredTop50Overlap, floor $Top50OverlapFloor): " +
        "the sampled estimator no longer tracks exact Brandes")
    assert(tauMilli >= TauMilliFloor,
      s"Kendall tau-b collapsed to ${tauMilli / 1000.0} " +
        s"(measured ${MeasuredTauMilli / 1000.0}, floor ${TauMilliFloor / 1000.0}): " +
        "the sampled ranking no longer tracks exact Brandes")
  }

  test("sf0.1 (bench scale) recall@10 stays above the RECALL.sf0.1.json floors") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val truth = Similarity.cosineTopK(emb01, queryId = IvfParams.QueryVecId,
      k = IvfParams.K).collect().map(_.getLong(0)).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().map(_.getLong(0)).toSet.intersect(truth).size
    val rLabel = recall(Similarity.cosineTopKIvf(emb01,
      queryId = IvfParams.QueryVecId, k = IvfParams.K,
      nprobe = IvfParams.Label.Nprobe))
    assert(rLabel >= IvfParams.Label.RecallFloorSf01,
      s"sf0.1 label-IVF recall@10 collapsed to $rLabel/10 " +
        s"(measured ${IvfParams.Label.MeasuredRecallSf01}, " +
        s"floor ${IvfParams.Label.RecallFloorSf01})")
    val rKmeans = recall(KMeans.ivfTopK(emb01,
      queryId = IvfParams.QueryVecId, k = IvfParams.K,
      nlist = IvfParams.Kmeans.Nlist, nprobe = IvfParams.Kmeans.Nprobe,
      iters = IvfParams.Kmeans.Iters))
    assert(rKmeans >= IvfParams.Kmeans.RecallFloorSf01,
      s"sf0.1 k-means-IVF recall@10 collapsed to $rKmeans/10 " +
        s"(measured ${IvfParams.Kmeans.MeasuredRecallSf01}, " +
        s"floor ${IvfParams.Kmeans.RecallFloorSf01})")
    val rIvfAdc = recall(Similarity.ivfAdcTopK(emb01,
      queryId = IvfParams.QueryVecId, k = IvfParams.K,
      nprobe = IvfParams.Label.Nprobe, m = IvfParams.Pq.M,
      nCentroids = IvfParams.Pq.NCentroids,
      rerankN = IvfParams.IvfAdc.RerankN))
    assert(rIvfAdc >= IvfParams.IvfAdc.RecallFloorSf01,
      s"sf0.1 IVFADC recall@10 collapsed to $rIvfAdc/10 " +
        s"(measured ${IvfParams.IvfAdc.MeasuredRecallSf01}, " +
        s"floor ${IvfParams.IvfAdc.RecallFloorSf01})")
  }
}
