package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, Similarity, TextStats}
import SparkTestSession._

class PipelineSpec extends AnyFunSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars",
      org.apache.spark.sql.functions.length($"text").cast("long"))

  test("global rank without a window: percent_rank and ntile match SQL semantics") {
    import graft.pipeline.Ranking
    // 7 customers, k=10 > n exercises the uneven-bucket branch fully
    // (q=0, r=7: every bucket is size 1, deciles 1..7)
    val orders = (1 to 7).flatMap(c => Seq((c.toLong, c * 100.0)))
      .toDF("o_custkey", "o_totalprice")
    val out = Ranking.revenuePercentiles(orders, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    // revenue ascends with custkey → rank == custkey order
    assert(out.map(_._1).toSeq == (1L to 7L))
    assert(out.map(_._2).toSeq == (0 to 6).map(_ / 6.0))
    assert(out.map(_._3).toSeq == (1L to 7L))
    // n=25, k=10: first 5 buckets take 3 rows, the rest 2 (SQL ntile)
    val orders25 = (1 to 25).map(c => (c.toLong, c * 10.0)).toDF("o_custkey", "o_totalprice")
    val deciles = Ranking.revenuePercentiles(orders25, k = 10).collect().map(_.getLong(3))
    val sizes = deciles.groupBy(identity).view.mapValues(_.length).toMap
    assert((1L to 5L).forall(sizes(_) == 3) && (6L to 10L).forall(sizes(_) == 2))
    // single row: percent_rank is defined as 0
    val one = Ranking.revenuePercentiles(Seq((1L, 5.0)).toDF("o_custkey", "o_totalprice"))
    assert(one.collect().head.getDouble(2) == 0.0)
  }

  test("exact dedup keeps min doc_id per identical text") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = Dedup.exactDedup(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("ngram jaccard: identical docs score 1.0; disjoint docs absent") {
    val d = docs(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "q r s t u v"))
    val out = Dedup.ngramJaccardPairs(d, w = 3, threshold = 0.1).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 1.0)
  }

  test("sorted neighborhood: sort-adjacent near-dups found, sort-distant dups missed by design") {
    // docs 1/2 share the prefix → same block, adjacent in sort order →
    // candidate pair, Jaccard 3/5 (shingles {abc,bcd,cde,def} vs
    // {abc,bcd,cde,xyz... }) — hand-computed below. Doc 4 is a near-dup of
    // doc 1 but starts with different words: different block → MISSED,
    // the documented limitation of the family.
    val d = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "omega psi chi phi upsilon"),
      (4L, "zz alpha beta gamma delta epsilon"))
    val out = Dedup.sortedNeighborhoodPairs(d, window = 3, w = 3,
        threshold = 0.1, blockLen = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // doc1 shingles: {a b g, b g d, g d e}; doc2: {a b g, b g d, g d z}
    // inter = 2, union = 4 → 0.5
    assert(out == Seq((1L, 2L, 0.5)))
    // degenerate window is rejected, not silently empty
    assertThrows[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(d, window = 0)
    }
  }

  test("ngram containment: a quoted doc scores 1.0 toward its container, "
    + "the container scores |A∩B|/|B| back") {
    val d = docs(
      (1L, "a b c d e"),               // shingles {abc, bcd, cde}
      (2L, "a b c d e f g h"),         // contains all 3 of doc 1's + 3 more
      (3L, "q r s t u v"))             // disjoint
    val out = Dedup.ngramContainmentPairs(d, w = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 2L, 1.0), (2L, 1L, 0.5)))
  }

  test("tf cosine pairs: inverted-index join scores shared-term docs; df cap prunes") {
    val d = docs(
      (1L, "a a b"),     // tf a:2 b:1, s2 = 5
      (2L, "a a b b"),   // tf a:2 b:2, s2 = 8
      (3L, "z z"))       // disjoint
    val out = Dedup.tfCosinePairs(d, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // dot(1,2) = 2*2 + 1*2 = 6; cosine = 6/sqrt(5*8) — a single IEEE op tree
    assert(out == Seq((1L, 2L, 6.0 / math.sqrt(40.0))))
    // df cap 1 drops both shared terms (each in 2 docs) — no pairs survive
    assert(Dedup.tfCosinePairs(d, threshold = 0.6, maxDocFreq = 1L).isEmpty)
  }

  test("minhash LSH finds high-jaccard pairs and skips dissimilar ones") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
    val d = docs(
      (1L, base),
      (2L, base + " w21"),      // near-dup of 1
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"))
    val out = Dedup.minhashLshPairs(d, w = 3, threshold = 0.8).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("dedup clusters: transitive chain merges, singletons self-cluster") {
    // jac(1,2)=0.923, jac(2,3)=0.857 (both >= 0.8) but jac(1,3)=0.786 —
    // only transitivity puts 1 and 3 in one cluster
    val toks = (1 to 30).map(i => s"w$i")
    val d = docs(
      (1L, toks.slice(0, 26).mkString(" ")),
      (2L, toks.slice(0, 28).mkString(" ")),
      (3L, toks.slice(2, 30).mkString(" ")),
      (4L, "q r s t u v"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
    val out = Dedup.dedupClusters(d, w = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L), (4L, 4L, 1L)))
  }

  test("bigram freq keeps duplicates; char entropy hand computations") {
    val d = docs((1L, "a b a b a"), (2L, "x"))
    val grams = TextStats.ngramFreq(d, n = 2, topN = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(grams == Map("a b" -> 2L, "b a" -> 2L)) // doc 2 too short, dups kept
    val ent = TextStats.charEntropy(d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // doc 2 "x": one char, entropy 0
    assert(ent(2L) == ((1L, 0.0)))
    // doc 1 "a b a b a": chars a×3, b×2, space×4 → H = -Σ p log2 p over 9
    val h = -Seq(3.0, 2.0, 4.0).map(f => f / 9 * (math.log(f / 9) / math.log(2))).sum
    assert(ent(1L)._1 == 3L)
    assert(math.abs(ent(1L)._2 - BigDecimal(h).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("event transitions: per-user consecutive type pairs, corpus-wide counts") {
    import org.apache.spark.sql.functions.col
    val base = 1700000000000L
    val ev = Seq(
      (1L, 1L, new java.sql.Timestamp(base), "view"),
      (2L, 1L, new java.sql.Timestamp(base + 1000), "click"),
      (3L, 1L, new java.sql.Timestamp(base + 2000), "view"),
      (4L, 2L, new java.sql.Timestamp(base + 500), "view"),
      (5L, 2L, new java.sql.Timestamp(base + 1500), "click"),
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.pipeline.Events.typeTransitions(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out == Map(("view", "click") -> 2L, ("click", "view") -> 1L))
  }

  test("valueQuantiles: PERCENTILE_DISC picks the smallest value with CDF >= p") {
    val ev = (1 to 4).map(i => (i.toLong, "view", i.toDouble)) :+ ((5L, "click", 7.5))
    val df = ev.toDF("event_id", "event_type", "value")
    val out = graft.pipeline.Events.valueQuantiles(df).collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // view values {1,2,3,4}: p50 → 2 (CDF 0.5), p90/p99 → 4; discrete, not interpolated
    assert(out("view") == ((2.0, 4.0, 4.0, 4L)))
    assert(out("click") == ((7.5, 7.5, 7.5, 1L)))
  }

  test("histQuantiles: equi-width sketch interpolates within the selected bin, ±1 width of truth") {
    // values 1..100, width 10: bins 0 (1..9, cs 9), 1..9 (cs 10 each),
    // 10 (value 100, cs 1); cum(bin5) = 59 is the first >= p50 target
    val ev = (1 to 100).map(i => (i.toLong, "view", i.toDouble))
    val df = ev.toDF("event_id", "event_type", "value")
    val out = graft.pipeline.Events.histQuantiles(df).collect()
      .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // p50: bin 5 (cumb 49, cs 10): 50 + 10*(5000-4900)/1000 = 51.0
    assert(out(50L) == ((100L, 5L, 51.0)), s"p50 ${out(50L)}")
    // p90: bin 9 (cum 99 first >= 90): 90 + 10*(9000-8900)/1000 = 91.0
    assert(out(90L) == ((100L, 9L, 91.0)), s"p90 ${out(90L)}")
    // p99: still bin 9: 90 + 10*(9900-8900)/1000 = 100.0 (bin upper edge)
    assert(out(99L) == ((100L, 9L, 100.0)), s"p99 ${out(99L)}")
    // accuracy contract: each estimate within one width of the exact
    // discrete quantile (50.0/90.0/99.0)
    assert(math.abs(out(50L)._3 - 50.0) <= 10.0)
    assert(math.abs(out(90L)._3 - 90.0) <= 10.0)
    assert(math.abs(out(99L)._3 - 99.0) <= 10.0)
  }

  test("winsorize clamps into the discrete [p01, p99] band; madOutliers flags robustly") {
    val ev = (1 to 100).map(i => (i.toLong, "view", i.toDouble))
    val df = ev.toDF("event_id", "event_type", "value")
    val w = graft.pipeline.Events.winsorize(df).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    // p01 = 1 (CDF 0.01), p99 = 99 (CDF 0.99): 100 clamps down, 1 stays
    assert(w(100L) == 99.0 && w(1L) == 1.0 && w(50L) == 50.0)
    // MAD: values {1,2,3,4,100} → med 3, adev {2,1,0,1,97}, MAD 1;
    // only |100-3| > 3·1 is flagged
    val ev2 = Seq((1L, "view", 1.0), (2L, "view", 2.0), (3L, "view", 3.0),
      (4L, "view", 4.0), (5L, "view", 100.0)).toDF("event_id", "event_type", "value")
    val out = graft.pipeline.Events.madOutliers(ev2).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(out == Seq((5L, 100.0, 3.0, 1.0)))
  }

  test("hash sample: deterministic, nested, hash-ranked") {
    val d = docs((1 to 20).map(i => (i.toLong, s"doc $i")): _*)
    val s5 = pipeline.Curation.hashSample(d, 5).collect().map(_.getLong(0)).toSeq
    val s10 = pipeline.Curation.hashSample(d, 10).collect().map(_.getLong(0)).toSeq
    assert(s5 == s10.take(5)) // nesting: smaller sample is a prefix
    assert(s5.toSet.subsetOf((1L to 20L).toSet))
    // deterministic across runs
    assert(s5 == pipeline.Curation.hashSample(d, 5).collect().map(_.getLong(0)).toSeq)
  }

  test("decontaminateFuzzy: a benchmark rephrasing is flagged where exact k-grams would miss it") {
    // benchmark doc 0; corpus doc 20 shares the long tail but changes the
    // FIRST word — every exact 5-gram window differs near the head, but
    // the 3-gram shingle Jaccard stays high; doc 21 is unrelated
    val d = docs(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "REPHRASED beta gamma delta epsilon zeta eta theta iota kappa"),
      (21L, "totally different words about other things entirely here now"))
    val rows = pipeline.Curation.decontaminateFuzzy(d, benchmarkMaxId = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(rows.keySet == Set(20L, 21L))
    val (n20, j20, c20) = rows(20L)
    assert(c20 && n20 == 1L, s"near-copy must flag: ${rows(20L)}")
    // shared shingles: 7 of each doc's 8 → J = 7/9
    assert(math.abs(j20 - 7.0 / 9.0) < 1e-12)
    val (n21, j21, c21) = rows(21L)
    assert(!c21 && n21 == 0L && j21 == 0.0, s"unrelated doc must pass: ${rows(21L)}")
  }

  test("neymanSample: variable stratum draws the budget, zero-variance stratum draws none") {
    // stratum A: 10 docs, lengths alternate 100/900 (high variance);
    // stratum B: 10 docs, all length 500 (zero variance -> w = 0)
    val rows = (0L until 10L).map(i =>
        (i, "A", if (i % 2 == 0) 100L else 900L)) ++
      (10L until 20L).map(i => (i, "B", 500L))
    val d = rows.toDF("doc_id", "source", "n_chars")
      .withColumn("text", org.apache.spark.sql.functions.lit("x"))
    val out = pipeline.Curation.neymanSample(d, n = 6L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 == "A"), s"zero-variance stratum must draw nothing: ${out.toSeq}")
    // all of A's weight -> floor(6 * wA / wA) = 6 picks from A
    assert(out.length == 6, s"allocation must give A the whole budget: ${out.toSeq}")
    assert(out.map(_._4).sorted.toSeq == (1L to 6L), "ranks are 1..n_alloc")
    // deterministic across runs
    val again = pipeline.Curation.neymanSample(d, n = 6L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == again.toSeq)
  }

  test("neymanSample: weights survive stratum moments that would wrap the int64 cross-product") {
    // stratum H: 2000 docs of ~3e6 chars. Exact-integer n_h·Σx² ≈
    // 2000 · 1.8e16 = 3.6e19 > 2^63 ≈ 9.2e18 — the r12 finding: the old
    // BIGINT cross-product silently wrapped (negative → sqrt(NaN) → w=0),
    // starving the highest-variance stratum. Σx² itself stays exact
    // (1.8e16), so only the cross-product is at risk — exactly the term
    // now computed in double.
    val rows = (0L until 2000L).map(i => (i, "H", 3000000L + (i % 1000L) * 1000L)) ++
      (2000L until 2010L).map(i => (i, "L", 500L)) // zero-variance control
    val d = rows.toDF("doc_id", "source", "n_chars")
      .withColumn("text", org.apache.spark.sql.functions.lit("x"))
    val out = pipeline.Curation.neymanSample(d, n = 8L).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty, "overflow-era behavior: wrapped weight starved the sample")
    assert(out.forall(_._1 == "H"), s"zero-variance L must draw nothing: ${out.toSeq}")
    // the double-space weight must equal the spec's own double replay of
    // sqrt(n_h·Σx² − (Σx)²)·1e6 — same IEEE op tree, same bits
    val xs = (0L until 2000L).map(i => 3000000L + (i % 1000L) * 1000L)
    val (nH, sx, sxx) = (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    val expectedW = math.floor(math.sqrt(math.max(
      nH.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble, 0.0)) * 1000000.0).toLong
    assert(expectedW > 0L)
    assert(out.forall(_._2 == expectedW),
      s"w_int ${out.head._2} != double-replay $expectedW")
    assert(out.length == 8 && out.forall(_._3 == 8L), "H takes the whole budget")
  }

  test("dedup clusters property: random planted dup groups recover exactly") {
    // plant groups of near-identical docs (same long base, tiny suffix
    // variation -> pairwise jaccard >= 0.8 within a group, ~0 across);
    // expected clustering = the planted grouping, keeper = min doc_id
    val rnd = new scala.util.Random(13)
    def baseTokens() = Seq.fill(30)(s"t${rnd.nextInt(5000)}")
    var next = 0L
    val groups = (0 until 8).map { _ =>
      val base = baseTokens()
      val size = 1 + rnd.nextInt(4)
      (0 until size).map { _ =>
        val id = next; next += 1
        // vary by appending 0-2 tokens: shingle overlap stays >= 28/32
        (id, (base ++ Seq.fill(rnd.nextInt(3))(s"x${rnd.nextInt(100)}")).mkString(" "))
      }
    }
    val d = docs(groups.flatten: _*)
    val out = Dedup.dedupClusters(d, w = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    groups.foreach { g =>
      val ids = g.map(_._1)
      val expected = ids.min
      ids.foreach { id =>
        assert(out(id) == expected, s"doc $id clustered to ${out(id)}, want $expected")
      }
    }
  }

  test("length strata: deterministic per-source deciles") {
    import org.apache.spark.sql.functions.lit
    val d = docs((1L, "aaaaa"), (2L, "a" * 10), (3L, "a" * 15))
      .withColumn("source", lit("s0"))
      .unionByName(docs((4L, "bb")).withColumn("source", lit("s1")))
    val out = pipeline.Curation.lengthStrata(d, buckets = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "s0", 1L), (2L, "s0", 2L), (3L, "s0", 3L), (4L, "s1", 1L)))
  }

  test("simhash: identical docs have identical hashes; hamming 0 pair found") {
    val d = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "one two three four"))
    val hashes = Dedup.simhash(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes(1L) == hashes(2L))
    val pairs = Dedup.simhashPairs(d, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("cosine topk ranks an identical vector first") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.9f, 0.1f, 0.0f), 0),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineTopK(e, 0L, 3).collect()
    assert(out(0).getLong(0) == 1L && out(0).getDouble(1) == 1.0)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L))
  }

  test("quantizedTopK: hand-computed int8 codes and exact integer scores") {
    val e = Seq(
      (0L, Array(1.0f, 1.0f, 7.0f), 0),   // query; dim 3 is constant → code 0
      (1L, Array(0.0f, 0.0f, 7.0f), 0),
      (2L, Array(0.5f, 0.25f, 7.0f), 0),
      (3L, Array(1.0f, 0.0f, 7.0f), 0),
    ).toDF("vec_id", "embedding", "label")
    // per-dim [0,1]: code(0)=0, code(0.25)=64, code(0.5)=128, code(1)=255
    // (floor(1·256)=256 clamps to 255); query codes = (255, 255, 0)
    val out = Similarity.quantizedTopK(e, 0L, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(
      (3L, 255L * 255L),            // 65025
      (2L, 128L * 255L + 64L * 255L), // 48960
      (1L, 0L)))
  }

  test("pqTopK: hand-computed assignments and exact ADC distances") {
    // dim 2, m=2 (one dim per subspace), 2 anchors = vec_ids 0 and 1.
    // int8 grid per dim [0,1]: 0→0, 0.5→128, 1→255 (clamped).
    val e = Seq(
      (0L, Array(0.0f, 0.0f), 0), // query + anchor 0 → codes (0, 0)
      (1L, Array(1.0f, 1.0f), 0), // anchor 1 → codes (255, 255)
      (2L, Array(0.0f, 1.0f), 0), // codes (0, 255) → assigned (a0, a1)
      (3L, Array(0.5f, 0.5f), 0), // codes (128, 128) → (a1, a1): 127² < 128²
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.pqTopK(e, 0L, k = 3, m = 2, nCentroids = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ADC table vs query: T[s][a0] = 0, T[s][a1] = 255² = 65025
    assert(out == Seq((2L, 65025L), (1L, 130050L), (3L, 130050L)))
  }

  test("gopherRules: each rule discriminates on crafted documents") {
    val keepTokens = Seq("the", "a") ++ (0 until 28).map(i => f"wrd$i%02d") // 5-char words
    val docs = Seq(
      (0L, Seq.fill(35)("alpha").mkString(" "), "en", "s", 0L), // repetition + no stopwords
      (1L, keepTokens.mkString(" "), "en", "s", 0L),            // passes all four
      (2L, Seq.fill(10)("the").mkString(" "), "en", "s", 0L),   // too short
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextStats.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // (wc_ok, mwl_ok, stop_ok, rep_ok, keep)
    // doc0: mean word length 5.0 (boundary-inclusive), max token 35/35
    assert(got(0L) == (1L, 1L, 0L, 0L, 0L))
    // doc1: mean = (3 + 1 + 28·5)/30 = 4.8 ∈ [4.5, 5]; max token 1/30
    assert(got(1L) == (1L, 1L, 1L, 1L, 1L))
    assert(got(2L)._1 == 0L && got(2L)._5 == 0L)
  }

  test("semDedup: in-cluster dup dropped, identical cross-cluster vector kept") {
    val v = Array.fill(4)(1.0f)
    val w = Array(1.0f, -1.0f, 1.0f, -1.0f) // orthogonal to v
    val e = Seq(
      (0L, v, 0), (1L, v, 0),  // exact dup inside cluster 0 → 1 dropped
      (2L, w, 0),              // orthogonal survivor in cluster 0
      (3L, v, 1),              // same vector, OTHER cluster → kept
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(e, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 3L, 1L, 2L), (1L, 1L, 0L, 1L)))
  }

  test("dsirWeights: target-vocabulary docs score positive, off-target negative") {
    val docs = Seq(
      (0L, "aa aa aa", "en", "src0", 0L), // target domain speaks "aa"
      (1L, "aa aa", "en", "src0", 0L),
      (2L, "bb bb bb", "en", "src1", 0L), // raw-only vocabulary
      (3L, "bb bb", "en", "src1", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = TextStats.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // per-token log-ratios: aa → ln(6·12/(6·7)) > 0, bb → ln(1·12/(6·7)) < 0
    assert(w(0L) > 0 && w(1L) > 0, s"target docs not positive: $w")
    assert(w(2L) < 0 && w(3L) < 0, s"off-target docs not negative: $w")
    assert(w(0L) > w(1L), "longer target doc should accumulate more evidence")
  }

  test("bpeMerges: hand-computed merge rules, including the overlap-run case") {
    // corpus: "abab" ×3, "aaa" ×2 → vocab {abab:3, aaa:2}
    // round 1 pairs: (a,b)=6, (b,a)=3, (a,a)=4 → merge (a,b) n=6
    //   abab → ' ab ab ', aaa unchanged
    // round 2 pairs: (ab,ab)=3, (a,a)=4 → merge (a,a) n=4
    //   aaa: ' a a a ' → left-to-right non-overlapping → ' aa a '
    // round 3 pairs: (ab,ab)=3, (aa,a)=2 → merge (ab,ab) n=3
    val docs = Seq(
      (0L, "abab abab aaa", "en", "s", 0L),
      (1L, "abab aaa", "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextStats.bpeMerges(docs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a", "b", 6L), (2L, "a", "a", 4L), (3L, "ab", "ab", 3L)))
  }

  test("bpeTokenFrequencies: encoding with the learned merges, hand-computed") {
    // same corpus as the bpeMerges test; after merges (a,b), (a,a), (ab,ab):
    // abab → (abab), aaa → (aa)(a)  ⇒ tokens abab:3, aa:2, a:2
    val docs = Seq(
      (0L, "abab abab aaa", "en", "s", 0L),
      (1L, "abab aaa", "en", "s", 0L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextStats.bpeTokenFrequencies(docs, rounds = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("abab", 3L), ("a", 2L), ("aa", 2L)))
  }

  test("knnJoin's per-query rankings agree with single-query cosineTopK") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val knn = Similarity.knnJoin(e, maxQueryId = 2L, k = 4).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(2)).map(r => (r.getLong(1), r.getDouble(3))).toSeq)
      .toMap
    for (qid <- Seq(0L, 1L)) {
      val single = Similarity.cosineTopK(e, qid, 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(knn(qid) == single, s"query $qid batch vs single mismatch")
    }
  }

  test("triangleCounts on a hand-built graph") {
    // edges (1,2),(1,3),(2,3),(2,4),(3,4): triangles {1,2,3} and {2,3,4}
    val p = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val out = graft.graph.GraphOps.triangleCounts(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // a triangle-free graph (path) yields no rows
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(graft.graph.GraphOps.triangleCounts(path).count() == 0L)
  }

  test("labelNoise: planted mislabel flagged by its neighbors' majority, clean rows pass") {
    val e = Seq(
      (1L, Array(1.0f, 0.00f), 0), (2L, Array(1.0f, 0.02f), 0),
      (3L, Array(1.0f, 0.04f), 0),
      (4L, Array(0.0f, 1.00f), 1), (5L, Array(0.02f, 1.0f), 1),
      (6L, Array(0.04f, 1.0f), 1),
      (7L, Array(1.0f, 0.01f), 1)) // geometrically in cluster 0, labeled 1
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoise(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toList
    val suspects = out.filter(_._4).map(_._1)
    assert(suspects == List(7L), s"only the planted mislabel flags: $out")
    assert(out.find(_._1 == 7L).get._3 == 0L) // its k-NN majority is cluster 0
    assert(out.length == 7)
  }

  test("fourCliqueCounts: K5 census (4 per vertex), K4 exactly once, triangles contribute nothing") {
    val k5 = (for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)).toDF("a", "b")
    val out5 = graft.graph.GraphOps.fourCliqueCounts(k5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // K5 holds C(5,4)=5 K4s; each vertex sits in C(4,3)=4 of them
    assert(out5 == (1L to 5L).map(_ -> 4L).toMap)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("a", "b") // plus a pendant edge
    val out4 = graft.graph.GraphOps.fourCliqueCounts(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    assert(graft.graph.GraphOps.fourCliqueCounts(tri).count() == 0L)
  }

  test("IVF pruned search returns the same neighbors when the right cluster is probed") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.99f, 0.1f), 0),
      (2L, Array(0.98f, 0.15f), 0), (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.99f), 1),
    ).toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineTopK(e, 0L, 2).collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.cosineTopKIvf(e, 0L, 2, nprobe = 1).collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("lang_id flags stopword-rich docs as en") {
    val d = Seq(
      (1L, "the cat sat on the mat and the dog", "en"),
      (2L, "uno dos tres cuatro cinco seis siete ocho nueve diez uno dos tres", "es"),
    ).toDF("doc_id", "text", "lang")
    val out = TextStats.langId(d).collect().map(r => (r.getLong(0), r.getString(4))).toMap
    assert(out(1L) == "en" && out(2L) == "unk")
  }

  test("token stats count whitespace and subword tokens") {
    val d = docs((1L, "hello world, it's 42"))
    val r = TextStats.tokenStats(d).collect()(0)
    assert(r.getLong(1) == 4) // ws tokens
    // subwords: hello|world|,|it|'|s|42
    assert(r.getLong(3) == 7)
  }

  test("train/val split is deterministic, total, and id-stable under reorder") {
    import graft.pipeline.Curation
    val d = docs((1L to 200L).map(i => (i, s"doc number $i body")): _*)
    val a = Curation.trainValSplit(d).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = Curation.trainValSplit(d.orderBy(org.apache.spark.sql.functions.rand(1)))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq == b.toSeq)               // row order never leaks into the split
    assert(a.length == 200 && a.map(_._1).distinct.length == 200)
    val train = a.count(_._2 == "train")
    assert(train > 120 && train < 180, s"~75% expected, got $train/200")
  }

  test("source quota keeps at most N per source, ranked by quality then doc_id") {
    import graft.pipeline.Curation
    val d = (1L to 30L).map(i => (i, s"src${i % 3}", ("w " * (i * 5).toInt).trim))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val out = Curation.sourceQuota(d, perSource = 4).collect()
    val bySrc = out.groupBy(_.getString(0))
    assert(bySrc.keySet == Set("src0", "src1", "src2"))
    bySrc.values.foreach { rows =>
      assert(rows.length == 4)
      val qs = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(qs == qs.sorted.reverse.toSeq) // ranked by quality desc
    }
  }

  test("PII scrub counts and redacts emails + long digit runs") {
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs(
      (1L, "contact alice.smith+x@example.co.uk or call 12345678 now"),
      (2L, "clean text with short 123 number"))
    val out = TextStats.scrubPii(d).collect()
    assert(out(0).getLong(1) == 1 && out(0).getLong(2) == 1)
    assert(out(0).getString(3) == h("contact <EMAIL> or call <NUM> now"))
    assert(out(1).getLong(1) == 0 && out(1).getLong(2) == 0)
    assert(out(1).getString(3) == h("clean text with short 123 number"))
  }

  test("winnowing: hand-computed window mins on a tiny doc") {
    // 7 tokens, k=3 -> 5 grams, w=4 -> 2 full windows (pos 0 and 1)
    val d = docs((1L, "a b c d e f g"))
    val out = TextStats.winnowedFingerprint(d, k = 3, w = 4)
      .collect().map(_.getLong(1)).toSet
    // first 60 bits of the md5 as BIGINT — same derivation as the operator
    def h(s: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val grams = Seq("a b c", "b c d", "c d e", "d e f", "e f g").map(h)
    val expected = Set(grams.slice(0, 4).min, grams.slice(1, 5).min)
    assert(out == expected)
  }

  test("winnowing: short doc (fewer than w+k-1 tokens) keeps the single global min") {
    val d = docs((1L, "a b c d")) // 2 grams < w -> one truncated window
    val out = TextStats.winnowedFingerprint(d, k = 3, w = 4).collect()
    assert(out.length == 1)
    // and a doc under k tokens emits nothing
    assert(TextStats.winnowedFingerprint(docs((2L, "a b")), 3, 4).isEmpty)
  }

  test("winnowing guarantee: docs sharing a run of >= w+k-1 tokens share a fingerprint") {
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 't').map(_.toString)
    def randTokens(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val pairs = (0 until 30).map { i =>
      val shared = randTokens(6 + rnd.nextInt(5)) // >= w+k-1 = 6 tokens
      def doc = {
        val pre = randTokens(rnd.nextInt(12))
        val post = randTokens(rnd.nextInt(12))
        (pre ++ shared ++ post).mkString(" ")
      }
      (2L * i, doc, 2L * i + 1, doc)
    }
    val d = pairs.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) }
    val fps = TextStats.winnowedFingerprint(docs(d: _*), k = 3, w = 4)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    pairs.foreach { case (ia, _, ib, _) =>
      assert(fps(ia).intersect(fps(ib)).nonEmpty,
        s"docs $ia/$ib share a ${6}-token run but no fingerprint")
    }
  }

  test("duplicatePassages: shared k-window found once per doc pair; within-doc repeats don't count") {
    val d = docs(
      (1L, "a b c d x1 y1"),
      (2L, "z a b c d w"),
      (3L, "a b c d a b c d"), // window repeats INSIDE doc 3: still one doc
      (4L, "unrelated text only here"))
    val out = graft.pipeline.Dedup.duplicatePassages(d, k = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(out.contains(("a b c d", 3L, 1L)))
    // no passage from doc 4, and nothing with n_docs < 2
    assert(out.forall(_._2 >= 2L))
    assert(!out.exists(_._1.contains("unrelated")))
  }

  test("duplicateSpans: overlapping dup windows merge to one maximal span; unique docs emit none") {
    val d = docs(
      //             0 1 2 3 4 5  6  7
      (1L, "a b c d e f g1 h1"), // tokens 0..5 duplicated in doc 2 → one span
      (2L, "z a b c d e f w"),   // tokens 1..6 duplicated → one span
      (3L, "p q r s t u v w2"),  // nothing shared at k=4
      (4L, "a b c d x y z2 q2 c d e f")) // two DISJOINT dup regions → two spans
    val out = graft.pipeline.Dedup.duplicateSpans(d, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // doc 1: windows at 0,1,2 ("a b c d","b c d e","c d e f") dup vs doc 2
    //   merge into one island → span [0, 5], 6 tokens
    assert(out.filter(_._1 == 1L) == List((1L, 0L, 5L, 6L)))
    assert(out.filter(_._1 == 2L) == List((2L, 1L, 6L, 6L)))
    assert(!out.exists(_._1 == 3L))
    // doc 4: "a b c d" at 0 and "c d e f" at 8 — gap 8 > k=4 → two spans
    assert(out.filter(_._1 == 4L) == List((4L, 0L, 3L, 4L), (4L, 8L, 11L, 4L)))
  }

  test("removeDuplicateSpans: cuts exactly the spans, preserves order, keeps clean docs whole") {
    val d = docs(
      (1L, "a b c d e f g1 h1"),          // span [0,5] → "g1 h1"
      (2L, "z a b c d e f w"),            // span [1,6] → "z w"
      (3L, "p q r s t u v w2"),           // no spans → untouched
      (4L, "a b c d x y z2 q2 c d e f"))  // spans [0,3],[8,11] → middle
    val out = graft.pipeline.Dedup.removeDuplicateSpans(d, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(out == List(
      (1L, 8L, 6L, "g1 h1"),
      (2L, 8L, 6L, "z w"),
      (3L, 8L, 0L, "p q r s t u v w2"),
      (4L, 12L, 8L, "x y z2 q2")))
    // a doc whose EVERY token is duplicated is cut entirely
    val twins = docs((1L, "a b c d"), (2L, "a b c d"))
    assert(graft.pipeline.Dedup.removeDuplicateSpans(twins, k = 4).count() == 0L)
  }

  test("sourceOutliers: leave-one-out centroid cosine, off-topic doc scores 0, single-doc source excluded") {
    val d = Seq(
      (1L, "x x y", "A"),   // tf (x2, y1): dot(d, c−d)=4, ‖d‖²=5, ‖c−d‖²=14
      (2L, "x y y", "A"),   // symmetric with doc 1
      (3L, "z z z", "A"),   // c−d has NO z mass → orthogonal → exactly 0
      (4L, "solo only", "B")) // single-doc source: zero centroid, excluded
      .toDF("doc_id", "text", "source")
    val out = graft.pipeline.Dedup.sourceOutliers(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    val expect12 = 4.0 / math.sqrt(5.0 * 14.0)
    assert(out == List((1L, "A", expect12), (2L, "A", expect12), (3L, "A", 0.0)))
  }

  test("unimaxAllocation: hand-traced waterfill — small source saturates at its cap, rest at the level") {
    // tokens: A 10, B 100, C 100 → caps 20/200/200, budget = 9·210/5 = 378
    // A saturates (20·3 < 378); B test: 200·2 < 358 fails → level λ = 358/2 = 179
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val d = Seq((1L, words(10), "A"), (2L, words(100), "B"), (3L, words(100), "C"))
      .toDF("doc_id", "text", "source")
    val out = graft.pipeline.Curation.unimaxAllocation(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("A", 10L, 20L, true, 20.0, 2.0),
      ("B", 100L, 200L, false, 179.0, 1.79),
      ("C", 100L, 200L, false, 179.0, 1.79)))
    // budget is met exactly: Σ alloc = 20 + 179 + 179 = 378
    assert(out.map(_._5).sum == 378.0)
  }

  test("psiPerSource: hand-computed smoothed PSI on two disjoint sources") {
    import org.apache.spark.sql.functions.col
    // A fills bin 0, B fills bin 2; nb=2, nn=4, n=2 per source.
    // A: bin0 p=(2+1)/4, q=(0+1)/4; bin2 p=1/4, q=3/4
    // PSI = 0.5·ln3 + (−0.5)·ln(1/3) = ln 3 — symmetric for B
    val d = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 110L), (4L, "B", 120L))
      .toDF("doc_id", "source", "n_chars")
    val out = graft.pipeline.Drift.psiPerSource(d, col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ln3 = BigDecimal(math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(("A", 2L, ln3), ("B", 2L, ln3)))
    // identical distributions → PSI 0 exactly (p = q in every bin)
    val same = Seq((1L, "A", 10L), (2L, "B", 10L)).toDF("doc_id", "source", "n_chars")
    val z = graft.pipeline.Drift.psiPerSource(same, col("n_chars")).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(z.toSeq == Seq(("A", 0.0), ("B", 0.0)))
  }

  test("perplexityBuckets: per-source thirds ordered by ce; single-token docs excluded") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "a b a b a b", "s1"), (2L, "a b a b c d", "s1"),
      (3L, "c d e f g h", "s1"), (4L, "h g f e d c", "s1"),
      (5L, "a b a b a b", "s1"), (6L, "x y z w q r", "s1"),
      (7L, "solo", "s1"), // no bigram → no LM score → excluded
      (10L, "a b a b", "s2"), (11L, "m n o p", "s2"), (12L, "p o n m", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Curation.perplexityBuckets(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(!out.exists(_._1 == 7L), "single-token doc must be excluded")
    // s1 has 6 scored docs → exactly 2 per bucket; s2 has 3 → 1 per bucket
    val s1 = out.filter(_._2 == "s1")
    assert(s1.groupBy(_._4).view.mapValues(_.length).toMap ==
      Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    val s2 = out.filter(_._2 == "s2")
    assert(s2.groupBy(_._4).view.mapValues(_.length).toMap ==
      Map("head" -> 1, "middle" -> 1, "tail" -> 1))
    // buckets respect the ce order within each source
    for (src <- Seq(s1, s2)) {
      def ces(b: String) = src.filter(_._4 == b).map(_._3)
      assert(ces("head").max <= ces("middle").min)
      assert(ces("middle").max <= ces("tail").min)
    }
  }

  test("withRunningMax: strict prefix max across partition boundaries, null on first row") {
    import graft.pipeline.Ranking
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 9L), (5L, 1L))
      .toDF("k", "v").repartition(4)
    val out = Ranking.withRunningMax(df, "v", col("k")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out == Map(1L -> None, 2L -> Some(5L), 3L -> Some(5L),
      4L -> Some(9L), 5L -> Some(9L)))
  }

  test("equiDepthHistogram: ntile bucket sizes and exact bounds") {
    import graft.pipeline.Ranking
    import org.apache.spark.sql.functions.col
    // n=10, k=3: buckets of 4,3,3 (SQL ntile uneven split)
    val df = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "price")
    val out = Ranking.equiDepthHistogram(df, col("price"), Seq(col("id")), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 4L, 1.0, 4.0), (2L, 3L, 5.0, 7.0), (3L, 3L, 8.0, 10.0)))
  }

  test("skyline2D: dominance semantics incl. both-dim ties, vs brute force") {
    import graft.pipeline.Skyline
    import org.apache.spark.sql.functions.col
    val pts = Seq(
      (1L, 10.0, 5L), (2L, 10.0, 5L), // identical points: both survive
      (3L, 10.0, 4L),                 // dominated within price group
      (4L, 9.0, 5L),                  // dominates 1/2 (cheaper, same size)
      (5L, 8.0, 2L),                  // skyline (cheapest-so-far smaller size)
      (6L, 12.0, 9L),                 // skyline (biggest)
      (7L, 12.0, 8L))                 // dominated by 6
    val df = pts.toDF("id", "price", "size")
    val got = Skyline.skyline2D(df, col("id"), col("price"), col("size"))
      .collect().map(_.getLong(0)).toSet
    val brute = pts.filter { case (i, p, sz) =>
      !pts.exists { case (j, p2, sz2) =>
        j != i && p2 <= p && sz2 >= sz && (p2 < p || sz2 > sz)
      }
    }.map(_._1).toSet
    assert(got == brute && got == Set(4L, 5L, 6L))
  }

  test("cmsTermCounts: estimates never undercount and match exact counts absent collisions") {
    val d = docs(
      (1L, "alpha alpha beta"),
      (2L, "alpha gamma"),
      (3L, "beta beta beta"))
      // partition split exercises the sketch MERGE path
      .repartition(3)
    val out = TextStats.cmsTermCounts(d, depth = 4, width = 256).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val byTerm = out.map { case (t, e, n) => t -> ((e, n)) }.toMap
    assert(byTerm.keySet == Set("alpha", "beta", "gamma"))
    assert(byTerm("alpha")._2 == 3L && byTerm("beta")._2 == 4L && byTerm("gamma")._2 == 1L)
    // CMS contract: est ≥ true; 3 terms in 4×256 buckets collide with
    // probability ~0 — require exactness here (deterministic hashes)
    out.foreach { case (t, e, n) => assert(e == n, s"term $t: est $e vs true $n") }
  }

  test("Cdc.applyChanges: upsert replaces, delete drops, insert lands, rest pass through") {
    import graft.pipeline.Cdc
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "price")
    val changes = Seq(
      (2L, "U", "b2", 25.0),  // update
      (3L, "D", "", 0.0),     // delete
      (9L, "U", "z", 90.0))   // insert
      .toDF("k", "op", "name", "price")
    val out = Cdc.applyChanges(base, changes, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (9L, "z", 90.0)))
  }

  test("withRunningSums: inclusive multi-column prefix sums across partitions") {
    import graft.pipeline.Ranking
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L), (4L, 40L, 4L))
      .toDF("k", "x", "y").repartition(3)
    val out = Ranking.withRunningSums(df, Seq("x", "y"), col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(out == Seq((1L, 10L, 1L), (2L, 30L, 3L), (3L, 60L, 6L), (4L, 100L, 10L)))
  }

  test("ksStatistic: hand-computed integer-numerator KS with min-value tie-break") {
    import graft.pipeline.Drift
    import org.apache.spark.sql.functions.col
    // A = {1,2}, B = {2,3}: numerator peaks at 2 for v∈{1,2} → at_value 1,
    // ks = 2/(2·2) = 0.5
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = Drift.ksStatistic(df, col("g"), col("v"), "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      == ((1L, 2L, 2L, 2L, 0.5)))
    // identical distributions: KS numerator 0 everywhere
    val same = Seq(("a", 5L), ("b", 5L)).toDF("g", "v")
    assert(Drift.ksStatistic(same, col("g"), col("v"), "a", "b")
      .collect()(0).getDouble(4) == 0.0)
  }

  test("zValue interleaves bits; zonemap files are Morton quadrants") {
    import graft.pipeline.ZOrder
    import org.apache.spark.sql.functions.col
    // hand-computed: z(3,1)=0b0111=7, z(2,3)=0b1110=14
    val zs = Seq((3L, 1L), (2L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), bits = 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(zs == Seq(7L, 14L))
    // the 4×4 grid in z-order splits into the four 2×2 quadrants — each
    // file's zone map bounds BOTH dimensions (a 1-D sort can't)
    val grid = for (x <- 0 to 3; y <- 0 to 3) yield (x.toLong, y.toLong)
    val zm = ZOrder.zonemap(grid.toDF("x", "y"), col("x"), col("y"),
        Seq(col("x").as("t1"), col("y").as("t2")), files = 4, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toSeq
    assert(zm.map(_._2).forall(_ == 4L))
    assert(zm.map(_._3).toSet == Set(
      (0L, 1L, 0L, 1L), (2L, 3L, 0L, 1L), (0L, 1L, 2L, 3L), (2L, 3L, 2L, 3L)))
  }

  test("dailyTypePivot: wide counts with zero-filled absent cells") {
    val base = 1700006400000L // midnight-aligned? not required — day binning is ms-floor
    val ev = Seq(
      (1L, new java.sql.Timestamp(base), "view"),
      (2L, new java.sql.Timestamp(base + 1000), "view"),
      (3L, new java.sql.Timestamp(base + 2000), "click"),
      (4L, new java.sql.Timestamp(base + 86400000L * 2), "view"),
    ).toDF("event_id", "ts", "event_type")
    val out = graft.pipeline.Events.dailyTypePivot(ev, Seq("click", "view", "error"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(out.length == 2)
    assert(out(0)._2 == ((1L, 2L, 0L)))
    assert(out(1)._2 == ((0L, 1L, 0L)))
  }

  test("kneserNeyBigrams: hand-computed interpolated probabilities on 'a b a b c'") {
    // c12: (a,b)=2, (b,a)=1, (b,c)=1; c1: a=2, b=2; n1_fwd: a=1, b=2;
    // n1_back: a=b=c=1; Nt=3. P(b|a) = (2-.75)/2 + (.75·1/2)(1/3) = 0.75;
    // P(a|b) = P(c|b) = (1-.75)/2 + (.75·2/2)(1/3) = 0.375
    val d = docs((1L, "a b a b c"))
    val out = graft.pipeline.TextStats.kneserNeyBigrams(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(out == Seq(
      ("a", "b", 2L, 2L, 1L, 1L, 0.75),
      ("b", "a", 1L, 2L, 2L, 1L, 0.375),
      ("b", "c", 1L, 2L, 2L, 1L, 0.375)), s"got $out")
    // probabilities out of each context sum to < 1 only by the held-out
    // mass of UNSEEN continuations — here every seen pair is covered, so
    // each context's seen mass is 0.75 exactly (D=3/4 re-distributed)
    assert(out.filter(_._1 == "b").map(_._7).sum == 0.75)
  }

  test("temporalSplit: last event by (ms, event_id) held out, ties to the larger id") {
    val base = 1700000000000L
    val ev = Seq(
      (1L, 7L, base + 1000), (2L, 7L, base + 5000), (3L, 7L, base + 5000),
      (4L, 9L, base + 100),
    ).map { case (id, u, ms) => (id, u, new java.sql.Timestamp(ms)) }
      .toDF("event_id", "user_id", "ts")
    val out = graft.pipeline.Curation.temporalSplit(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // user 7: events 2 and 3 tie on ms → id 3 wins; user 9: singleton
    assert(out == Seq((7L, 3L, 3L, base + 5000), (9L, 1L, 4L, base + 100)),
      s"got $out")
  }

  test("dedupRateBySource: cross-source reprint charged to the copy's source") {
    val d = Seq(
      (1L, "same text", "A"), (2L, "same text", "B"), (3L, "same text", "B"),
      (4L, "unique", "B"),
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Dedup.dedupRateBySource(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // keeper is doc 1 (source A): both B copies are dups, A's original is not
    assert(out == Seq(("A", 1L, 0L, 0.0), ("B", 3L, 2L, 2.0 / 3.0)), s"got $out")
  }

  test("tokenizerFertility: under one merge, the unmerged word costs an extra token") {
    // vocab after 1 BPE round on {ab×3, cd×1}: (a,b) merges (count 3),
    // so ab encodes to 1 token and cd stays 2 → en: 2 words 2 tokens,
    // de: 2 words 3 tokens
    val d = Seq((1L, "ab ab", "en"), (2L, "ab cd", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextStats.tokenizerFertility(d, rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(("de", 1L, 2L, 3L, 1.5), ("en", 1L, 2L, 2L, 1.0)),
      s"got $out")
  }

  test("temperatureWeights: sqrt flattening, hand-computed 4/9 token split") {
    val d = Seq((1L, "a", "A"), (2L, "x y z", "A"), (3L, "p q r s t u v w x", "B"))
      .toDF("doc_id", "text", "source")
    // A: 1+3 = 4 tokens, B: 9 → sqrt 2 and 3, denominator 5
    val out = graft.pipeline.Curation.temperatureWeights(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("A", 4L, 0.3077, 0.4), ("B", 9L, 0.6923, 0.6)))
  }

  test("kCenterSeeds: Gonzalez picks the farthest-from-chosen point each round") {
    val e = Seq(
      (0L, Array(0.0f, 0.0f), 0), (1L, Array(10.0f, 0.0f), 0),
      (2L, Array(5.0f, 0.0f), 0), (3L, Array(9.0f, 0.0f), 0),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.kCenterSeeds(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // round 2: v1 at 100 beats v3 at 81; round 3: v2's min(25, 25)=25
    // beats v3's min(81, 1)=1
    assert(out == Seq((1L, 0L, 0.0), (2L, 1L, 100.0), (3L, 2L, 25.0)))
    // radius sequence is nonincreasing — the Gonzalez invariant
    assert(out.drop(1).map(_._3) == out.drop(1).map(_._3).sorted.reverse)
  }

  test("hardNegatives: same-label twin excluded, cross-label neighbors ranked by cosine") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),    // identical but SAME label → excluded
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(e, maxQueryId = 1L, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 0L, 2L, 1L, 1L), (0L, 0L, 3L, 1L, 2L)),
      s"got ${out.toSeq}")
  }

  test("bloomSemiJoinRevenue equals the plain semi-join (the FP-removal contract)") {
    val customer = Seq((1L, "BUILDING"), (2L, "AUTOMOBILE"), (3L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (1L, "1-URGENT", 100.5), (1L, "2-HIGH", 50.25),
      (2L, "1-URGENT", 999.0), (3L, "2-HIGH", 10.0), (4L, "3-MEDIUM", 7.0),
    ).toDF("o_custkey", "o_orderpriority", "o_totalprice")
    val out = graft.pipeline.RuntimeFilters.bloomSemiJoinRevenue(orders, customer)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("1-URGENT", 1L, 100.5), ("2-HIGH", 2L, 60.25)),
      s"got $out")
  }

  test("curationPipelineE2e: every stage's invariant holds on the composed output") {
    import graft.pipeline.Curation
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Curation.curationPipelineE2e(raw).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    // stage 0+1: no benchmark docs; no non-keeper exact duplicates
    assert(ids.forall(_ >= 10L), "benchmark docs leaked into the pipeline")
    val exactKeepers = Dedup.exactDedup(raw.filter($"doc_id" >= 10L))
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(exactKeepers), "a non-keeper exact duplicate survived")
    // stage 2: every survivor is its own cluster representative
    assert(out.forall { case (id, cluster, _, _, _, _) => id == cluster },
      "a non-representative near-dup survived")
    // stage 3: every survivor passes the gopher gates
    val gopherKeep = TextStats.gopherRules(raw).filter($"keep" === 1L)
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(gopherKeep), "a gopher-rejected doc survived")
    // stage 4: no survivor shares a benchmark 5-gram
    val contaminated = Curation.decontaminate(raw)
      .filter($"contaminated" === 1L).collect().map(_.getLong(0)).toSet
    assert(ids.intersect(contaminated).isEmpty, "a contaminated doc survived")
    // stage 5: split is the cluster-hash rule
    out.foreach { case (_, cluster, split, _, _, _) =>
      val nib = java.security.MessageDigest.getInstance("MD5")
        .digest(cluster.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.head
      val expected = if ("0123456789ab".contains(nib)) "train" else "val"
      assert(split == expected, s"cluster $cluster split $split != $expected")
    }
    // stage 6: packing is per-split concat-then-chunk — walking each
    // split in its hash order, every (seq_id, seq_offset) matches the
    // running token total, and the two splits pack independently
    val hashOf = out.map { case (id, _, _, _, _, _) =>
      id -> java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15), 16)
    }.toMap
    for (s <- Seq("train", "val")) {
      var cum = 0L
      out.filter(_._3 == s).sortBy { case (id, _, _, _, _, _) => (hashOf(id), id) }
        .foreach { case (id, _, _, n, seqId, off) =>
          assert(seqId == cum / 2048 && off == cum % 2048,
            s"doc $id in $s: ($seqId, $off) != packed position of cum=$cum")
          cum += n
        }
    }
  }

  test("curationFunnel: stage counts are monotone through the gates and reconcile with the pipeline output") {
    import graft.pipeline.Curation
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val funnel = Curation.curationFunnel(raw).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(funnel.keySet == Set("1_corpus", "2_exact_dedup", "3_near_dedup",
      "4_gopher", "5_decontaminated", "6_train", "7_val"))
    // the gates only ever shrink the survivor set
    val order = Seq("1_corpus", "2_exact_dedup", "3_near_dedup", "4_gopher",
      "5_decontaminated")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(funnel(a) >= funnel(b), s"$a=${funnel(a)} < $b=${funnel(b)}")
    }
    // the split partitions the decon survivors exactly
    assert(funnel("6_train") + funnel("7_val") == funnel("5_decontaminated"))
    // stage 5 IS the e2e pipeline's output row set (shared curationStages)
    val e2e = Curation.curationPipelineE2e(raw).collect()
    assert(e2e.length.toLong == funnel("5_decontaminated"))
    assert(e2e.count(_.getString(2) == "train").toLong == funnel("6_train"))
    // the funnel actually discriminates on this corpus (every gate set
    // being equal would make the test vacuous)
    assert(funnel("1_corpus") > funnel("5_decontaminated"))
  }

  test("poissonCiMean rejects ranks outside 1 <= loRank <= hiRank <= b") {
    import graft.pipeline.Bootstrap
    // enough rows that no replica draws all-zero weights
    val df = (1L to 200L).map(i => (i, 100L * i)).toDF("id", "cents")
    for ((b, lo, hi) <- Seq((8, 0, 7), (8, 2, 9), (8, 5, 4))) {
      val e = intercept[IllegalArgumentException](Bootstrap.poissonCiMean(df, b, lo, hi))
      assert(e.getMessage.contains(s"got loRank=$lo, hiRank=$hi, b=$b"))
    }
    // the edge of the valid range still yields both bounds
    val r = Bootstrap.poissonCiMean(df, b = 8, loRank = 1, hiRank = 8).collect().head
    assert(!r.isNullAt(2) && !r.isNullAt(3))
  }
}
