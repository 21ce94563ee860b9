package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

import SparkTestSession._

/** Generative (ScalaCheck) properties for the distributed scan/layout
  * primitives added in round 5 — each checked against an in-memory
  * reference implementation on random inputs, with partition counts
  * randomized so the two-pass prefix machinery crosses partition
  * boundaries in every shape.
  */
class GenerativePropertySpec extends AnyFunSuite {
  import spark.implicits._

  // each trial runs several local Spark jobs — 15 random shapes per
  // property keeps the suite's wall-clock sane while still crossing many
  // partition layouts
  private val params = Parameters.default.withMinSuccessfulTests(15)

  private def assertHolds(p: Prop, what: String): Unit = {
    val r = check(params, p)
    assert(r.passed, s"$what failed: ${r.status}")
  }

  test("property: skyline2D equals the brute-force dominance filter") {
    val pts = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 8L), Gen.chooseNum(0L, 8L)))
    assertHolds(Prop.forAll(pts, Gen.chooseNum(1, 5)) { (ps, nPart) =>
      val rows = ps.zipWithIndex.map { case ((p, s), i) => (i.toLong, p.toDouble, s) }
      val df = rows.toDF("id", "price", "size").repartition(nPart)
      val got = pipeline.Skyline.skyline2D(df, col("id"), col("price"), col("size"))
        .collect().map(_.getLong(0)).toSet
      val brute = rows.filter { case (i, p, s) =>
        !rows.exists { case (j, p2, s2) =>
          j != i && p2 <= p && s2 >= s && (p2 < p || s2 > s)
        }
      }.map(_._1).toSet
      got == brute
    }, "skyline vs brute force")
  }

  test("property: withRunningSums / withRunningMax equal scanLeft references") {
    val vals = Gen.listOfN(20, Gen.chooseNum(-50L, 50L))
    assertHolds(Prop.forAll(vals, Gen.chooseNum(1, 6)) { (vs, nPart) =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("k", "v").repartition(nPart)
      val sums = pipeline.Ranking.withRunningSums(df, Seq("v"), col("k"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).map(_._2).toSeq
      val wantSums = vs.scanLeft(0L)(_ + _).tail
      val maxes = pipeline.Ranking.withRunningMax(df, "v", col("k"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1).map(_._2).toSeq
      val wantMaxes = None +: vs.init.scanLeft(Long.MinValue)(math.max)
        .tail.map(Some(_))
      sums == wantSums && maxes == wantMaxes
    }, "prefix scans vs scanLeft")
  }

  test("property: withNtile matches SQL NTILE sizes and order monotonicity") {
    val vals = Gen.listOfN(23, Gen.chooseNum(0L, 9L))
    assertHolds(Prop.forAll(vals, Gen.chooseNum(1, 7), Gen.chooseNum(2, 6)) {
      (vs, nPart, k) =>
        val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        val df = rows.toDF("k", "v").repartition(nPart)
        val out = pipeline.Ranking.withNtile(df, k, col("v"), col("k"))
          .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
          .sortBy(t => (t._1, t._2)) // (v, k, bucket) in rank order
        val n = vs.length
        val q = n / k
        val r = n % k
        val wantSizes = (1 to k).map(b => if (b <= r) q + 1 else q)
        val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
        val sizesOk = (1 to k).forall(b => sizes.getOrElse(b.toLong, 0) == wantSizes(b - 1))
        val monotone = out.map(_._3).sliding(2).forall(p => p.head <= p.last)
        sizesOk && monotone
    }, "ntile sizes + monotone buckets")
  }

  test("property: markovNextEvent picks (max n, min successor) per type") {
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 4L), Gen.oneOf("v", "c", "p")))
    assertHolds(Prop.forAll(evGen, Gen.chooseNum(1, 5)) { (evs, nPart) =>
      val rows = evs.zipWithIndex.map { case ((u, tp), i) =>
        (i.toLong, i.toLong * 1000000L, u, tp, 0.0, "{}")
      }
      // ts is LONG nanos (the testdata shape under nanosAsLong)
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(nPart)
      // reference: per-user (ts, id)-ordered successor counts, then argmax
      val trans = rows.groupBy(_._3).values.flatMap { us =>
        us.sortBy(r => (r._2, r._1)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.groupBy(identity).view.mapValues(_.size).toMap
      val want = trans.keys.map(_._1).toSet.map { ft: String =>
        val cands = trans.collect { case ((f, t), n) if f == ft => (t, n) }
        val best = cands.toSeq.sortBy { case (t, n) => (-n, t) }.head
        (ft, best._1, best._2.toLong)
      }
      val got = pipeline.Events.markovNextEvent(df)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      got == want
    }, "markov argmax vs in-memory reference")
  }

  test("property: hourlyDrawdown equals the window prefix-max reference") {
    val cnts = Gen.listOfN(12, Gen.chooseNum(1, 6))
    assertHolds(Prop.forAll(cnts, Gen.chooseNum(1, 5)) { (ns, nPart) =>
      // ns(i) events in hour i
      val rows = ns.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(j => ((h * 100 + j).toLong,
          h.toLong * 3600000L * 1000000L + j, 1L, "view", 0.0, "{}"))
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(nPart)
      val got = pipeline.Events.hourlyDrawdown(df, minDrop = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
      val want = ns.zipWithIndex.flatMap { case (n, h) =>
        val before = ns.take(h)
        if (before.isEmpty) None
        else {
          val peak = before.max
          if (peak - n >= 1) Some((h.toLong * 3600000L, peak.toLong, (peak - n).toLong))
          else None
        }
      }
      got == want
    }, "drawdown vs scan reference")
  }

  test("property: hourlyChangePoint equals the in-memory CUSUM argmax") {
    val cnts = Gen.listOfN(10, Gen.chooseNum(1, 9))
    assertHolds(Prop.forAll(cnts, Gen.chooseNum(1, 5)) { (ns, nPart) =>
      val rows = ns.zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(j => ((h * 100 + j).toLong,
          h.toLong * 3600000L * 1000000L + j, 1L, "view", 0.0, "{}"))
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(nPart)
      val got = pipeline.Events.hourlyChangePoint(df).collect().head
      val m = ns.length.toLong
      val sn = ns.sum.toLong
      val ds = ns.scanLeft(0L)(_ + _).tail.zipWithIndex.map { case (sk, i) =>
        (math.abs(m * sk - (i + 1).toLong * sn), i)
      }
      val (dmax, i0) = ds.minBy { case (d, i) => (-d, i) }
      got.getLong(0) == i0.toLong * 3600000L &&
        got.getLong(1) == (i0 + 1).toLong && got.getLong(2) == m &&
        got.getLong(3) == dmax
    }, "changepoint vs scan reference")
  }

  test("property: CMS estimates never undercount on random corpora") {
    val docGen = Gen.listOfN(12, Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e")))
    assertHolds(Prop.forAll(docGen) { texts =>
      val df = texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      pipeline.TextStats.cmsTermCounts(df, depth = 2, width = 8).collect()
        .forall(r => r.getLong(1) >= r.getLong(2))
    }, "CMS est >= true")
  }

  /** In-memory BPE reference: same greedy left-to-right merge application
    * and (count DESC, l, r) rule selection as the distributed operator.
    */
  private def refBpe(words: Seq[String], rounds: Int): Seq[(Long, String, String, Long)] = {
    def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { b += (l + r); i += 2 }
        else { b += syms(i); i += 1 }
      }
      b.result()
    }
    var vocab = words.groupBy(identity).toVector
      .map { case (w, g) => (w.map(_.toString).toVector, g.size.toLong) }
    (1 to rounds).map { step =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, n) <- vocab; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) += n
      val ((l, r), n) = pc.toSeq.minBy { case ((l0, r0), n0) => (-n0, l0, r0) }
      vocab = vocab.map { case (syms, cnt) => (applyMerge(syms, l, r), cnt) }
      (step.toLong, l, r, n)
    }
  }

  test("property: bpeMerges equals the in-memory greedy reference on random corpora") {
    // words of length 4-6 over {a, b}: dense pair collisions, runs, and
    // back-to-back pair occurrences — three rounds always have a pair left
    val wordGen = Gen.chooseNum(4, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString))
    val corpus = Gen.listOfN(10, wordGen)
    assertHolds(Prop.forAll(corpus, Gen.chooseNum(1, 4)) { (words, nPart) =>
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("doc_id", "text").repartition(nPart)
      val got = pipeline.TextStats.bpeMerges(df, rounds = 3).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      got == refBpe(words, 3)
    }, "BPE vs greedy reference")
  }

  test("property: katzCentrality equals the in-memory matrix-power reference") {
    val edgeGen = Gen.listOfN(15, Gen.zip(Gen.chooseNum(1L, 6L), Gen.chooseNum(1L, 6L)))
      .map(_.distinct)
    assertHolds(Prop.forAll(edgeGen, Gen.chooseNum(1, 4)) { (es, nPart) =>
      es.isEmpty || {
        val df = es.toDF("src", "dst").repartition(nPart)
        val got = graph.GraphOps.katzCentrality(df, rounds = 3, k = 100).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        val verts = es.flatMap { case (s, d) => Seq(s, d) }.distinct
        var x = verts.map(v => v -> 1L).toMap
        val num = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for (l <- 1 to 3) {
          val next = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
          for ((s, d) <- es) next(d) += x.getOrElse(s, 0L)
          x = next.toMap
          for ((v, c) <- x) num(v) += c * (1L << (3 - l))
        }
        val want = verts.map(v => (v, num(v)))
          .sortBy { case (v, n) => (-n, v) }
        got == want
      }
    }, "Katz vs matrix powers")
  }

  test("property: degree-ordered census equals brute force on random graphs") {
    // guards the round-12 orientation: for every random edge set, the
    // enumerated triangle / K4 counts and the truss supports must equal
    // the brute-force reference EXACTLY — single enumeration (no misses,
    // no double counts) regardless of degree ties, hubs, or id order
    val edges = Gen.chooseNum(5, 14).flatMap { n =>
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
    }
    assertHolds(Prop.forAll(edges, Gen.chooseNum(1, 4)) { (raw, nPart) =>
      val pairs = raw.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
        .filter { case (a, b) => a < b }.distinct
      val adj = pairs.toSet
      def connected(x: Long, y: Long) =
        adj.contains((math.min(x, y), math.max(x, y)))
      val verts = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val triBrute = (for {
        a <- verts; b <- verts if a < b && connected(a, b)
        c <- verts if b < c && connected(a, c) && connected(b, c)
      } yield Seq(a, b, c)).flatten
        .groupBy(identity).map { case (v, xs) => (v, xs.size.toLong) }
      val k4Brute = (for {
        a <- verts; b <- verts if a < b && connected(a, b)
        c <- verts if b < c && connected(a, c) && connected(b, c)
        d <- verts if c < d && connected(a, d) && connected(b, d) && connected(c, d)
      } yield Seq(a, b, c, d)).flatten
        .groupBy(identity).map { case (v, xs) => (v, xs.size.toLong) }
      val supBrute = pairs.map { case (a, b) =>
        ((a, b), verts.count(c => c != a && c != b &&
          connected(a, c) && connected(b, c)).toLong)
      }.filter(_._2 > 0).toMap
      if (pairs.isEmpty) true
      else {
        val df = pairs.toDF("a", "b").repartition(nPart)
        val tri = graph.GraphOps.triangleCounts(df).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val k4 = graph.GraphOps.fourCliqueCounts(df).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val sup = graph.GraphOps.trussSupportRound(
            df.select(col("a").cast("long").as("a"), col("b").cast("long").as("b")))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
        tri == triBrute && k4 == k4Brute && sup == supBrute
      }
    }, "census vs brute force")
  }

  /** Edge rows over vertices 1..n from one seed: a random recursive tree,
    * sometimes cut into a forest, plus chords (cycles), self-loops,
    * duplicate rows and edges stored in one direction only.
    */
  private def messyGraph(rng: scala.util.Random): (Int, Seq[(Long, Long)]) = {
    val n = 1 + rng.nextInt(14)
    def v() = (1 + rng.nextInt(n)).toLong
    val tree = (2 to n).map(i => ((1 + rng.nextInt(i - 1)).toLong, i.toLong))
    val kept = if (rng.nextBoolean()) tree else tree.filter(_ => rng.nextInt(4) > 0)
    val chords = Seq.fill(rng.nextInt(4))((v(), v()))
    val loops = Seq.fill(rng.nextInt(2)) { val x = v(); (x, x) }
    val rows = (kept ++ chords ++ loops).flatMap { case (a, b) =>
      if (rng.nextInt(5) == 0) Seq((a, b)) else Seq((a, b), (b, a))
    }
    val dups = if (rows.isEmpty) Nil else Seq.fill(rng.nextInt(3))(rows(rng.nextInt(rows.length)))
    (n, rows ++ dups)
  }

  /** The driver-side traversal returns the distributed operator's rows,
    * column names and types, and order from `start`. (Nullability is not
    * compared: the distributed result's follows its plan, e.g. a level-0
    * only BFS is non-nullable.)
    */
  private def traversalsAgree(edges: org.apache.spark.sql.DataFrame, start: Long): Boolean = {
    val g = graph.GraphOps.LocalGraph.collect(edges)
    def same(local: org.apache.spark.sql.DataFrame, dist: org.apache.spark.sql.DataFrame) =
      local.dtypes.toSeq == dist.dtypes.toSeq && local.collect().toSeq == dist.collect().toSeq
    same(graph.GraphOps.bfsLevelsLocal(g, start), graph.GraphOps.bfsLevels(edges, start)) &&
      same(graph.GraphOps.dfsLeavesLocal(g, start), graph.GraphOps.dfsLeaves(edges, start))
  }

  test("property: driver-side BFS/DFS equal bfsLevels/dfsLeaves row for row") {
    assertHolds(Prop.forAll(Gen.long, Gen.chooseNum(1, 4)) { (seed, nPart) =>
      val rng = new scala.util.Random(seed)
      val (n, rows) = messyGraph(rng)
      // start n + 1 is an endpoint of no edge: the isolated-start case
      traversalsAgree(rows.toDF("src", "dst").repartition(nPart), 1L + rng.nextInt(n + 1))
    }, "driver traversal vs distributed")
  }

  test("driver-side BFS/DFS equal the distributed operators on null endpoints, self-loop starts and the level cap") {
    val nulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(2L), None), (None, Some(3L)), (Some(3L), Some(2L)), (None, None), (Some(4L), None))
      .toDF("src", "dst")
    for (s <- 1L to 5L) assert(traversalsAgree(nulls, s), s"null endpoints from $s")
    val selfLoop = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    assert(traversalsAgree(selfLoop, 1L) && traversalsAgree(selfLoop, 2L))
    // 1,200-vertex path. The distributed traversal's visited-set plan grows
    // with depth, so 1,000 of its levels take minutes: parity is checked at
    // a 20-level cap, and the 1,000-level default (one constant for both)
    // on the driver path alone
    val path = undirected((1L until 1200L).map(i => (i, i + 1)): _*)
    val g = graph.GraphOps.LocalGraph.collect(path)
    assert(graph.GraphOps.bfsLevelsLocal(g, 1L, maxLevels = 20).collect().toSeq ==
      graph.GraphOps.bfsLevels(path, 1L, maxLevels = 20).collect().toSeq)
    assert(graph.GraphOps.bfsLevelsLocal(g, 1L).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == (0L to 1000L).map(l => (l + 1, l)))
    def leavesFrom(s: Long) = graph.GraphOps.dfsLeavesLocal(g, s).collect().map(_.getLong(0)).toSeq
    // vertex 1,200 is exactly 1,000 hops from 200 and one hop too far from 199
    assert(leavesFrom(200L) == Seq(1L, 1200L) && leavesFrom(199L) == Seq(1L))
    assert(leavesFrom(1L).isEmpty)
  }
}
