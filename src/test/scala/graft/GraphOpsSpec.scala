package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps
import SparkTestSession._

/** Golden traversal cases from `Sample IO for DFS_BFS.docx` (FIXTURES.md §3)
  * plus property-style invariants on seeded random attachment trees.
  */
class GraphOpsSpec extends AnyFunSuite {

  // Docx G1: n=5, edges 1-2, 2-3, 2-4, 4-5
  private def docxG1 = undirected((1, 2), (2, 3), (2, 4), (4, 5))
  // Docx G2: n=7, edges 1-2, 1-4, 2-5, 2-7, 3-4, 6-7
  private def docxG2 = undirected((1, 2), (1, 4), (2, 5), (2, 7), (3, 4), (6, 7))

  private def levels(edges: org.apache.spark.sql.DataFrame, start: Long,
                     pregel: Boolean = false): Map[Long, Set[Long]] = {
    val df = if (pregel) GraphOps.bfsLevelsPregel(edges, start)
             else GraphOps.bfsLevels(edges, start)
    df.collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  private def leaves(edges: org.apache.spark.sql.DataFrame, start: Long): Set[Long] =
    GraphOps.dfsLeaves(edges, start).collect().map(_.getLong(0)).toSet

  test("BFS docx G1 from 1 → [{1},{2},{3,4},{5}]") {
    assert(levels(docxG1, 1) ==
      Map(0L -> Set(1L), 1L -> Set(2L), 2L -> Set(3L, 4L), 3L -> Set(5L)))
  }

  test("BFS docx G1 from 2 → [{2},{1,3,4},{5}]") {
    assert(levels(docxG1, 2) ==
      Map(0L -> Set(2L), 1L -> Set(1L, 3L, 4L), 2L -> Set(5L)))
  }

  test("BFS docx G2 from 1 → [{1},{2,4},{3,5,7},{6}]") {
    assert(levels(docxG2, 1) ==
      Map(0L -> Set(1L), 1L -> Set(2L, 4L), 2L -> Set(3L, 5L, 7L), 3L -> Set(6L)))
  }

  test("Pregel BFS matches the DataFrame loop on docx fixtures") {
    for (g <- Seq(docxG1, docxG2); s <- Seq(1L, 2L)) {
      assert(levels(g, s, pregel = true) == levels(g, s))
    }
  }

  test("DFS leaves docx goldens: {3,5} from 1; {1,3,5} from 2 and from 4") {
    assert(leaves(docxG1, 1) == Set(3L, 5L))
    assert(leaves(docxG1, 2) == Set(1L, 3L, 5L))
    assert(leaves(docxG1, 4) == Set(1L, 3L, 5L))
  }

  test("degrees of docx G1") {
    val d = GraphOps.degrees(docxG1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == Map(1L -> 1L, 2L -> 3L, 3L -> 1L, 4L -> 2L, 5L -> 1L))
  }

  test("connected components labels two separate paths by min vertex id") {
    import spark.implicits._
    val edges = undirected((1, 2), (2, 3), (10, 11))
    val vertices = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("vertex") // 99 isolated
    val cc = GraphOps.connectedComponents(edges, vertices).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  /** Random tree on n vertices: vertex i (2..n) attaches to a uniform
    * earlier vertex (seeded — deterministic across runs).
    */
  private def randomTree(rng: scala.util.Random): Seq[(Long, Long)] = {
    val n = 2 + rng.nextInt(23)
    (2 to n).map(i => ((1 + rng.nextInt(i - 1)).toLong, i.toLong))
  }

  test("property: BFS visits all n vertices exactly once; level = hop distance") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val pairs = randomTree(rng)
      val n = pairs.length + 1
      val lv = levels(undirected(pairs: _*), 1)
      val all = lv.values.flatten.toSeq
      assert(all.length == n && all.toSet.size == n)
      // vertex 1 alone at level 0; every child one level below its parent
      assert(lv(0L) == Set(1L))
      val lvOf = lv.flatMap { case (l, vs) => vs.map(_ -> l) }
      pairs.foreach { case (p, c) => assert(lvOf(c) == lvOf(p) + 1) }
    }
  }

  test("property: DFS leaves = degree-1 vertices minus the root") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 6) {
      val pairs = randomTree(rng)
      val g = undirected(pairs: _*)
      val deg = pairs.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.size)
      val expected = deg.filter(_._2 == 1).keySet.toSet - 1L
      assert(leaves(g, 1) == expected)
    }
  }

  test("multi-start BFS equals per-start BFS on fixtures and random trees") {
    def multi(g: org.apache.spark.sql.DataFrame, starts: Seq[Long]) =
      GraphOps.bfsLevelsMulti(g, starts).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def single(g: org.apache.spark.sql.DataFrame, starts: Seq[Long]) =
      starts.flatMap(s => GraphOps.bfsLevels(g, s).collect()
        .map(r => (s, r.getLong(0), r.getLong(1)))).toSet
    for (g <- Seq(docxG1, docxG2)) {
      val starts = Seq(1L, 2L, 4L)
      assert(multi(g, starts) == single(g, starts))
    }
    val rng = new scala.util.Random(23)
    val g = undirected(randomTree(rng): _*)
    assert(multi(g, Seq(1L, 2L)) == single(g, Seq(1L, 2L)))
    // duplicate starts collapse
    assert(multi(docxG1, Seq(1L, 1L, 2L)) == single(docxG1, Seq(1L, 2L)))
  }

  test("Pregel DFS-leaves agrees with the closed form on docx goldens and random trees") {
    def pregelLeaves(g: org.apache.spark.sql.DataFrame, s: Long): Set[Long] =
      GraphOps.dfsLeavesPregel(g, s).collect().map(_.getLong(0)).toSet
    for (s <- Seq(1L, 2L, 4L)) assert(pregelLeaves(docxG1, s) == leaves(docxG1, s))
    assert(pregelLeaves(docxG2, 1L) == leaves(docxG2, 1L))
    val rng = new scala.util.Random(13)
    for (_ <- 1 to 4) {
      val g = undirected(randomTree(rng): _*)
      assert(pregelLeaves(g, 1L) == leaves(g, 1L))
    }
  }

  test("multi-start BFS amortizes: a batch costs the jobs of its DEEPEST member, not the sum") {
    // the scale claim behind bfsLevelsMulti (n requests = one traversal
    // with an n x wider frontier, not n traversals) pinned as a job count:
    // iteration count is bounded by the batch's max eccentricity, not by
    // the number of starts
    val edges = docxG2 // eccentricity from 3 is 5 (the deepest of 1..4)
    def jobsOf(tag: String, starts: Seq[Long]): Int =
      jobsIn(tag)(GraphOps.bfsLevelsMulti(edges, starts).collect())
    val deepest = jobsOf("bfs-one", Seq(3L))
    val batch = jobsOf("bfs-four", Seq(1L, 2L, 3L, 4L))
    assert(batch <= deepest + 1,
      s"batch of 4 ran $batch jobs vs $deepest for its deepest member alone")
  }

  test("bounded-hop weighted SSSP: cheaper long path wins, hop bound respected") {
    import SparkTestSession.spark.implicits._
    // 1→2 costs 10 direct but 2 via 3 (two hops); 4 only reachable in 3 hops
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val r3 = GraphOps.ssspBounded(e, 1L, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r3 == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    val r1 = GraphOps.ssspBounded(e, 1L, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 10L, 3L -> 1L)) // no 2-hop relax, no 4
  }

  test("neighbor degree stats: hand computation on docx G1") {
    val out = GraphOps.neighborDegreeStats(docxG1).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    // G1: 1-2, 2-3, 2-4, 4-5 → degrees 1:1 2:3 3:1 4:2 5:1
    assert(out(1L) == ((1L, 3L, 3.0, 3L)))       // neighbor {2}
    assert(out(2L) == ((3L, 1L, 1.3333, 2L)))    // neighbors {1,3,4}
    assert(out(4L) == ((2L, 1L, 2.0, 3L)))       // neighbors {2,5}
    assert(out(5L) == ((1L, 2L, 2.0, 2L)))       // neighbor {4}
  }

  test("property: bounded SSSP with rounds >= V equals in-test Dijkstra on random graphs") {
    import SparkTestSession.spark.implicits._
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 3) {
      val n = 20
      val edges = (for {
        s <- 1 to n; d <- 1 to n
        if s != d && rnd.nextDouble() < 0.12
      } yield (s.toLong, d.toLong, (1 + rnd.nextInt(9)).toLong)).toSeq
      // reference Dijkstra on the driver
      val adj = edges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.Map(1L -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, 1L))(
        Ordering.by[(Long, Long), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (dist.getOrElse(v, Long.MaxValue) == d)
          adj.getOrElse(v, Seq.empty).foreach { case (u, w) =>
            if (d + w < dist.getOrElse(u, Long.MaxValue)) {
              dist(u) = d + w; pq.enqueue((d + w, u))
            }
          }
      }
      val got = GraphOps.ssspBounded(edges.toDF("src", "dst", "w"), 1L, rounds = n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == dist.toMap, s"SSSP mismatch on random graph")
    }
  }

  test("deep graph: Pregel BFS on a 200-vertex path (depth >> the reference's n<=30)") {
    import spark.implicits._
    val n = 200
    val edges = (1 until n).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val out = GraphOps.bfsLevelsPregel(edges, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == n)
    (1 to n).foreach(i => assert(out(i.toLong) == i - 1L, s"vertex $i level"))
  }

  test("kTrussBounded: K4 survives 4-truss peeling; pendant triangle and bridge peel off; cascades") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every edge closes 2 triangles) + a pendant triangle
    // {4,5,6} (each edge closes 1) + a triangle-free bridge (6,7)
    val p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val out = GraphOps.kTrussBounded(p, k = 4, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    // cascade: two triangles sharing edge (2,3) — round 1 keeps only the
    // shared edge (support 2), round 2 finds it triangle-less ⇒ empty
    val chain = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.kTrussBounded(chain, k = 4, rounds = 2).count() == 0L)
    // k=3 (support >= 1) keeps the whole two-triangle chain, stable
    val k3 = GraphOps.kTrussBounded(chain, k = 3, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(k3 == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 4L, 1L), (3L, 4L, 1L)))
  }

  test("census broadcast gate: shuffled path equals broadcast path bit-for-bit; gate plans a BroadcastHashJoin probe") {
    import spark.implicits._
    // K4 ∪ pendant triangle ∪ second K4 sharing vertex 4 — triangles,
    // 4-cliques and truss supports all non-trivial
    val p = ((for { a <- 1L to 4L; b <- a + 1 to 4L } yield (a, b)) ++
      Seq((4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L), (4L, 7L),
        (7L, 8L))).toDF("a", "b")
    def quad(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bQuad = quad(GraphOps.fourCliqueCounts(p))
    val bTri = quad(GraphOps.triangleCounts(p))
    // graft.censusBroadcastMax=0 forces the past-the-gate (shuffled)
    // geometry on the same graph — strategy only, identical relation
    System.setProperty("graft.censusBroadcastMax", "0")
    try {
      assert(quad(GraphOps.fourCliqueCounts(p)) == bQuad,
        "shuffled-path K4 census diverged from the broadcast path")
      assert(quad(GraphOps.triangleCounts(p)) == bTri,
        "shuffled-path triangle census diverged from the broadcast path")
      // r20 (r19 verdict #4): past the gate the wedge fan-out is Bloom-
      // pruned map-side BEFORE the shuffled closing semi-join — the
      // might_contain filter must sit deeper in the plan than the join
      val forced = GraphOps.triangleCounts(p)
        .queryExecution.executedPlan.toString
      assert(forced.contains("might_contain"),
        s"above-gate census plan carries no Bloom prune:\n$forced")
      assert(forced.indexOf("might_contain") > forced.indexOf("LeftSemi"),
        s"Bloom prune is not below the closing semi-join:\n$forced")
    } finally System.clearProperty("graft.censusBroadcastMax")
    // under the gate the closing-edge probe must be a map-side broadcast:
    // the O(m^1.5) wedge fan-out crosses no exchange before aggregation
    val plan = GraphOps.triangleCounts(p).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"gated census probe is not a broadcast semi-join:\n$plan")
  }

  test("vertex-probe gate: LPA, Louvain, modularity and conductance agree bit-for-bit across the gate") {
    // two triangles bridged by 3–4 (the hand-traced community fixture) —
    // labels, gains, volumes and cuts all non-trivial
    val g = undirected((1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6))
    def snap(): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row],
                 Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val lpa = GraphOps.labelPropagationBounded(g, rounds = 3)
      (lpa.collect().toSeq,
        GraphOps.louvainBounded(g, rounds = 2).collect().toSeq,
        GraphOps.modularity(g, GraphOps.labelPropagationBounded(g, rounds = 3))
          .collect().toSeq,
        GraphOps.communityConductance(g, lpa).collect().toSeq)
    }
    val on = snap() // tiny graph: gate passes, probes broadcast
    System.setProperty("graft.vertexBroadcastMax", "0") // force shuffled path
    try {
      val off = snap()
      assert(on == off,
        s"vertex-probe gate changed results:\nON  $on\nOFF $off")
    } finally System.clearProperty("graft.vertexBroadcastMax")
  }

  test("vertex-probe gate: MIS and maximal matching agree bit-for-bit across the gate") {
    import spark.implicits._
    // K4 + pendant path — multiple Luby rounds, conflicts, and a
    // deterministic matching
    val p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    def snap() = (
      GraphOps.maximalIndependentSet(p).collect().toSeq,
      GraphOps.maximalMatching(p).collect().toSeq)
    val on = snap()
    System.setProperty("graft.vertexBroadcastMax", "0")
    try assert(snap() == on, "MIS/matching diverged across the vertex-probe gate")
    finally System.clearProperty("graft.vertexBroadcastMax")
  }

  test("kCoreBounded peels the pendant vertex, keeps the triangle") {
    // triangle {1,2,3} + pendant 4–1: k=2 drops 4 in round 1, then stable
    val g = undirected((1, 2), (2, 3), (1, 3), (1, 4))
    val out = GraphOps.kCoreBounded(g, k = 2, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagationBounded finds the two triangle communities (hand-traced)") {
    // two triangles bridged by 3–4; 3 synchronous min-tie-break rounds
    // converge to label 1 for {1,2,3} and label 3 for {4,5,6}
    val g = undirected((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))
    val out = GraphOps.labelPropagationBounded(g, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("louvainBounded: hand-traced exact-integer gains, smallest-id ties, stay candidate") {
    // two triangles bridged by 3–4; 2m = 14, deg = (2,2,3,3,2,2).
    // Round 1 from singleton communities, num = 14·k − deg_v·tot_c':
    //   v1: c2 → 14−2·2=10, c3 → 14−2·3=8, stay → 0  ⇒ c2
    //   v3: c1 → 14−3·2=8, c2 → 8 (TIE → smallest), c4 → 14−3·3=5 ⇒ c1
    //   v4: c3 → 5, c5 → 8, c6 → 8 (tie → smallest)              ⇒ c5
    val g = undirected((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))
    val r1 = GraphOps.louvainBounded(g, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 5L))
    // star: the stay candidate keeps an isolated-in-its-community vertex
    // well-defined (k=0, tot' excludes own degree ⇒ num 0); round 1 is
    // the classic synchronous swap — leaves join the hub, hub joins c1
    val star = undirected((0, 1), (0, 2), (0, 3), (0, 4))
    val s1 = GraphOps.louvainBounded(star, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s1 == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("modularity: two bridged triangles with the perfect labeling score exactly 70/196") {
    import spark.implicits._
    // m = 7 undirected edges (2m = 14 rows); communities {1,2,3} / {4,5,6}:
    // intra2_c = 6 each, deg_c = 7 each ⇒ Q = 2·(6/14 − (7/14)²) = 70/196
    val g = undirected((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("vertex", "label")
    val r = GraphOps.modularity(g, lab).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 7L)))
    assert(r.getDouble(2) == 70.0 / 196.0)
    // the LPA labeling on the same graph lands the same perfect split
    val viaLpa = GraphOps.modularity(g,
      GraphOps.labelPropagationBounded(g, rounds = 3)).collect().head
    assert(viaLpa.getDouble(2) == 70.0 / 196.0)
  }

  test("clusteringCoefficient: triangle corners score 1 (or 1/3 at the hub), pendant excluded") {
    import spark.implicits._
    // triangle {1,2,3} + pendant edge 1–4 (canonical pairs, a < b)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val out = GraphOps.clusteringCoefficient(pairs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // vertex 4 has degree 1 — no neighbor pair, excluded
    assert(out == Map(
      1L -> ((3L, 1L, 1.0 / 3.0)),
      2L -> ((2L, 1L, 1.0)),
      3L -> ((2L, 1L, 1.0))))
  }

  test("commonNeighborLinks proposes non-edges through shared neighbors; degree cap prunes hubs") {
    import spark.implicits._
    // star 1–{2,3,4} plus edge 2–3: non-edges (2,4) and (3,4) share neighbor 1
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("a", "b")
    val out = GraphOps.commonNeighborLinks(pairs, minCommon = 1, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // (2,4): deg 2 + deg 1 − 1 common → jaccard 0.5; same for (3,4);
    // (2,3) is an existing edge — anti-joined away
    assert(out == Seq((2L, 4L, 1L, 0.5), (3L, 4L, 1L, 0.5)))
    // capping middle degree at 2 removes the only shared neighbor (deg 3)
    val capped = GraphOps.commonNeighborLinks(pairs, minCommon = 1, k = 10,
      maxMiddleDegree = 2L).collect()
    assert(capped.isEmpty)
  }

  test("hits: mutual reinforcement ranks the double-pointing hub and shared authority") {
    import spark.implicits._
    // bipartite: hubs {1,2,3} → auths {10,11}; 3 points at both
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (3L, 11L)).toDF("src", "dst")
    val out = GraphOps.hits(e, iters = 10).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    // auths have no out-edges → hub 0; hubs have no in-edges → auth 0
    assert(out(10L)._1 == 0.0 && out(11L)._1 == 0.0)
    assert(out(1L)._2 == 0.0 && out(2L)._2 == 0.0 && out(3L)._2 == 0.0)
    // 10 (pointed at by all three) beats 11; 3 (points at both) beats 1/2,
    // and 1 and 2 are structurally identical — bit-equal scores
    assert(out(10L)._2 > out(11L)._2 && out(11L)._2 > 0.0)
    assert(out(3L)._1 > out(1L)._1 && out(1L)._1 > 0.0)
    assert(out(1L)._1 == out(2L)._1)
    // L2-normalized: each side's squared scores sum to 1
    val sumA = out.values.map(v => v._2 * v._2).sum
    val sumH = out.values.map(v => v._1 * v._1).sum
    assert(math.abs(sumA - 1.0) < 1e-9 && math.abs(sumH - 1.0) < 1e-9)
  }

  test("degreeAssortativity: a 3-path is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // path 1-2-3: each edge joins a degree-1 leaf to the degree-2 middle
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = GraphOps.degreeAssortativity(pairs).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 2L)      // n_edges
    assert(out(0).getLong(1) == 3L)      // n_vertices
    assert(out(0).getDouble(2) == -1.0)  // exact: every moment is an integer
  }

  test("graph queries release their persisted RDDs (owner-managed lifetimes)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = docxG2
    val verts = edges.select($"src".as("vertex")).distinct()
    val w = edges.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "bfsLevels" -> (() => GraphOps.bfsLevels(edges, 1L)),
      "bfsLevelsMulti" -> (() => GraphOps.bfsLevelsMulti(edges, Seq(1L, 2L))),
      "bfsLevelsPregel" -> (() => GraphOps.bfsLevelsPregel(edges, 1L)),
      "dfsLeavesPregel" -> (() => GraphOps.dfsLeavesPregel(edges, 1L)),
      "ssspBounded" -> (() => GraphOps.ssspBounded(w, 1L, rounds = 3)),
      "pageRank" -> (() => GraphOps.pageRank(edges, iters = 3)),
      "personalizedPageRank" -> (() => GraphOps.personalizedPageRank(edges, 1L, iters = 3)),
      "connectedComponents" -> (() => GraphOps.connectedComponents(edges, verts)),
    )
    for ((name, run) <- runs) {
      val before = sc.getPersistentRDDs.keySet
      val df = run()
      df.count()
      // exactly ONE new persisted RDD may remain: the eagerly checkpointed
      // result the caller owns (ContextCleaner reclaims it on drop) — the
      // Pregel/iteration intermediates must all be released by return time
      val extra = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
      assert(extra.size <= 1, s"$name left ${extra.size} persisted RDDs: $extra")
    }
  }

  test("DFS leaves of a single-vertex tree is the root itself (reference n=1 case)") {
    import spark.implicits._
    // graph with an isolated start: edges exist elsewhere only
    val g = undirected((5, 6))
    val out = GraphOps.dfsLeaves(g, 1L).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
    val outP = GraphOps.dfsLeavesPregel(g, 1L).collect().map(_.getLong(0)).toSet
    assert(outP == Set(1L))
  }

  // ---- fixpoint variants (convergence-detecting loops; the bounded
  // variants above stay the oracle-replayable contract) ----

  test("kCore fixpoint peels a cascading tail the 2-round bounded variant cannot") {
    // triangle {1,2,3} + pendant chain 1-4-5-6: k=2 must peel 6, then 5,
    // then 4 — three cascading rounds before the triangle is stable
    val g = undirected((1, 2), (2, 3), (1, 3), (1, 4), (4, 5), (5, 6))
    val fix = GraphOps.kCore(g, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fix == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the 2-round bounded variant still holds vertex 4 (chain not fully peeled)
    val bounded = GraphOps.kCoreBounded(g, k = 2, rounds = 2).collect()
      .map(_.getLong(0)).toSet
    assert(bounded.contains(4L))
  }

  test("kCore fixpoint of a tree at k=2 is empty; maxRounds stops early") {
    val path = undirected((1, 2), (2, 3), (3, 4), (4, 5))
    assert(GraphOps.kCore(path, k = 2).collect().isEmpty)
    // with maxRounds=1 the peel is cut short: interior survives one round
    val partial = GraphOps.kCore(path, k = 2, maxRounds = 1).collect()
      .map(_.getLong(0)).toSet
    assert(partial == Set(2L, 3L, 4L))
  }

  test("property: kCore fixpoint invariants on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 18
      val base = (for {
        a <- 1 to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.15
      } yield (a.toLong, b.toLong)).toSeq
      // plant a known 3-core: clique {101,102,103,104}
      val clique = (for {
        a <- 101 to 104; b <- (a + 1) to 104
      } yield (a.toLong, b.toLong)).toSeq
      val g = undirected((base ++ clique): _*)
      val k = 3
      val core = GraphOps.kCore(g, k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // invariant 1: every surviving vertex has degree >= k IN THE SURVIVOR GRAPH
      assert(core.values.forall(_ >= k), s"trial $trial: degree < $k in core")
      // invariant 2: the planted clique survives (it is a 3-core witness)
      assert((101L to 104L).forall(core.contains), s"trial $trial: clique peeled")
      // invariant 3: fixpoint == bounded with rounds >= |V| (full peel)
      val boundedFull = GraphOps.kCoreBounded(g, k, rounds = n + 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(core == boundedFull, s"trial $trial: fixpoint != exhaustive bounded")
      // invariant 4: idempotent — re-peeling the core changes nothing
      val coreEdges = g.as[(Long, Long)].collect()
        .filter { case (s, d) => core.contains(s) && core.contains(d) }
      val again = GraphOps.kCore(coreEdges.toSeq.toDF("src", "dst"), k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(again == core, s"trial $trial: core not a fixpoint")
    }
  }

  test("labelPropagation fixpoint resolves the two triangle communities") {
    val g = undirected((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))
    val out = GraphOps.labelPropagation(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation terminates on a bipartite 2-cycle oscillator via maxRounds") {
    // single symmetrized edge 1-2: synchronous LPA swaps labels forever
    // (1 adopts 2's label while 2 adopts 1's) — only maxRounds ends it
    val g = undirected((1, 2))
    val out = GraphOps.labelPropagation(g, maxRounds = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(Set(Map(1L -> 1L, 2L -> 2L), Map(1L -> 2L, 2L -> 1L)).contains(out))
  }

  test("property: labelPropagation fixpoint is a STABLE labeling on planted communities") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    for (trial <- 1 to 2) {
      // two planted 6-cliques joined by one bridge edge + random intra noise
      val cliqueA = for { a <- 1 to 6; b <- (a + 1) to 6 } yield (a.toLong, b.toLong)
      val cliqueB = for { a <- 11 to 16; b <- (a + 1) to 16 } yield (a.toLong, b.toLong)
      val bridge = Seq((6L, 11L))
      val g = undirected((cliqueA ++ cliqueB ++ bridge): _*)
      val out = GraphOps.labelPropagation(g, maxRounds = 50).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // each planted clique is uniformly labeled (bridge endpoints may defect,
      // but 5 interior members of each clique must agree)
      assert((1L to 5L).map(out).toSet.size == 1, s"trial $trial: clique A split")
      assert((12L to 16L).map(out).toSet.size == 1, s"trial $trial: clique B split")
      // stability: one more bounded round from the fixpoint changes nothing —
      // replay bounded LPA seeded from scratch for (converged + 1) rounds and
      // compare against (converged) rounds on a graph that cannot oscillate
      val r6 = GraphOps.labelPropagationBounded(g, rounds = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val r7 = GraphOps.labelPropagationBounded(g, rounds = 7).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      if (r6 == r7) assert(out == r6, s"trial $trial: fixpoint != stable bounded")
      val _ = rnd // seed reserved for future noise injection
    }
  }

  test("sssp fixpoint equals driver Dijkstra on seeded random weighted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    for (trial <- 1 to 3) {
      val n = 20
      val edges = (for {
        s <- 1 to n; d <- 1 to n
        if s != d && rnd.nextDouble() < 0.12
      } yield (s.toLong, d.toLong, (1 + rnd.nextInt(9)).toLong)).toSeq
      val adj = edges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.Map(1L -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, 1L))(
        Ordering.by[(Long, Long), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (dist.getOrElse(v, Long.MaxValue) == d)
          adj.getOrElse(v, Seq.empty).foreach { case (u, w) =>
            if (d + w < dist.getOrElse(u, Long.MaxValue)) {
              dist(u) = d + w; pq.enqueue((d + w, u))
            }
          }
      }
      val got = GraphOps.sssp(edges.toDF("src", "dst", "w"), 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == dist.toMap, s"trial $trial: sssp fixpoint != Dijkstra")
    }
  }

  test("sssp fixpoint on a weighted path converges without a round budget") {
    import spark.implicits._
    val n = 30
    val e = (1 until n).map(i => (i.toLong, i + 1L, 2L)).toDF("src", "dst", "w")
    val out = GraphOps.sssp(e, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == n)
    (1 to n).foreach(i => assert(out(i.toLong) == 2L * (i - 1)))
  }

  test("subtreeSizes: hand-traced descendant counts; deep chain converges") {
    import spark.implicits._
    // 1→{2,3}, 2→{4,5}: n_desc 1→4, 2→2, leaves 0
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)).toDF("src", "dst")
    val out = GraphOps.subtreeSizes(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 4L, 2L -> 2L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    // depth-6 chain: vertex i has 6 - i descendants (bottom-up rounds
    // must propagate the full depth)
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val c = GraphOps.subtreeSizes(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c == (1L to 6L).map(i => i -> (6L - i)).toMap)
  }

  test("fixpoint graph queries release their persisted RDDs") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = docxG2
    val w = edges.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "kCore" -> (() => GraphOps.kCore(edges, k = 2)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(edges, maxRounds = 10)),
      "sssp" -> (() => GraphOps.sssp(w, 1L)),
      "hits" -> (() => GraphOps.hits(edges, iters = 5)),
    )
    for ((name, run) <- runs) {
      val before = sc.getPersistentRDDs.keySet
      run().count()
      val extra = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
      assert(extra.size <= 1, s"$name left ${extra.size} persisted RDDs: $extra")
    }
  }

  test("maximalIndependentSet: equals the sequential greedy MIS; independent and maximal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val rnd = new scala.util.Random(7)
    val es = (1 to 150).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val got = GraphOps.maximalIndependentSet(es.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inMis = got.filter(_._2 == 1L).keySet
    val adj = es.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (e <- es) // independence: no edge inside the set
      assert(!(inMis(e._1) && inMis(e._2)), s"edge $e inside MIS")
    for (v <- got.keys if !inMis(v)) // maximality: every outsider is blocked
      assert(adj.getOrElse(v, Set.empty).exists(inMis), s"$v addable")
    // the parallel fixpoint must equal the SEQUENTIAL greedy under the
    // same (hash, id) priority — the semantic contract of the operator
    val vs = got.keys.toSeq
    val h = vs.toDF("v").select(col("v"),
        graft.functions.PortableHash.md5Bits60(
          concat_ws("_", lit("mis"), col("v"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val greedy = scala.collection.mutable.Set.empty[Long]
    for (v <- vs.sortBy(v => (h(v), v)))
      if (!adj.getOrElse(v, Set.empty).exists(greedy)) greedy += v
    assert(inMis == greedy.toSet)
  }

  test("stronglyConnectedComponents: cycles collapse to min-id, DAG vertices stay singletons") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle {1,2,3}
      (3L, 4L), (4L, 5L), (5L, 4L),           // 2-cycle {4,5} downstream
      (3L, 7L), (6L, 6L))                     // DAG sink 7; self-loop 6
      .toDF("src", "dst")
    val got = GraphOps.stronglyConnectedComponents(e, numIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("katzCentrality: hand-computed walk counts on a cycle, exact 2^-l weights") {
    import spark.implicits._
    // 3-cycle 1→2→3→1 plus chord 1→3; L=2:
    //   walks_1 (indegree): 1:1, 2:1, 3:2
    //   walks_2 (Σ walks_1 over in-neighbors): 1:2, 2:1, 3:2
    //   num = 2·walks_1 + walks_2 → 1:4, 2:3, 3:6; katz = num/4
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = GraphOps.katzCentrality(e, rounds = 2, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((3L, 6L, 1.5), (1L, 4L, 1.0), (2L, 3L, 0.75)))
  }

  test("betweennessSampled: hand-traced Brandes dependencies on a path and a star") {
    import spark.implicits._
    // path 1—2—3, all three vertices as sources, depth 2:
    //   s=1: δ(2)=σ2/σ3·(1+0)=1   s=3: δ(2)=1   s=2: δ(1)=δ(3)=0
    // ⇒ bc = {1:0, 2:2, 3:0}; every vertex reached at level ≥ 1 appears
    val path = undirected((1, 2), (2, 3))
    val all3 = Seq(1L, 2L, 3L).toDF("s")
    val got = GraphOps.betweennessSampled(path, all3, maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 0.0, 2L -> 2.0, 3L -> 0.0))
    // star center 9 with leaves 5,6,7, single source 5, depth 2:
    //   δ(9) = (1+δ(6)) + (1+δ(7)) = 2; leaves 6,7 carry 0
    val star = undirected((5, 9), (6, 9), (7, 9))
    val from5 = Seq(5L).toDF("s")
    val gotStar = GraphOps.betweennessSampled(star, from5, maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotStar == Map(9L -> 2.0, 6L -> 0.0, 7L -> 0.0))
    // depth cap 1: no vertex has a child level, all dependencies are 0
    val capped = GraphOps.betweennessSampled(star, from5, maxDepth = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(capped == Map(9L -> 0.0))
  }

  test("betweennessSampled: backward pass releases level checkpoints as it consumes them") {
    import spark.implicits._
    // 6-vertex path from a single source ⇒ 6 forward levels, 4 backward
    // steps. Expected live OWNED checkpoints after each step's cleanup
    // (backwardProbe contract — forward levels not yet consumed + childd
    // + accumulator): [5, 4, 3, 2]. Without the release discipline the
    // old shape held every frame: the count would GROW (8, 10, 12, 14).
    val path = undirected((1, 2), (2, 3), (3, 4), (4, 5), (5, 6))
    val src = Seq(1L).toDF("s")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val got = GraphOps.betweennessSampled(path, src, maxDepth = 6,
        backwardProbe = counts += _)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // behavior unchanged: hand-traced Brandes dependencies on the path
    // (δ(v) = number of shortest-path descendants below v)
    assert(got == Map(2L -> 4.0, 3L -> 3.0, 4L -> 2.0, 5L -> 1.0, 6L -> 0.0))
    assert(counts.size == 4, s"expected 4 backward steps, probed $counts")
    assert(counts.zip(counts.tail).forall { case (a, b) => b < a },
      s"live checkpoint count must shrink every backward step: $counts")
    // mid-backward terminal state: only childd + the accumulator remain
    assert(counts.last <= 2,
      s"more than 2 level checkpoints live at end of backward pass: $counts")
  }

  test("node2vecWalks: matches a sequential replay of the weighted-draw kernel; wRet=0 kills backtracks") {
    import spark.implicits._
    import graft.functions.PortableHash.md5Bits60Of
    // sequential twin of the distributed kernel over an adjacency map
    def seqWalks(adj: Map[Long, Seq[Long]], steps: Int,
                 wRet: Long, wTri: Long, wOut: Long): Set[(Long, Long, Long)] = {
      adj.keys.flatMap { walk =>
        var prev = walk; var v = walk; var alive = true
        Set((walk, 0L, walk)) ++ (1 to steps).flatMap { i =>
          if (!alive) Nil
          else {
            val cand = adj(v).sorted.map { d =>
              val wt = if (d == prev) wRet
                       else if (adj(prev).contains(d)) wTri else wOut
              (d, wt)
            }.filter(_._2 > 0)
            if (cand.isEmpty) { alive = false; Nil }
            else {
              val tot = cand.map(_._2).sum
              val draw = md5Bits60Of(s"${walk}_$i") % tot
              var cum = 0L
              val pick = cand.find { case (_, wt) => cum += wt; draw < cum }.get._1
              prev = v; v = pick
              Seq((walk, i.toLong, pick))
            }
          }
        }
      }.toSet
    }
    // triangle {1,2,3} + tail 3–4–5: returns, triangle closures and
    // outward moves all occur
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    val g = undirected(edges: _*)
    val got = GraphOps.node2vecWalks(g, steps = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == seqWalks(adj, 4, 1L, 2L, 1L), "distributed != sequential replay")
    // runs are reproducible
    val again = GraphOps.node2vecWalks(g, steps = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == again)
    // wRet=0: the return candidate is filtered, so a walk NEVER revisits
    // its (i-1) vertex at step i+1, and degree-1 bounce-backs stop instead
    val noRet = GraphOps.node2vecWalks(g, steps = 4, wRet = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(noRet.toSet == seqWalks(adj, 4, 0L, 2L, 1L))
    val byWalk = noRet.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    byWalk.values.foreach { path =>
      path.sliding(3).foreach { w =>
        if (w.length == 3) assert(w(0) != w(2), s"backtrack in $path")
      }
    }
  }

  test("randomWalks: dead ends stop walks; runs are reproducible; every step follows an edge") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps.randomWalks(path, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // walks start at SOURCE vertices only (1 and 2); both hit the dead
    // end at 3 and stop — no phantom steps
    assert(got == Set((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L),
      (2L, 0L, 2L), (2L, 1L, 3L)))
    val g = docxG1
    def run() = GraphOps.randomWalks(g, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = run()
    assert(a.sameElements(run()), "walks must be reproducible run-to-run")
    val adj = g.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    a.groupBy(_._1).values.foreach { steps =>
      steps.toSeq.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, u), (_, _, v)) =>
          assert(adj.contains((u, v)), s"walk transition ($u,$v) is not an edge")
        case _ => ()
      }
    }
  }

  test("hyperBallNf: propagated registers equal the exact-ball registers on a path") {
    import spark.implicits._
    import graft.functions.PortableHash.md5Bits60Of
    // path 1-2-3-4-5, symmetrized; balls are intervals, known exactly
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.hyperBallNf(edges, radius = 2, outputBelow = 1000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    def ball(v: Long, r: Long): Seq[Long] = (1L to 5L).filter(u => math.abs(u - v) <= r)
    def expected(v: Long, r: Long): (Long, Long) = {
      val regs = ball(v, r).map { u =>
        val h = md5Bits60Of(u.toString)
        val rem = h / 256
        (h % 256, if (rem == 0) 53L else 53L - (64 - java.lang.Long.numberOfLeadingZeros(rem)))
      }.groupBy(_._1).map { case (b, rs) => (b, rs.map(_._2).max) }
      (regs.size.toLong, regs.values.map(mj => 1L << (53 - mj).toInt).sum)
    }
    for (v <- 1L to 5L; r <- 1L to 2L) {
      val (nUsed, spUsed) = expected(v, r)
      val sprime = spUsed + (256L - nUsed) * 9007199254740992L
      assert(out((v, r)) == ((nUsed, sprime)),
        s"registers diverge from the exact ball at (v=$v, r=$r)")
    }
  }

  test("hyperBallMeanDistance: the path center's ball mean lands at ~1.5") {
    import spark.implicits._
    // path 1-2-3-4-5 symmetrized; from v=3 the exact distances are
    // (1,1,2,2) → mean 1.5; linear-counting estimates of 3/5/5 elements
    // sit within ~1% of exact, so the derived mean is 1.5 ± small
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val m = GraphOps.hyperBallMeanDistance(edges).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val (e1, e2, e3, md) = m(3L)
    assert(e1 <= e2 && e2 <= e3, "ball estimates must be monotone in radius")
    assert(math.abs(md - 1.5) < 0.05, s"center mean distance $md != ~1.5")
    // an endpoint reaches (1,2,3) at distance (1,2,2)... v=1: balls
    // {1,2}, {1,2,3}, {1,2,3,4} → mean (1+2+3)/3 = 2.0
    assert(math.abs(m(1L)._4 - 2.0) < 0.05, s"endpoint mean ${m(1L)._4}")
  }

  test("hyperBallHarmonic: path center beats the endpoint; values track exact 1/d sums") {
    import spark.implicits._
    // path 1-2-3-4-5 symmetrized. Exact harmonic truncated at radius 3:
    //   v=3: d = (1,1,2,2) → 1+1+1/2+1/2 = 3.0
    //   v=1: d = (1,2,3)   → 1+1/2+1/3 ≈ 1.8333
    // linear-counting estimates at m=256 for ≤5 elements are within ~1%.
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val h = GraphOps.hyperBallHarmonic(edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(math.abs(h(3L) - 3.0) < 0.1, s"center harmonic ${h(3L)} != ~3.0")
    assert(math.abs(h(1L) - 1.8333) < 0.1, s"endpoint harmonic ${h(1L)}")
    assert(h(3L) > h(1L), "the path center must out-rank the endpoint")
  }

  test("hyperBallEffectiveDiameter: path graph interpolates to ~2.43") {
    import spark.implicits._
    // path 1-2-3-4-5 symmetrized: exact summed neighborhood function
    // N(0)=5, N(1)=13, N(2)=19, N(3)=23 → target 0.9·23 = 20.7 lands in
    // (19, 23] → d_eff = 2 + (20.7−19)/(23−19) = 2.425; the m=256
    // linear-counting estimates for ≤5-element balls sit within ~1%.
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val row = GraphOps.hyperBallEffectiveDiameter(edges).collect()(0)
    assert(row.getLong(0) == 5L, "all 5 path vertices marked")
    val d = row.getDouble(4)
    assert(math.abs(d - 2.425) < 0.1, s"effective diameter $d != ~2.425")
  }

  test("hyperBallEffectiveDiameter: degenerate input yields exact zeros, never nulls") {
    import spark.implicits._
    // no marked vertices two ways: empty edges, and every id >= outputBelow.
    // Contract: one row (0, 0, 0, 0, 0.0) — the r12 advice case where the
    // zero-row sums returned nulls that propagated through the when-chain.
    for (edges <- Seq(
        Seq.empty[(Long, Long)].toDF("src", "dst"),
        Seq((5000L, 5001L), (5001L, 5000L)).toDF("src", "dst"))) {
      val rows = GraphOps.hyperBallEffectiveDiameter(edges).collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(!(0 to 4).exists(r.isNullAt), s"degenerate row has nulls: $r")
      assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getLong(3) == 0L && r.getDouble(4) == 0.0, s"expected all zeros: $r")
    }
  }

  test("pprSweepCut: the seed's triangle across the bridge is the best prefix at phi = 1/7") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; PPR from 1 ranks the
    // seed triangle first, and the ACL sweep must pick prefix {1,2,3}:
    // vol 7 (degrees 2+2+3), cut 1 (the bridge), phi = 1/7 — every other
    // prefix scores >= 0.4
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphOps.pprSweepCut(sym, src = 1L).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 7L, 1L)),
      s"best prefix ${(r.getLong(0), r.getLong(1), r.getLong(2))}")
    assert(math.abs(r.getDouble(3) - 1.0 / 7.0) < 1e-12)
  }

  test("communityConductance: two triangles over one bridge score 1/7 each") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; degrees 2,2,3,3,2,2 →
    // vol = 7 per community, m2 = 14, cut = 1 each → φ = 1/7
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("vertex", "label")
    val out = GraphOps.communityConductance(sym, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq((1L, 3L, 7L, 1L, 1.0 / 7), (4L, 3L, 7L, 1L, 1.0 / 7)),
      s"got $out")
    // single-community degenerate: min(vol, 2m−vol) = 0 → defined 0
    val one = GraphOps.communityConductance(sym,
      labels.withColumn("label", org.apache.spark.sql.functions.lit(9L)))
      .collect().map(_.getDouble(4)).toSeq
    assert(one == Seq(0.0))
  }

  test("walkCooccurrencePmi: window pairs, exact counts, ratio-ranked") {
    import spark.implicits._
    // walk 10: 1-2-3-4 ; walk 20: 1-5 — window 2 pairs by hand:
    //   w10: (1,2) (2,3) (3,4) (1,3) (2,4) ; w20: (1,5)
    val walks = Seq(
      (10L, 0L, 1L), (10L, 1L, 2L), (10L, 2L, 3L), (10L, 3L, 4L),
      (20L, 0L, 1L), (20L, 1L, 5L),
    ).toDF("walk", "step", "vertex")
    val out = GraphOps.walkCooccurrencePmi(walks, window = 2, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 6 && out.forall(_._3 == 1L))
    // T = 6 positions, P = 6 pairs; ratio = 36 / (6·ca·cb); occ: 1→2,
    // 2,3,4,5→1 each. (2,3),(3,4),(2,4) tie at 6.0; (1,5),(1,2),(1,3) at 3.0
    val expected = Seq((2L, 3L), (2L, 4L), (3L, 4L), (1L, 2L), (1L, 3L), (1L, 5L))
    assert(out.map(t => (t._1, t._2)).toSeq == expected, s"got ${out.toSeq}")
    assert(out.take(3).forall(t => math.abs(t._4 - math.log(6.0)) < 1e-3))
  }

  test("densestBounded: peeling the tail finds the K4 core as the best round") {
    import spark.implicits._
    // K4 on 1..4 plus a chain 4-5-6: round 1 sees the whole graph
    // (V=6, E=8, avg deg 2.67 → peel 5 and 6, both at or below it);
    // round 2 sees the bare K4 (density 1.5 — the best); its uniform
    // degree 3 fails d·V > 2E (12 > 12 is false) so round 3 is empty.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val out = GraphOps.densestBounded(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toSeq
    assert(out == Seq((1L, 6L, 8L, false), (2L, 4L, 6L, true)), s"got $out")
  }

  test("richClub: K4 plus a pendant — hubs fully wired at k=1,2; the singleton threshold drops") {
    import spark.implicits._
    // K4 on 1..4 (degrees 3,3,3 and v1=4 via the pendant 5)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("a", "b")
    val out = GraphOps.richClub(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // k=1,2: N={1,2,3,4}, E = the 6 K4 edges (the pendant edge's min-degree
    // is 1) → phi = 12/12 = 1. k=3: N={v1} alone → filtered (N_k >= 2).
    assert(out == Seq((1L, 4L, 6L, 1.0), (2L, 4L, 6L, 1.0)), s"got $out")
  }
}
