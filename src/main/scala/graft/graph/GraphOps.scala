package graft.graph

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph, Pregel, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Graph operators with the reference's observable semantics (SURVEY.md §2
  * Table A), re-expressed as distributed dataflow.
  *
  * Edge-table convention everywhere: `(src BIGINT, dst BIGINT)` directed
  * adjacency; an undirected graph stores both directions (symmetric matrix
  * inputs produce that automatically — see [[graft.model.MatrixCodec]]).
  */
object GraphOps {

  /** Run a graph computation, eagerly materialize its DataFrame result,
    * and unpersist every RDD the computation left persisted — except the
    * single checkpointed RDD backing the returned DataFrame, which the
    * caller owns (the ContextCleaner reclaims it when the caller drops the
    * reference). This replaces the old rely-on-ContextCleaner contract:
    * a long-lived session issuing many graph queries no longer accumulates
    * MEMORY_AND_DISK Pregel/iteration RDDs until a driver GC happens.
    *
    * CONCURRENT-QUERY SAFE: RDD ids cannot be attributed to a thread, so
    * when two graph queries overlap, an id that appeared during query A's
    * window may actually be query B's intermediate — or B's not-yet-
    * registered RESULT. [[BuildTracker]] resolves the ambiguity by
    * DEFERRING: ids that appeared while other builds were in flight are
    * parked until every overlapping build has finished and registered its
    * result-backing ids, then released minus all registered keeps. Ids
    * from a non-overlapped window release immediately (the common,
    * serialized case — identical behavior to before). Double-unpersist of
    * an id another query also swept is a harmless no-op. The one remaining
    * caveat: caller code persisting UNRELATED RDDs concurrently with an
    * in-flight graph query should persist them outside the query window
    * or re-persist after (same exposure the old serialized contract had).
    */
  private def ownedGraphResult(spark: SparkSession)(build: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val token = BuildTracker.begin()
    val before = sc.getPersistentRDDs.keySet
    val out =
      try build.localCheckpoint(eager = true)
      catch { case e: Throwable => BuildTracker.abort(token, sc); throw e }
    val keep = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val fresh = (sc.getPersistentRDDs.keySet -- before).toSet
    BuildTracker.finish(token, fresh, keep, sc)
    out
  }

  /** Ownership ledger for [[ownedGraphResult]]'s persisted-RDD cleanup
    * under concurrency. Each build takes a token; at finish it reports the
    * persisted ids that appeared during its window plus the ids backing
    * its result. Windows that overlapped no other build release their ids
    * immediately; ambiguous ids wait for every overlapping token to
    * finish, then release minus every registered keep. All state driver-
    * side and tiny (integer ids), all transitions under one lock —
    * contention is per-query, not per-task.
    */
  private object BuildTracker {
    private var nextToken = 0L
    private var active = Set.empty[Long]
    /** parked ids → tokens that must finish before release is unambiguous */
    private final case class Parked(ids: Set[Int], waitFor: Set[Long])
    private var parked = List.empty[Parked]
    /** result-backing ids registered by finished builds; pruned lazily
      * against the live persisted set so it cannot grow unboundedly */
    private var keepIds = Set.empty[Int]

    def begin(): Long = synchronized { nextToken += 1; active += nextToken; nextToken }

    def abort(token: Long, sc: org.apache.spark.SparkContext): Unit =
      finish(token, Set.empty, Set.empty, sc)

    def finish(token: Long, fresh: Set[Int], keep: Set[Int],
               sc: org.apache.spark.SparkContext): Unit = {
      val toRelease = synchronized {
        active -= token
        keepIds ++= keep
        keepIds = keepIds.filter(sc.getPersistentRDDs.contains) // lazy prune
        val mine = fresh -- keep
        val now = List.newBuilder[Int]
        if (active.isEmpty && parked.isEmpty) now ++= mine
        else parked ::= Parked(mine, active)
        parked = parked.flatMap { p =>
          val rest = p.waitFor - token
          if (rest.isEmpty) { now ++= (p.ids -- keepIds); None }
          else Some(p.copy(waitFor = rest))
        }
        now.result().filterNot(keepIds.contains)
      }
      val live = sc.getPersistentRDDs
      toRelease.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Default level cap of the BFS operators, distributed and driver-side. */
  val MaxBfsLevels = 1000

  /** BFS levels — reference op 4 (`secondary_server.c:94-140`).
    *
    * Level-synchronous frontier expansion as an iterative DataFrame loop:
    * one join+anti-join round per level. The reference's thread-per-frontier-
    * vertex fan-out (`secondary_server.c:117-125`) becomes partition-level
    * task parallelism inside the join stage; its per-level `pthread_join`
    * barrier (`:126-129`) becomes the per-iteration action.
    *
    * Scale notes: the frontier is usually far smaller than the edge table, so
    * AQE broadcast-joins it against edges; each level is localCheckpoint'ed
    * exactly once and `visited` is a lazy union of those materialized levels,
    * so lineage stays flat and checkpoint writes total O(|V|) (depth ≫ 30
    * safe). For diameter-heavy graphs prefer [[bfsLevelsPregel]], which keeps
    * everything in one co-partitioned GraphX representation with no
    * per-level plan regrowth.
    *
    * Output: `(vertex BIGINT, level BIGINT)`, ordered by (level, vertex) —
    * the canonical form of the reference's "order within a level is
    * unspecified" contract (`Sample IO for DFS_BFS.docx`).
    */
  def bfsLevels(edges: DataFrame, start: Long, maxLevels: Int = MaxBfsLevels): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Each level is localCheckpointed exactly ONCE; `visited` is the lazy
      // union of those materialized levels, so the anti-join never recomputes
      // or re-checkpoints earlier levels (O(total) writes, not O(depth·total)).
      val levels = scala.collection.mutable.ArrayBuffer(
        Seq(start).toDF("vertex").withColumn("level", lit(0L)).localCheckpoint(true))
      var frontier = levels.head
      var visited = frontier.select("vertex") // grown incrementally: O(depth) plan nodes
      var level = 0L
      var done = false
      while (!done && level < maxLevels) {
        val next = frontier.join(e, frontier("vertex") === e("src"))
          .select(e("dst").as("vertex")).distinct()
          .join(visited, Seq("vertex"), "left_anti")
          .withColumn("level", lit(level + 1L))
          .localCheckpoint(true) // cut lineage; also acts as the level barrier
        if (next.isEmpty) done = true
        else {
          levels += next
          frontier = next
          visited = visited.unionAll(next.select("vertex"))
          level += 1
        }
      }
      levels.reduce(_ unionAll _)
    } finally { e.unpersist() }
    }.orderBy("level", "vertex")
  }

  /** BFS from MANY start vertices in ONE iterative dataflow: the frontier
    * carries `(start, vertex)`, so a whole batch of read requests advances
    * with one join round per level and the per-level job overhead is
    * amortized across the batch. This is the engine's answer to the
    * reference's thread-per-request read path (`secondary_server.c:359-378`):
    * where the reference parallelizes by spawning a thread per request,
    * the batch here IS one distributed query — n requests cost one
    * traversal whose frontier is n× wider, not n traversals.
    * Output: `(start, vertex, level)` ordered.
    */
  def bfsLevelsMulti(edges: DataFrame, starts: Seq[Long],
                     maxLevels: Int = MaxBfsLevels): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val levels = scala.collection.mutable.ArrayBuffer(
        starts.distinct.toDF("start")
          .withColumn("vertex", col("start")).withColumn("level", lit(0L))
          .localCheckpoint(true))
      var frontier = levels.head
      var visited = frontier.select("start", "vertex")
      var level = 0L
      var done = false
      while (!done && level < maxLevels) {
        val next = frontier.join(e, frontier("vertex") === e("src"))
          .select(frontier("start"), e("dst").as("vertex")).distinct()
          .join(visited, Seq("start", "vertex"), "left_anti")
          .withColumn("level", lit(level + 1L))
          .localCheckpoint(true)
        if (next.isEmpty) done = true
        else {
          levels += next
          frontier = next
          visited = visited.unionAll(next.select("start", "vertex"))
          level += 1
        }
      }
      levels.reduce(_ unionAll _)
    } finally { e.unpersist() }
    }.orderBy("start", "level", "vertex")
  }

  /** BFS levels via GraphX Pregel — same contract as [[bfsLevels]], single
    * co-partitioned graph representation; the scale path for deep graphs.
    */
  def bfsLevelsPregel(edges: DataFrame, start: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val INF = Long.MaxValue
      val edgeRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      // Build with explicit vertices so isolated starts still resolve.
      val g = Graph.fromEdges(edgeRdd, defaultValue = INF,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
        .mapVertices((id, _) => if (id == start) 0L else INF)
      val res = Pregel(g, INF, activeDirection = EdgeDirection.Out)(
        (_: VertexId, dist: Long, msg: Long) => math.min(dist, msg),
        triplet =>
          if (triplet.srcAttr != INF && triplet.srcAttr + 1 < triplet.dstAttr)
            Iterator((triplet.dstId, triplet.srcAttr + 1))
          else Iterator.empty,
        (a: Long, b: Long) => math.min(a, b))
      res.vertices.filter(_._2 != INF)
        .map { case (v, l) => (v, l) }
        .toDF("vertex", "level")
    }.orderBy("level", "vertex")
  }

  /** Sampled-source betweenness centrality — Brandes' dependency
    * accumulation (Brandes 2001) from a deterministic source sample,
    * depth-bounded; the standard scalable estimator (exact betweenness is
    * O(V·E) — a non-starter at 100 TB; sampling k sources is the published
    * approximation, Bader et al. 2007).
    *
    * Definition computed: for each source s in `sources`, the directed
    * Brandes dependency δ_s(v) over shortest paths of length ≤ `maxDepth`
    * from s, summed over sources. No ÷2 undirected correction is applied —
    * callers with symmetric edges get the directed-dependency sum, the
    * quantity the oracle replays.
    *
    * Dataflow (multi-source, level-synchronous — the [[bfsLevelsMulti]]
    * batching shape):
    *  - Forward: per level ONE (s,v)-keyed aggregate computes σ (shortest-
    *    path counts, exact BIGINT — ANSI mode makes a σ overflow on a
    *    pathological dense graph fail loud, the Katz discipline) and an
    *    anti-join against the visited set enforces "first discovery only".
    *  - Backward: from the deepest level up, δ(v) = Σ_children σ_v/σ_w ·
    *    (1+δ_w) — one equi-join + one (s,v)-keyed aggregate per level.
    * Every level is localCheckpoint'ed (flat lineage); the frontier is
    * broadcast-sized relative to edges so AQE broadcast-joins it.
    *
    * Output: `(vertex BIGINT, bc DOUBLE)` — RAW doubles; δ sums are
    * positive (no cancellation) so cross-engine drift is last-ulp
    * summation-order jitter — callers ship a rounded value.
    */
  /** One forward Brandes level (UNMATERIALIZED — the loop checkpoints):
    * the frontier advances one step via ONE edge equi-join, σ accumulates
    * in ONE (s,v)-keyed aggregate, and the anti-join against the visited
    * set enforces "first discovery only". Factored out so PlanSpec pins
    * the production level body (the [[katzLevel]] discipline).
    */
  private[graft] def brandesForwardLevel(e: DataFrame, frontier: DataFrame,
                                         visited: DataFrame): DataFrame =
    frontier.join(e, col("v") === col("src"))
      .select(col("s"), col("dst").as("nv"), col("sigma"))
      .groupBy(col("s"), col("nv")).agg(sum("sigma").as("sigma"))
      .select(col("s"), col("nv").as("v"), col("sigma"))
      .join(visited, Seq("s", "v"), "left_anti")

  /** One backward Brandes level (UNMATERIALIZED): dependency flows up one
    * level — δ(v) = Σ_children σ_v/σ_w · (1+δ_w) — via ONE edge equi-join,
    * ONE (s,child)-keyed equi-join, and ONE (s,v)-keyed aggregate,
    * left-outer-coalesced back onto the level's vertices (vertices with no
    * child on a shortest path carry δ = 0). Factored out so PlanSpec pins
    * the production level body.
    */
  private[graft] def brandesBackwardLevel(e: DataFrame, cur: DataFrame,
                                          childd: DataFrame): DataFrame = {
    val child = childd.select(col("s").as("cs"), col("v").as("cv"),
      col("sigma").as("csigma"), col("delta").as("cdelta"))
    val contrib = cur.join(e, col("v") === col("src"))
      .select(col("s"), col("v"), col("sigma"), col("dst"))
      .join(child, col("s") === col("cs") && col("dst") === col("cv"))
      .select(col("s"), col("v"),
        (col("sigma").cast("double") / col("csigma").cast("double") *
          (lit(1.0) + col("cdelta"))).as("c"))
      .groupBy("s", "v").agg(sum("c").as("delta"))
    cur.join(contrib, Seq("s", "v"), "left_outer")
      .select(col("s"), col("v"), col("sigma"),
        coalesce(col("delta"), lit(0.0)).as("delta"))
  }

  /** Unpersist the localCheckpoint RDDs backing `df` (Dataset.unpersist
    * only touches the CacheManager entry, never the checkpoint RDD). The
    * caller must have eagerly materialized every frame still needed —
    * a released local checkpoint cannot be recomputed.
    */
  private def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `backwardProbe` (test hook): called after each backward step's
    * cleanup with the number of the algorithm's OWN checkpoint frames
    * still persisted (forward levels not yet consumed + childd +
    * accumulator; the persisted edge table is not counted). Counting only
    * owned ids keeps the GraphOpsSpec assertion immune to concurrent
    * suites persisting unrelated RDDs in the shared session.
    */
  def betweennessSampled(edges: DataFrame, sources: DataFrame,
                         maxDepth: Int,
                         backwardProbe: Int => Unit = _ => ()): DataFrame = {
    val spark = edges.sparkSession
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ids of the checkpoints THIS invocation created, for the probe
        val ownedCkpt = scala.collection.mutable.Set.empty[Int]
        def track(df: DataFrame): DataFrame = {
          df.queryExecution.analyzed.foreach {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              ownedCkpt += lr.rdd.id
            case _ => ()
          }
          df
        }
        def liveOwned(): Int =
          ownedCkpt.count(spark.sparkContext.getPersistentRDDs.contains)
        // forward: levels(l) = (s, v, sigma) for vertices first reached at l
        val levels = scala.collection.mutable.ArrayBuffer(
          track(sources.select(col("s").cast("long").as("s"))
            .withColumn("v", col("s")).withColumn("sigma", lit(1L))
            .localCheckpoint(true)))
        var frontier = levels.head
        var visited = frontier.select("s", "v")
        var depth = 0
        var done = false
        while (!done && depth < maxDepth) {
          val next = track(brandesForwardLevel(e, frontier, visited)
            .localCheckpoint(true))
          // the terminal empty probe is a checkpoint too — release it NOW,
          // not whenever the ContextCleaner gets around to GC'ing it (the
          // probe-count contract below counts every still-persisted frame)
          if (next.isEmpty) { done = true; releaseCheckpoints(next) }
          else {
            levels += next
            frontier = next
            visited = visited.unionAll(next.select("s", "v"))
            depth += 1
          }
        }
        if (levels.length < 2)
          levels.head.select(col("v").as("vertex"), lit(0.0).as("bc")).limit(0)
        else {
          // backward: deepest level seeds delta = 0 and IS part of the output
          // (its vertices carry zero dependency — the oracle's row set too).
          //
          // MEMORY HYGIENE (round 11): the previous shape held EVERY
          // forward level AND every backward delta frame checkpointed
          // until one final union — on a deep graph at 100× the
          // accumulated blocks for all levels × both directions stay
          // pinned. Instead the (v, delta) accumulation folds into ONE
          // re-checkpointed running frame, and each step releases the
          // forward level it consumed, the childd it superseded, and the
          // accumulator it folded. Live checkpoints mid-pass = the
          // not-yet-consumed forward levels + childd + accumulator,
          // shrinking net one per step (GraphOpsSpec pins the monotone
          // decrease and the ≤3-frame terminal state via backwardProbe).
          // levels(0) (the sources frontier) never enters the backward
          // pass — release it before the walk.
          releaseCheckpoints(levels(0))
          var childd = track(levels.last.withColumn("delta", lit(0.0))
            .localCheckpoint(true))
          releaseCheckpoints(levels.last) // folded into childd just above
          // lazy projection — the first fold (or the final aggregate)
          // reads it straight off childd's checkpoint
          var accUnion = childd.select(col("v"), col("delta"))
          for (l <- levels.length - 2 to 1 by -1) {
            val dl = track(brandesBackwardLevel(e, levels(l), childd)
              .localCheckpoint(true))
            val nextAcc = track(accUnion
              .unionAll(dl.select(col("v"), col("delta")))
              .localCheckpoint(true))
            // dl and nextAcc are materialized: everything the step read
            // can go (releasing the lazy first accUnion double-releases
            // childd's RDD — a harmless no-op)
            releaseCheckpoints(levels(l))
            releaseCheckpoints(childd)
            releaseCheckpoints(accUnion)
            childd = dl
            accUnion = nextAcc
            backwardProbe(liveOwned())
          }
          accUnion
            .groupBy(col("v").as("vertex"))
            .agg(sum("delta").as("bc"))
        }
      } finally { e.unpersist() }
    }
  }

  /** Both-direction view of an edge table — idempotent whether the input
    * stores one direction or both.
    *
    * `dedup = false` skips the `.distinct()` (a full-edge-set shuffle):
    * pass it when the input is already distinct AND stores one direction
    * with disjoint src/dst namespaces (so the reversed union cannot
    * collide) — true for every [[DerivedGraphs]] table.
    */
  def symmetrize(edges: DataFrame, dedup: Boolean = true): DataFrame = {
    val both = edges.select("src", "dst")
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    if (dedup) both.distinct() else both
  }

  /** Undirected degree of every vertex = out-degree of the symmetrized
    * edge set. Vertex-id namespaces must be disjoint across node roles
    * (see [[DerivedGraphs]]) or distinct ids collapse.
    * `dedup` as in [[symmetrize]].
    */
  def degrees(edges: DataFrame, dedup: Boolean = true): DataFrame =
    symmetrize(edges, dedup)
      .groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"))

  /** DFS — reference op 3 (`secondary_server.c:185-213`): the output is the
    * LEAVES of the tree rooted at `start`, not a preorder (SURVEY.md A6).
    * For a tree this is closed-form relational:
    * `leaves(s) = {v : degree(v) = 1} − {s}` restricted to vertices
    * reachable from s — verified against every docx golden case. Reachability
    * restriction makes the rule correct on forests too (the reference only
    * ever sees one connected tree).
    *
    * Non-tree inputs are undefined behavior in the reference (unbounded
    * mutual recursion); here they are well-defined: leaves of the BFS
    * spanning tree = reachable vertices whose degree within the graph is 1.
    */
  def dfsLeaves(edges: DataFrame, start: Long, dedup: Boolean = true): DataFrame = {
    val reach = bfsLevels(edges, start).select("vertex")
    val deg = degrees(edges, dedup)
    // left join: an isolated start vertex has no degree row; the reference
    // still emits it (a root with zero children IS a leaf — the n=1 tree,
    // `secondary_server.c:171-178` with ccnt==0)
    reach.join(deg, Seq("vertex"), "left")
      .filter((col("degree") === 1 && col("vertex") =!= start) ||
              (col("degree").isNull && col("vertex") === start))
      .select("vertex")
      .orderBy("vertex")
  }

  /** An edge table on the driver in CSR form over primitive arrays,
    * collected by ONE Spark job or built from rows already in driver memory
    * (a version the catalog wrote from the driver): the input of
    * [[bfsLevelsLocal]] and [[dfsLeavesLocal]], the driver-side twins of
    * [[bfsLevels]] and [[dfsLeaves]] for graphs at the reference's own
    * scale. Its secondary server walks an in-memory adjacency matrix of at
    * most 30×30 cells (`#define N 30`, `secondary_server.c:94-213`), where
    * the distributed traversal pays two Spark jobs per level for a few
    * dozen edges.
    * Callers gate on size; nothing here bounds driver memory.
    *
    * Null endpoints keep the distributed operators' join semantics: a
    * null `src` is never expanded; a null `dst` IS reached (the frontier
    * join emits it and the anti-join cannot remove it) and counts as one
    * distinct neighbour in the symmetrized degree.
    */
  final class LocalGraph private (
      private[GraphOps] val spark: SparkSession,
      /** sorted distinct non-null endpoints; vertices are indices into it */
      private[GraphOps] val ids: Array[Long],
      /** out-edges of vertex i: `outDst(outStart(i) until outStart(i + 1))` */
      private[GraphOps] val outStart: Array[Int],
      private[GraphOps] val outDst: Array[Int],
      /** vertex i has an out-edge to a null `dst` */
      private[GraphOps] val nullOut: Array[Boolean],
      /** distinct neighbours in the symmetrized edge set, null counted once */
      private[GraphOps] val degree: Array[Int]) {
    private[GraphOps] def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    /** `v` is an endpoint of some edge (the engine's start-vertex check). */
    def contains(v: Long): Boolean = index(v) >= 0
  }

  object LocalGraph {
    def collect(edges: DataFrame): LocalGraph = {
      val rows = edges.select(col("src").cast("long"), col("dst").cast("long")).collect()
      apply(edges.sparkSession, rows.length)(rows(_).isNullAt(_), rows(_).getLong(_))
    }

    /** The CSR form of `n` edges: edge `i`'s `src` is column 0 and its
      * `dst` column 1 of `isNull(i, c)` / `end(i, c)`.
      */
    private[graph] def apply(spark: SparkSession, n: Int)(isNull: (Int, Int) => Boolean,
                                                   end: (Int, Int) => Long): LocalGraph = {
      val ends = Array.newBuilder[Long]
      for (i <- 0 until n; c <- 0 to 1 if !isNull(i, c)) ends += end(i, c)
      val all = ends.result()
      java.util.Arrays.sort(all)
      var k = 0 // distinct prefix of the sorted endpoints, compacted in place
      for (v <- all if k == 0 || all(k - 1) != v) { all(k) = v; k += 1 }
      val ids = java.util.Arrays.copyOf(all, k)
      def idx(i: Int, c: Int): Int =
        if (isNull(i, c)) -1 else java.util.Arrays.binarySearch(ids, end(i, c))
      val si = Array.tabulate(n)(idx(_, 0))
      val di = Array.tabulate(n)(idx(_, 1))
      val outStart = new Array[Int](k + 1)
      val nullOut = new Array[Boolean](k)
      val nullNbr = new Array[Boolean](k)
      // symmetrized pairs as one sortable key a·k + b (k < 2^31, so exact)
      val pairs = Array.newBuilder[Long]
      for (i <- 0 until n) {
        val s = si(i)
        val d = di(i)
        if (s >= 0 && d >= 0) {
          outStart(s + 1) += 1
          pairs += s.toLong * k + d
          pairs += d.toLong * k + s
        } else if (s >= 0) { nullOut(s) = true; nullNbr(s) = true }
        else if (d >= 0) nullNbr(d) = true
      }
      for (v <- 0 until k) outStart(v + 1) += outStart(v)
      val outDst = new Array[Int](outStart(k))
      val fill = outStart.clone()
      for (i <- 0 until n if si(i) >= 0 && di(i) >= 0) {
        outDst(fill(si(i))) = di(i)
        fill(si(i)) += 1
      }
      val keys = pairs.result()
      java.util.Arrays.sort(keys)
      val degree = nullNbr.map(b => if (b) 1 else 0)
      for (j <- keys.indices if j == 0 || keys(j - 1) != keys(j))
        degree((keys(j) / k).toInt) += 1
      new LocalGraph(spark, ids, outStart, outDst, nullOut, degree)
    }
  }

  /** [[bfsLevels]]'s rows, schema and order, computed on the driver from a
    * [[LocalGraph]]: first-discovery levels over out-edges, at most
    * `maxLevels` levels. The result is a local relation: collecting it
    * runs no Spark job.
    */
  def bfsLevelsLocal(g: LocalGraph, start: Long, maxLevels: Int = MaxBfsLevels): DataFrame =
    g.spark.createDataFrame(bfsLocalRows(g, start, maxLevels).asJava, BfsLocalSchema)

  /** [[dfsLeaves]]'s rows, schema and order on the driver: reachable
    * vertices of symmetrized degree 1 other than the start, or the start
    * itself when it is an endpoint of no edge.
    */
  def dfsLeavesLocal(g: LocalGraph, start: Long): DataFrame = {
    val leaves = bfsLocalRows(g, start, MaxBfsLevels).filterNot(_.isNullAt(0)).map(_.getLong(0))
      .filter { v =>
        val i = g.index(v)
        if (i >= 0) g.degree(i) == 1 && v != start else v == start
      }.sorted
    g.spark.createDataFrame(leaves.map(v => Row(v)).asJava, DfsLocalSchema)
  }

  private val BfsLocalSchema = StructType(Seq(
    StructField("vertex", LongType, nullable = true),
    StructField("level", LongType, nullable = false)))
  private val DfsLocalSchema = StructType(BfsLocalSchema.take(1))

  /** `(vertex, level)` rows in (level, vertex) order. A null `dst` reached
    * at a level is a null vertex row, first within it as Spark sorts
    * nulls first.
    */
  private def bfsLocalRows(g: LocalGraph, start: Long, maxLevels: Int): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    out += Row(start, 0L)
    val seen = new Array[Boolean](g.ids.length)
    val s = g.index(start)
    var frontier = if (s >= 0) { seen(s) = true; Array(s) } else Array.emptyIntArray
    var level = 0L
    var done = false
    while (!done && level < maxLevels) {
      val next = Array.newBuilder[Int]
      var reachesNull = false
      for (u <- frontier) {
        reachesNull ||= g.nullOut(u)
        for (j <- g.outStart(u) until g.outStart(u + 1)) {
          val w = g.outDst(j)
          if (!seen(w)) { seen(w) = true; next += w }
        }
      }
      frontier = next.result()
      if (frontier.isEmpty && !reachesNull) done = true
      else {
        level += 1
        if (reachesNull) out += Row(null, level)
        java.util.Arrays.sort(frontier) // index order is id order
        frontier.foreach(w => out += Row(g.ids(w), level))
      }
    }
    out.result()
  }

  /** DFS-leaves via a genuine Pregel traversal (SURVEY.md A6's promised
    * non-closed-form variant): build parent pointers from `start` with a
    * min-(dist, parent) BFS-tree Pregel, then emit the reachable vertices
    * that are nobody's parent — exactly the leaves of the tree rooted at
    * `start`. On trees this coincides with [[dfsLeaves]]' degree closed
    * form (cross-checked on every docx golden and random Prüfer trees).
    * On non-tree graphs the two definitions legitimately differ: this one
    * returns the leaves of the DETERMINISTIC BFS spanning tree (min-dist,
    * ties to the smallest parent id), while the closed form returns
    * degree-1 reachable vertices; the reference's DFS is undefined
    * (unbounded recursion) there, so either extension is conservative.
    */
  def dfsLeavesPregel(edges: DataFrame, start: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val INF = Long.MaxValue
      val edgeRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val g = Graph.fromEdges(edgeRdd, defaultValue = (INF, -1L),
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
        .mapVertices((id, _) => if (id == start) (0L, -1L) else (INF, -1L))
      def better(a: (Long, Long), b: (Long, Long)): (Long, Long) =
        if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
      val res = Pregel(g, (INF, -1L), activeDirection = EdgeDirection.Out)(
        (_: VertexId, attr: (Long, Long), msg: (Long, Long)) => better(attr, msg),
        triplet =>
          // strict <: every dist-d vertex resolves in superstep d, so all its
          // candidate parents' messages merge (min parent id) in one round
          if (triplet.srcAttr._1 != INF && triplet.srcAttr._1 + 1 < triplet.dstAttr._1)
            Iterator((triplet.dstId, (triplet.srcAttr._1 + 1, triplet.srcId)))
          else Iterator.empty,
        better)
      // (union ∪ distinct re-adds an isolated start: Graph.fromEdges only
      // materializes vertices with edges; the root's row is (start, -1)
      // either way so the union is exact)
      val reached = res.vertices.filter(_._2._1 != INF)
        .map { case (v, (_, p)) => (v, p) }
        .toDF("vertex", "parent")
        .unionAll(Seq((start, -1L)).toDF("vertex", "parent"))
        .distinct()
      val parents = reached.filter(col("parent") =!= -1L)
        .select(col("parent").as("vertex")).distinct()
      reached.join(parents, Seq("vertex"), "left_anti")
        .select("vertex")
    }.orderBy("vertex")
  }

  /** Bounded-hop weighted single-source shortest paths: `rounds` of
    * Bellman-Ford relaxation as iterative dataflow — the weighted
    * generalization of [[bfsLevels]] (BFS = SSSP with unit weights).
    * Returns the minimum path WEIGHT to every vertex reachable within
    * `rounds` hops; deterministic for integer weights (no float summation
    * order). Each round is one frontier-join + min-aggregate; the running
    * best-distance table is localCheckpointed per round (flat lineage,
    * same discipline as BFS). The hop bound makes the semantics
    * oracle-replayable on CYCLIC graphs — an unbounded recursive path
    * enumeration explodes; a bounded one is a finite relation.
    *
    * Input: `(src, dst, w)` with BIGINT weights. Output:
    * `(vertex, dist)` ordered, dist = min weight over paths of ≤ rounds
    * edges.
    */
  def ssspBounded(edges: DataFrame, start: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(edges.sparkSession) {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var dist = Seq((start, 0L)).toDF("vertex", "dist").localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val relaxed = dist.join(e, dist("vertex") === e("src"))
          .select(e("dst").as("vertex"), (dist("dist") + e("w")).as("dist"))
        dist = dist.unionAll(relaxed)
          .groupBy("vertex").agg(min("dist").as("dist"))
          .localCheckpoint(true)
      }
      dist
    } finally { e.unpersist(); () }
    }.orderBy("vertex")
  }

  /** PageRank via GraphX (fixed iteration count ⇒ deterministic structure;
    * scores rounded by callers). Input treated as directed; symmetrize for
    * undirected semantics.
    */
  def pageRank(edges: DataFrame, iters: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val eRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val g = Graph.fromEdges(eRdd, defaultValue = 1.0,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      val pr = g.staticPageRank(iters, resetProb)
      pr.vertices.map { case (v, r) => (v, r) }.toDF("vertex", "rank")
    }
  }

  /** WEIGHTED PageRank over a weighted directed edge table `(src, dst, w)`:
    * r'(v) = reset + (1−reset)·Σ_{u→v} r(u)·w(u,v)/W(u), W(u) the source's
    * total out-weight — the importance walk where transition probability
    * follows edge strength (co-purchase counts, citation weights), which
    * uniform PageRank flattens. DataFrame power iteration with a fixed
    * round count: the normalized edge table is built once and persisted;
    * each round is ONE join + ONE aggregate on the vertex key with the
    * intermediate checkpointed (bounded lineage, the SSSP discipline).
    * Dangling mass: vertices enter via the symmetrized/weighted input —
    * every vertex with no out-edges keeps only reset mass, as in GraphX's
    * staticPageRank. Scores are double sums — callers round (pagerank
    * convention). Output: (vertex, rank), all vertices.
    */
  def weightedPageRank(edges: DataFrame, iters: Int = 10,
                       resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w").cast("double").as("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val outW = e.groupBy("src").agg(sum("w").as("tw"))
        val norm = e.join(outW, "src")
          .select(col("src"), col("dst"), (col("w") / col("tw")).as("p"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val verts = e.select(col("src").as("vertex"))
          .unionAll(e.select(col("dst").as("vertex"))).distinct()
          .localCheckpoint(true)
        var r = verts.withColumn("r", lit(1.0)).localCheckpoint(true)
        for (_ <- 1 to iters) {
          // per-round checkpoint MEASURED faster than every-3rd (5.5 s
          // vs 8.1 s at sf0.1): the deep multi-round plan costs more in
          // re-analysis/AQE compilation than the extra materializations
          r = wprRound(verts, norm, r, resetProb).localCheckpoint(true)
        }
        r
      } finally { e.unpersist(); () }
    }
  }

  /** One weighted-PageRank round: ONE join (ranks × normalized edges) +
    * ONE vertex-key aggregate + the reset-mass left join — exposed
    * package-private so PlanSpec can pin the per-iteration plan shape
    * (this is the body [[weightedPageRank]] checkpoints every round).
    * Unqualified name resolution: with lineage unbroken between
    * checkpoints, dataframe-qualified refs (r("…")/norm("…")) trip the
    * ambiguous-self-join check — rename the rank side so every column
    * name is unique across the join.
    */
  private[graft] def wprRound(verts: DataFrame, norm: DataFrame, r: DataFrame,
                              resetProb: Double,
                              probe: DataFrame => DataFrame = identity): DataFrame = {
    // probe = the gated vertex broadcast ([[vertexProbe]], r19): the
    // V-sized rank vector broadcasts into the edge join and the ≤V-row
    // contribution table into the reset left join, so the persisted edge
    // table never re-shuffles per round — the checkpointed rank side has
    // no stats and never auto-broadcast (AQE converted only after the
    // shuffle write)
    val contrib = probe(r.select(col("vertex").as("rv"), col("r").as("rr")))
      .join(norm, col("rv") === col("src"))
      .groupBy(col("dst").as("vertex"))
      .agg(sum(col("rr") * col("p")).as("s"))
    verts.join(contrib, Seq("vertex"), "left")
      .select(col("vertex"), (lit(resetProb) +
        lit(1 - resetProb) * coalesce(col("s"), lit(0.0))).as("r"))
  }

  /** Katz centrality (Katz 1953) with attenuation α = 1/2 over a FIXED
    * round count: katz(v) = Σ_{l=1..L} walks_l(v) · α^l, walks_l(v) the
    * number of length-l walks ENDING at v. Unlike PageRank's normalized
    * random walk this weights raw walk COUNTS, so hub adjacency
    * compounds. α = 2^-1 keeps the whole computation in EXACT BIGINT:
    * the numerator accumulates walks_l · 2^(L-l) (integers), ordering
    * uses the integer numerator, and katz = num / 2^L is ONE final
    * division by a power of two — bit-identical cross-engine, no
    * rounding contract (the graph_centrality lcm trick, applied to a
    * cyclic graph). Each round is ONE join + ONE vertex-key aggregate,
    * checkpointed (the power-iteration discipline); the oracle unrolls
    * the L rounds as chained aggregated CTEs — per-LEVEL aggregation,
    * never walk enumeration, so the oracle scales with |V|, not walk
    * multiplicity. Walk counts grow like (max degree)^L, so the loop
    * PROVES each level fits before computing it: next-level counts are
    * bounded by max_count · max-in-degree, and the attenuated numerator
    * by Σ maxC_l · 2^(L-l) — both tracked in BigInt driver-side (the
    * per-round max is a one-row control-plane read off the checkpointed
    * frontier). A too-deep run on a too-dense graph fails LOUD with the
    * bound in the message instead of wrapping (non-ANSI) or throwing a
    * bare ARITHMETIC_OVERFLOW mid-job (ANSI); past the guard, move the
    * numerator to DECIMAL(38,0).
    * Output: (vertex, num, katz) top `k` by (num DESC, vertex).
    */
  /** One Katz level (UNMATERIALIZED — the loop checkpoints): walk counts
    * advance one step via ONE edge×frontier equi-join + ONE vertex-key
    * aggregate. Factored out so PlanSpec pins the production level body.
    */
  private[graft] def katzLevel(e: DataFrame, x: DataFrame): DataFrame =
    // NOT vertex-probed (r19): the gated frontier broadcast was tried
    // here and MEASURED a +19% regression (4.35 → 5.17 s warm reps at
    // sf0.1) — at 4 levels the per-level broadcast build sits on the
    // critical path longer than the sort it removes; the 10-round
    // kernels (wprRound, lpaRound, louvainMoveRound) amortize it and won
    e.join(x.select(col("v").as("sv"), col("c")), col("src") === col("sv"))
      .groupBy(col("dst").as("v")).agg(sum("c").as("c"))

  def katzCentrality(edges: DataFrame, rounds: Int = 4, k: Int = 20): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds=$rounds out of the exact-BIGINT regime")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    val verts = e.select(col("src").as("vertex"))
      .unionAll(e.select(col("dst").as("vertex"))).distinct()
      .localCheckpoint(true)
    val maxInDeg = math.max(1L, e.groupBy("dst")
      .agg(count(lit(1)).as("d")).agg(max("d")).collect()(0).getLong(0))
    var x = verts.select(col("vertex").as("v")).withColumn("c", lit(1L))
      .localCheckpoint(true)
    var acc: DataFrame = null
    var maxC = 1L
    var numBound = BigInt(0)
    for (l <- 1 to rounds) {
      require(BigInt(maxC) * maxInDeg <= Long.MaxValue,
        s"katzCentrality: level-$l walk counts could reach " +
          s"${BigInt(maxC) * maxInDeg} > 2^63-1; lower `rounds` or move " +
          "the numerator to DECIMAL(38,0)")
      x = katzLevel(e, x).localCheckpoint(true)
      val mrow = x.agg(max("c")).collect()(0)
      maxC = if (mrow.isNullAt(0)) 0L else mrow.getLong(0) // empty frontier: DAG deeper than its diameter
      numBound += BigInt(maxC) * (1L << (rounds - l))
      require(numBound <= Long.MaxValue,
        s"katzCentrality: attenuated numerator bound $numBound exceeds " +
          "BIGINT; lower `rounds` or move the numerator to DECIMAL(38,0)")
      val contrib = x.select(col("v"), (col("c") * lit(1L << (rounds - l))).as("contrib"))
      acc = if (acc == null) contrib else acc.unionAll(contrib)
    }
    val num = acc.groupBy("v").agg(sum("contrib").as("num"))
    verts.join(num, col("vertex") === col("v"), "left")
      .select(col("vertex"), coalesce(col("num"), lit(0L)).as("num"))
      .select(col("vertex"), col("num"),
        (col("num").cast("double") / lit((1L << rounds).toDouble)).as("katz"))
      .orderBy(col("num").desc, col("vertex"))
      .limit(k)
  }

  /** Deterministic fixed-length random walks — the node2vec/DeepWalk
    * sampling primitive that turns a graph into skip-gram/GNN training
    * sequences. One walk starts at every distinct source vertex; at step
    * i a walk moves to the neighbor minimizing the portable 60-bit md5
    * of (walk, i, neighbor) — a deterministic stand-in for a uniform
    * draw: uniform over neighbors like rand(), but reproducible across
    * engines, runs, and partitionings (the property rand() walks lack,
    * and what makes the walk corpus exactly DuckDB-replayable). Per
    * step: ONE positions×edges equi-join on the vertex key + ONE
    * per-walk two-phase min_by argmin aggregate over (hash, dst)
    * (map-side partials — candidates never cross an exchange); candidate
    * volume per step is |walks| × avg-degree, the node2vec budget.
    * Walks reaching a dead-end vertex (no out-edge) simply stop — the
    * join drops them. Each step is eagerly checkpointed (the measured
    * per-round discipline of [[weightedPageRank]]). Output:
    * (walk, step, vertex) for steps 0..`steps`, ordered.
    */
  def randomWalks(edges: DataFrame, steps: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).localCheckpoint(true)
      var cur = e.select(col("src").as("walk")).distinct()
        .select(col("walk"), col("walk").as("v")).localCheckpoint(true)
      val acc = scala.collection.mutable.ArrayBuffer(
        cur.select(col("walk"), lit(0L).as("step"), col("v")))
      for (i <- 1 to steps) {
        cur = walkStep(cur, e, i).localCheckpoint(true)
        acc += cur.select(col("walk"), lit(i.toLong).as("step"), col("v"))
      }
      acc.reduce(_ unionAll _)
        .select(col("walk"), col("step"), col("v").as("vertex"))
        .orderBy("walk", "step")
    }
  }

  /** One walk step: candidates via the positions×edges equi-join, winner
    * via the per-walk (hash, dst) min_by argmin — exposed package-private
    * so PlanSpec can pin the per-step plan shape (equi-join, distributed
    * window; this is the body [[randomWalks]] checkpoints every step).
    */
  /** node2vec-style SECOND-ORDER biased walks (Grover & Leskovec 2016,
    * arXiv:1607.00653 §3.2): one walk per source vertex, `steps` steps;
    * each step draws the next vertex with probability proportional to the
    * search-bias weight of the candidate RELATIVE TO THE PREVIOUS vertex
    * t — `wRet` for returning to t (α = 1/p), `wTri` for a common
    * neighbor of t (α = 1), `wOut` for moving outward (α = 1/q). The
    * defaults (1, 2, 1) encode p = q = 2: mildly triangle-homophilous.
    * Weights are INTEGERS and the draw is the portable md5 hash of
    * (walk, step) reduced mod the walk's total candidate weight, mapped
    * onto cumulative weight ranges in (dst) order — a weighted choice
    * both engines replay bit-for-bit with no floating sampling at all
    * (the [[randomWalks]] determinism contract, upgraded from argmin to
    * cumulative-range selection so weights matter). The first step sees
    * prev = start, so every candidate is a neighbor-of-prev (wTri) and
    * the step is uniform — exactly node2vec's unbiased first draw.
    *
    * Scale per step: one edge equi-join for candidates, one broadcast-
    * sized flag join against the (prev, dst) edge existence set, and a
    * per-WALK window (walks partition the key space — never
    * SinglePartition). Dead ends stop walks (inner join). Output:
    * (walk, step, vertex) ordered — step 0 is the start vertex.
    */
  def node2vecWalks(edges: DataFrame, steps: Int = 3,
                    wRet: Int = 1, wTri: Int = 2, wOut: Int = 1): DataFrame = {
    require(wRet >= 0 && wTri >= 0 && wOut >= 0 && wRet + wTri + wOut > 0,
      "weights must be non-negative, not all zero")
    val spark = edges.sparkSession
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).localCheckpoint(true)
      var cur = e.select(col("src").as("walk")).distinct()
        .select(col("walk"), col("walk").as("prev"), col("walk").as("v"))
        .localCheckpoint(true)
      val acc = scala.collection.mutable.ArrayBuffer(
        cur.select(col("walk"), lit(0L).as("step"), col("v")))
      for (i <- 1 to steps) {
        cur = node2vecStep(cur, e, i, wRet, wTri, wOut).localCheckpoint(true)
        acc += cur.select(col("walk"), lit(i.toLong).as("step"), col("v"))
      }
      acc.reduce(_ unionAll _)
        .select(col("walk"), col("step"), col("v").as("vertex"))
        .orderBy("walk", "step")
    }
  }

  /** Skip-gram co-occurrence PMI over random-walk windows — the matrix
    * DeepWalk/node2vec implicitly factorize (Levy & Goldberg 2014; Qiu et
    * al. 2018 "NetMF", arXiv:1710.02971): vertices that co-occur within
    * `window` positions of a walk more often than their walk-frequencies
    * predict get positive PMI — the edge-weighting a graph-embedding
    * pipeline trains on. Input: the (walk, step, vertex) relation of
    * [[node2vecWalks]] (deterministic md5 draws → the whole composition
    * stays DuckDB-replayable).
    *
    * Exactness: counts are BIGINT; the PMI argument n·T²/(P·c_a·c_b) is
    * built as two exact BIGINT products and ONE division — so the
    * ranking (ORDER BY that ratio) is bit-deterministic cross-engine,
    * and only the shipped `ln` is rounded (4 dp, the bm25 contract).
    * Scale: pairs come from a walk-keyed self-join (a walk is ≤ steps+1
    * rows — bounded), then one (a, b)-keyed count; top-N is TakeOrdered.
    * Output: (vertex_a, vertex_b, n_pair, pmi), ratio-desc, `topN` rows.
    */
  def walkCooccurrencePmi(walks: DataFrame, window: Int = 2,
                          topN: Int = 50): DataFrame = {
    val pos = walks.select(col("walk"), col("step"), col("vertex"))
      .localCheckpoint(true) // feeds both join sides, occ and totals
    val p1 = pos.select(col("walk"), col("step").as("i"), col("vertex").as("x"))
    val p2 = pos.select(col("walk"), col("step").as("j"), col("vertex").as("y"))
    val pairs = p1.join(p2, Seq("walk"))
      .filter(col("j") > col("i") && col("j") - col("i") <= window)
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("long").as("n_pair"))
      .localCheckpoint(true) // feeds the P total AND the scored join
    val occ = pos.groupBy(col("vertex")).agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true) // joined twice (both endpoints)
    val tot = broadcast(pos.agg(count(lit(1)).cast("long").as("t"))
      .crossJoin(pairs.agg(sum("n_pair").cast("long").as("p"))))
    pairs
      .join(occ.select(col("vertex").as("a"), col("c").as("ca")), "a")
      .join(occ.select(col("vertex").as("b"), col("c").as("cb")), "b")
      .crossJoin(tot)
      // each factor casts to double BEFORE multiplying: the BIGINT product
      // n_pair·t² this replaced overflowed Long past t ≈ 3e9 walk positions
      // (Spark wraps silently, DuckDB raises). A left-assoc double product
      // is a fixed IEEE op tree — still bit-identical across engines; the
      // ≤ 1-ulp rounding vs exact-integer products is absorbed by the
      // 4-dp pmi rounding and the raw-double ORDER BY contract.
      .withColumn("ratio",
        (col("n_pair").cast("double") * col("t").cast("double") *
          col("t").cast("double")) /
          (col("p").cast("double") * col("ca").cast("double") *
            col("cb").cast("double")))
      .orderBy(col("ratio").desc, col("a"), col("b"))
      .limit(topN)
      .select(col("a").as("vertex_a"), col("b").as("vertex_b"),
        col("n_pair"), round(log(col("ratio")), 4).as("pmi"))
  }

  /** One biased step — see [[node2vecWalks]]. State: (walk, prev, v). */
  private[graft] def node2vecStep(cur: DataFrame, e: DataFrame, i: Int,
                                  wRet: Int, wTri: Int, wOut: Int): DataFrame = {
    val wOrd = Window.partitionBy("walk").orderBy("dst")
    val flag = e.select(col("src").as("fsrc"), col("dst").as("fdst"))
    val cand = cur.join(e, col("v") === col("src"))
      .select(col("walk"), col("prev"), col("v"), col("dst"))
      .join(flag,
        col("prev") === col("fsrc") && col("dst") === col("fdst"), "left")
      .withColumn("wt",
        when(col("dst") === col("prev"), lit(wRet.toLong))
          .when(col("fsrc").isNotNull, lit(wTri.toLong))
          .otherwise(lit(wOut.toLong)))
      .filter(col("wt") > 0L) // zero-weight candidates can never be drawn
    cand
      .withColumn("cum", sum("wt").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum("wt").over(Window.partitionBy("walk")))
      .withColumn("draw", pmod(
        graft.functions.PortableHash.md5Bits60(
          concat_ws("_", col("walk"), lit(i))), col("tot")))
      .filter(col("draw") >= col("cum") - col("wt") && col("draw") < col("cum"))
      .select(col("walk"), col("v").as("prev"), col("dst").as("v"))
  }

  private[graft] def walkStep(cur: DataFrame, e: DataFrame, i: Int): DataFrame =
    // the (hash, dst) argmin is a two-phase min_by aggregate (r19, guide
    // §2.3 "aggregate before you shuffle"): the partial_min_by collapses
    // each partition's candidates to ONE row per walk BEFORE the exchange
    // (struct ordering plans it as SortAggregate, but the map-side
    // reduction is what matters — the row_number window this replaces
    // shuffled every candidate). Winner identical: first row by (h, dst)
    // ≡ min_by over the lexicographic struct (duplicate (src, dst) edge
    // rows tie on the full struct and carry the same dst)
    cur.join(e, col("v") === col("src"))
      .select(col("walk"), col("dst"),
        graft.functions.PortableHash.md5Bits60(
          concat_ws("_", col("walk"), lit(i), col("dst"))).as("h"))
      .groupBy("walk")
      .agg(min_by(col("dst"), struct(col("h"), col("dst"))).as("v"))
      .select(col("walk"), col("v"))

  /** Neighborhood feature aggregation — the feature-engineering primitive
    * GNN-style pipelines run before training: for every vertex, its own
    * degree plus the min/avg/max degree of its 1-hop neighbors. Two
    * shuffles (degree agg, then the neighbor join re-aggregated on src);
    * both key on natural graph columns. `dedup` as in [[symmetrize]].
    * Output: (vertex, degree, n_min_deg, n_avg_deg, n_max_deg) ordered.
    */
  def neighborDegreeStats(edges: DataFrame, dedup: Boolean = true): DataFrame = {
    val e = symmetrize(edges, dedup)
    // derive neighbor degrees from the SAME symmetrized view rather than
    // calling degrees() (which would build a second symmetrize — with
    // dedup=true that is a second full distinct shuffle in the plan)
    val ndeg = e.groupBy(col("src").as("dst")).agg(count(lit(1)).as("ndeg"))
    e.join(ndeg, "dst")
      .groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).cast("long").as("degree"),
        min("ndeg").cast("long").as("n_min_deg"),
        round(avg("ndeg"), 4).as("n_avg_deg"),
        max("ndeg").cast("long").as("n_max_deg"))
      .orderBy("vertex")
  }

  /** Personalized PageRank from `src` via GraphX (fixed iteration count).
    * Semantics (GraphX `staticPersonalizedPageRank`): init rank 1 at src /
    * 0 elsewhere; per iteration r'(v) = resetProb·[v=src] +
    * (1−resetProb)·Σ_in r(u)·(1/outdeg(u)); callers round scores.
    */
  def personalizedPageRank(edges: DataFrame, src: Long, iters: Int = 10,
                           resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val eRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val g = Graph.fromEdges(eRdd, defaultValue = 1.0,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      val pr = g.staticPersonalizedPageRank(src, iters, resetProb)
      pr.vertices.map { case (v, r) => (v, r) }.toDF("vertex", "rank")
    }
  }

  /** PPR sweep cut (Andersen, Chung & Lang 2006, FOCS, "Local graph
    * partitioning using PageRank vectors" — the classic local community
    * extraction): order vertices by personalized-PageRank score from
    * `src`, then over the prefix sets S_1 ⊆ S_2 ⊆ … of that order find
    * the prefix with MINIMUM conductance φ(S) = cut(S) / min(vol(S),
    * 2m − vol(S)). The sweep is what turns a PPR vector into an actual
    * community: ACL prove a low-conductance set near the seed shows up
    * as some prefix.
    *
    * Exactness: the ordering is (4-dp rank DESC, vertex) — the shipped
    * ppr_top20 contract, so both engines sweep the same sequence; vol
    * and cut derive from exact BIGINT prefix sums (vol = cumulative
    * degree; each directed edge becomes INTERNAL exactly at prefix
    * max(i_u, i_v), so cut_i = vol_i − cum_internal_i — no per-prefix
    * rescan, no FP until the end); φ is ONE IEEE division of exact
    * integers (bit-identical), argmin ties to the smaller prefix. The
    * degenerate den = 0 prefixes (the full vertex set; an empty side)
    * are excluded by the exact predicate in both engines.
    *
    * Scale: one PPR (fixed rounds), one degree aggregate, two index
    * joins on edges, then the [[graft.pipeline.Ranking.withRunningSums]]
    * two-pass prefix scan over the V-row sweep frame — never a
    * single-partition window, never per-prefix work. Input: a
    * SYMMETRIZED edge list (both directions present).
    * Output: one row (best_size, vol, cut, phi).
    */
  def pprSweepCut(edges: DataFrame, src: Long, iters: Int = 10): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(true)
    val ranked = graft.pipeline.Ranking.withGlobalIndex(
        personalizedPageRank(e, src, iters)
          .select(col("vertex"), round(col("rank"), 4).as("rank")),
        col("rank").desc, col("vertex"))
      .select(col("vertex"), (col("idx") + 1L).cast("long").as("i"))
      .localCheckpoint(true) // feeds the degree join and both edge sides
    val deg = e.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val vdeg = ranked.join(deg, Seq("vertex"), "left")
      .select(col("i"), coalesce(col("deg"), lit(0L)).as("deg"))
    val em = e
      .join(ranked.select(col("vertex").as("src"), col("i").as("iu")), "src")
      .join(ranked.select(col("vertex").as("dst"), col("i").as("iv")), "dst")
      .select(greatest(col("iu"), col("iv")).as("m"))
      .groupBy("m").agg(count(lit(1)).cast("long").as("closed"))
    val frame = vdeg.join(em, vdeg("i") === em("m"), "left")
      .select(col("i"), col("deg"), coalesce(col("closed"), lit(0L)).as("closed"))
    val cums = graft.pipeline.Ranking
      .withRunningSums(frame, Seq("deg", "closed"), col("i"))
    val m2 = broadcast(e.agg(count(lit(1)).cast("long").as("m2")))
    cums.crossJoin(m2)
      .select(col("i").as("best_size"), col("cum_deg").as("vol"),
        (col("cum_deg") - col("cum_closed")).as("cut"),
        least(col("cum_deg"), col("m2") - col("cum_deg")).as("den"))
      .filter(col("den") > 0L)
      .withColumn("phi", col("cut").cast("double") / col("den").cast("double"))
      .orderBy(col("phi"), col("best_size"))
      .limit(1)
      .select("best_size", "vol", "cut", "phi")
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * vertex with degree < k (and its edges)" over a symmetrized edge set —
    * the standard coreness computation, hop-bounded exactly like
    * [[ssspBounded]] so the semantics are a finite, oracle-replayable
    * relation (full k-core = run until fixpoint; each round is one
    * degree-aggregate + two semi-joins). Output: the surviving vertices
    * and their degree within the surviving subgraph, ordered.
    */
  def kCoreBounded(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    ownedGraphResult(edges.sparkSession) {
      var e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("src")
        e = e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .localCheckpoint(true)
      }
      e.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).cast("long").as("degree"))
    }.orderBy("vertex")
  }

  /** HyperBall neighborhood function (Boldi & Vigna 2013, WWW,
    * arXiv:1308.2144): per-vertex HyperLogLog registers propagated along
    * edges for `radius` rounds — after round r each vertex's registers
    * are EXACTLY the registers of its r-ball (register max-merge is a
    * semilattice join, so sketch propagation commutes with reachability:
    * B_r(v) = {v} ∪ ⋃_{v→u} B_{r−1}(u)), giving N̂(v, r) = estimated
    * vertices within r hops. This is the only known way to ballpark
    * ball sizes / effective diameter on a graph too big for all-pairs
    * BFS: state is ≤ m registers per vertex REGARDLESS of ball size,
    * where exact per-vertex reach state is the ball itself.
    *
    * Register recipe is the hll_distinct_users one verbatim (md5Bits60,
    * m = 256 buckets, rank = 53 − bitlength, exact-BIGINT Σ 2^(53−Mj),
    * one double expression + linear-counting branch, est rounded 4) —
    * which is also what makes the operator DuckDB-replayable: the oracle
    * computes each output vertex's r-ball directly (bounded unrolled
    * joins) and derives the SAME registers from it; the semilattice
    * identity says the two must agree bit-for-bit.
    *
    * Scale: the state is a PACKED m-byte register blob per vertex (one
    * 256 B value through the shuffle; byte b = max rank for bucket b —
    * the row-per-(v, bucket, rank) formulation measured 4× slower at
    * sf0.1), so per-round cost is one edge equi-join + one per-vertex
    * blob max-merge (map-side combined), bounded by V rows.
    *
    * Final-round prune (r20, guide §1.2 "don't compute things you
    * throw away"): the output reads registers for the MARKED vertices
    * only (v < `outputBelow`, parameter-scale), and a marked vertex's
    * round-`radius` register reads round-(radius−1) state only along
    * its OUT-edges — B_r(v) = {v} ∪ ⋃_{v→u} B_{r−1}(u). So the LAST
    * round joins the marked out-edges alone (a pure pushdown predicate
    * — no reachability pass) and gated-broadcasts that parameter-scale
    * edge slice, streaming the full state map-side instead of
    * shuffling V blob rows; its merge aggregates |outN(marked)| rows
    * instead of E. Kept registers read exactly the same inputs, so
    * every shipped value is bit-identical. (The FULL halo prune — BFS
    * distances filtering every round — was measured 20% SLOWER at
    * sf0.1: radius−1 extra join rounds plus per-round semi-joins
    * against savings only the last two rounds see. The numbers:
    * nf 5.00→6.32 s, harmonic 4.78→5.87, mean_distance 3.99→5.11,
    * eff_diameter 3.72→4.51 — reverted; the final-round predicate is
    * the free four-fifths of that win.)
    * Output: (vertex, radius, n_used, sprime, est) for vertices below
    * `outputBelow`, radius 1..`radius`, ordered.
    */
  def hyperBallNf(edges: DataFrame, radius: Int = 3,
                  outputBelow: Long = 1000L): DataFrame = {
    import graft.functions.Sketches.{hll_reg_build_agg, hll_reg_merge_agg}
    val m = 256
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint(true) // feeds every propagation round
    // PACKED state: ONE m-byte register blob per vertex (byte b = max
    // rank for bucket b). The row-per-register formulation measured 4×
    // slower at sf0.1 — its gather shuffled up to m rows per vertex where
    // this ships one 256 B value, and the blob max-merges map-side.
    var state = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v")))
      .distinct()
      .select(col("v"),
        graft.functions.PortableHash.md5Bits60(col("v").cast("string")).as("h"))
      .select(col("v"), (col("h") % m).as("bucket"), expr("h div 256").as("rem"))
      .select(col("v"), col("bucket"),
        when(col("rem") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("rem")))).cast("long").as("rank"))
      .groupBy("v").agg(hll_reg_build_agg(col("bucket"), col("rank"), m).as("regs"))
      .localCheckpoint(true)
    // (vertex, radius, n_used, sp_used) — EXACT integers unpacked on the
    // driver from the ≤ |marked| collected blobs (parameter-scale); the
    // one double expression runs back in Spark below so both engines
    // evaluate the identical IEEE op tree
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (r <- 1 to radius) {
      val lastRound = r == radius
      // final round: only marked registers are read afterwards, so only
      // the marked out-edges and marked self-rows enter the merge
      val eR = if (lastRound) {
        val me = e.filter(col("src") < outputBelow)
        vertexProbe(me)(me)
      } else e
      val sSelf =
        if (lastRound) state.filter(col("v") < outputBelow) else state
      state = state.join(eR, state("v") === eR("dst"))
        .select(eR("src").as("v"), col("regs"))
        .unionAll(sSelf)
        .groupBy("v").agg(hll_reg_merge_agg(col("regs"), m).as("regs"))
        .localCheckpoint(true)
      state.filter(col("v") < outputBelow).collect().foreach { row =>
        val regs = row.getAs[Array[Byte]](1)
        var nUsed = 0L; var spUsed = 0L
        var i = 0
        while (i < m) {
          if (regs(i) != 0) { nUsed += 1; spUsed += 1L << (53 - regs(i)) }
          i += 1
        }
        rows += ((row.getLong(0), r.toLong, nUsed, spUsed))
      }
    }
    rows.toSeq.toDF("vertex", "radius", "n_used", "sp_used")
      .withColumn("sprime",
        col("sp_used") + (lit(m.toLong) - col("n_used")) * lit(9007199254740992L))
      .withColumn("raw_est",
        lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(65536.0) *
          lit(9007199254740992.0) / col("sprime").cast("double"))
      .withColumn("est", round(
        when(col("raw_est") <= 640.0 && col("n_used") < m,
          lit(256.0) * log(lit(256.0) / (lit(m.toLong) - col("n_used")).cast("double")))
          .otherwise(col("raw_est")), 4))
      .select("vertex", "radius", "n_used", "sprime", "est")
      .orderBy("vertex", "radius")
  }

  /** Mean within-ball distance from the HyperBall neighborhood function —
    * the statistic HyperBall exists to estimate (Boldi & Vigna 2013 §5:
    * the distance distribution / effective-diameter family): with
    * N̂(v, r) from [[hyperBallNf]] and N̂(v, 0) = 1,
    *   mean_dist(v) = Σ_r r·(N̂(r) − N̂(r−1)) / (N̂(radius) − 1)
    *               = (3·N̂(3) − N̂(2) − N̂(1) − 1) / (N̂(3) − 1)  at radius 3.
    * Both engines derive it from the SAME 4-dp-rounded est values (the
    * shipped contract of hyperball_nf), so the arithmetic is
    * deterministic; the result ships rounded 4. The degenerate
    * N̂(radius) = 1 (isolated vertex) maps to 0 by the exact predicate.
    * Output: (vertex, est_r1, est_r2, est_r3, mean_dist) ordered.
    */
  def hyperBallMeanDistance(edges: DataFrame,
                            outputBelow: Long = 1000L): DataFrame = {
    val nf = hyperBallNf(edges, radius = 3, outputBelow = outputBelow)
    nf.groupBy("vertex")
      .agg(max(when(col("radius") === 1L, col("est"))).as("est_r1"),
        max(when(col("radius") === 2L, col("est"))).as("est_r2"),
        max(when(col("radius") === 3L, col("est"))).as("est_r3"))
      .withColumn("mean_dist", round(
        when(col("est_r3") === 1.0, lit(0.0))
          .otherwise((lit(3.0) * col("est_r3") - col("est_r2") - col("est_r1")
            - lit(1.0)) / (col("est_r3") - lit(1.0))), 4))
      .select("vertex", "est_r1", "est_r2", "est_r3", "mean_dist")
      .orderBy("vertex")
  }

  /** Harmonic centrality estimate from the HyperBall neighborhood
    * function — the second statistic Boldi & Vigna 2014 ("Axioms for
    * centrality") compute from the very same register propagation: with
    * N̂(v, r) from [[hyperBallNf]] and N̂(v, 0) = 1,
    *   harmonic(v) = Σ_r (N̂(r) − N̂(r−1)) / r
    *              = (N̂1 − 1) + (N̂2 − N̂1)/2 + (N̂3 − N̂2)/3  at radius 3 —
    * each newly reached vertex contributes 1/distance, the bounded-radius
    * truncation of Σ_{u≠v} 1/d(v,u). Both engines derive it from the SAME
    * 4-dp-rounded est values (the shipped hyperball_nf contract) through
    * one fixed IEEE op tree, so the result is deterministic; shipped
    * rounded 4. No degenerate case: the r = 0 ball is always 1 and no
    * division has a data-dependent zero denominator.
    * Output: (vertex, est_r1, est_r2, est_r3, harmonic) ordered.
    */
  def hyperBallHarmonic(edges: DataFrame,
                        outputBelow: Long = 1000L): DataFrame = {
    val nf = hyperBallNf(edges, radius = 3, outputBelow = outputBelow)
    nf.groupBy("vertex")
      .agg(max(when(col("radius") === 1L, col("est"))).as("est_r1"),
        max(when(col("radius") === 2L, col("est"))).as("est_r2"),
        max(when(col("radius") === 3L, col("est"))).as("est_r3"))
      .withColumn("harmonic", round(
        (col("est_r1") - lit(1.0)) +
          (col("est_r2") - col("est_r1")) / lit(2.0) +
          (col("est_r3") - col("est_r2")) / lit(3.0), 4))
      .select("vertex", "est_r1", "est_r2", "est_r3", "harmonic")
      .orderBy("vertex")
  }

  /** Global effective-diameter estimate from the HyperBall neighborhood
    * function (Boldi & Vigna 2013 §5 — THE statistic HyperBall was built
    * for, the "four degrees of separation" measurement): with
    * N(r) = Σ_v N̂(v, r) over the marked vertices (N(0) = |marked|, every
    * 0-ball is 1), the q = 0.9 effective diameter is the interpolated
    * radius where the cumulative neighborhood function reaches 90% of its
    * final mass: d_eff = (r*−1) + (0.9·N(3) − N(r*−1)) / (N(r*) − N(r*−1))
    * for the smallest r* with N(r*) ≥ 0.9·N(3).
    *
    * Cross-engine exactness: summing DOUBLES over vertices is
    * association-order-dependent, so each 4-dp est is first scaled to an
    * exact BIGINT (round(est·10⁴) — identical bits in, identical integer
    * out), the sums and the 10·N(r) ≥ 9·N(3) threshold tests run in exact
    * integer arithmetic, and the interpolation spends ONE final IEEE
    * division — no rounding contract needed beyond the shipped 4 dp.
    * Degenerate input (no marked vertices — empty edges or every id ≥
    * `outputBelow`) is an explicit contract, not null propagation: the
    * sums aggregate over zero rows and would return nulls, so they
    * coalesce to exact zeros and the row reads (0, 0, 0, 0, 0.0) — the
    * n0 ≥ 0.9·N(3) branch then holds trivially (0 ≥ 0).
    * Output: one row (n_marked, n1e4_r1, n1e4_r2, n1e4_r3, eff_diameter).
    */
  def hyperBallEffectiveDiameter(edges: DataFrame,
                                 outputBelow: Long = 1000L): DataFrame = {
    val nf = hyperBallNf(edges, radius = 3, outputBelow = outputBelow)
    def ns(r: Int) =
      coalesce(sum(when(col("radius") === r.toLong,
        round(col("est") * 10000.0, 0).cast("long"))), lit(0L)).as(s"n1e4_r$r")
    val agg = nf.agg(countDistinct("vertex").cast("long").as("n_marked"),
        ns(1), ns(2), ns(3))
      .withColumn("n0", col("n_marked") * 10000L)
    def interp(prev: org.apache.spark.sql.Column,
               cur: org.apache.spark.sql.Column,
               base: Int): org.apache.spark.sql.Column =
      lit(base.toDouble) +
        (lit(9L) * col("n1e4_r3") - lit(10L) * prev).cast("double") /
          (lit(10L) * (cur - prev)).cast("double")
    agg.withColumn("eff_diameter", round(
        when(lit(10L) * col("n0") >= lit(9L) * col("n1e4_r3"), lit(0.0))
          .when(lit(10L) * col("n1e4_r1") >= lit(9L) * col("n1e4_r3"),
            interp(col("n0"), col("n1e4_r1"), 0))
          .when(lit(10L) * col("n1e4_r2") >= lit(9L) * col("n1e4_r3"),
            interp(col("n1e4_r1"), col("n1e4_r2"), 1))
          .otherwise(interp(col("n1e4_r2"), col("n1e4_r3"), 2)), 4))
      .select("n_marked", "n1e4_r1", "n1e4_r2", "n1e4_r3", "eff_diameter")
  }

  /** Bounded batch-peeling densest-subgraph search (Bahmani, Kumar &
    * Vassilvitskii 2012, VLDB, "Densest subgraph in streaming and
    * MapReduce" — the 2(1+ε) approximation at ε = 0: each round records
    * the CURRENT subgraph's (V, E, density), then drops every vertex
    * with deg(v) ≤ 2E/V, i.e. at most the average degree (decided as
    * the exact BIGINT cross-product deg·V ≤ 2E — no FP compare), and
    * its edges. ε = 0 trades the log_{1+ε} round bound for the tightest
    * factor-2 guarantee and, on the tight degree distributions of
    * co-occurrence graphs, still peels a large fraction per round
    * (measured: empty in ≤ 10 rounds at sf0.01 where ε = 1/2 emptied in
    * ONE — a trace of one row tests nothing). The best
    * round over the trace is the density argmax, again exact-integer
    * cross-multiplied, ties to the earliest round. Peeling a constant
    * fraction per round means O(log V) rounds to empty; `rounds` bounds
    * the trace so the semantics stay a finite oracle-replayable relation
    * (the [[kCoreBounded]] contract — rounds after the graph empties
    * emit nothing).
    *
    * Scale: one degree aggregate + two endpoint semi-joins per round over
    * a MONOTONICALLY SHRINKING edge set; per-round driver traffic is two
    * scalars (V, E — the katz-style parameter-scale collect). Input:
    * canonical pairs (a, b), a < b, distinct. Output: one row per
    * non-empty round (round, n_vertices, n_edges, density, best),
    * ordered by round.
    */
  def densestBounded(pairs: DataFrame, rounds: Int = 16): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    var p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val deg = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).cast("long").as("d"))
        .localCheckpoint(true) // feeds the (V, 2E) row AND the keep filter
      // ONE control-plane row per round (r19, guide §2.3): V = vertex
      // count, 2E = Σ degrees — the separate p.count() job this replaces
      // read the same total through the edge table
      val row = deg.agg(count(lit(1)).cast("long"), sum("d").cast("long"))
        .collect()(0)
      val e = if (row.isNullAt(1)) 0L else row.getLong(1) / 2L
      if (e == 0L) done = true
      else {
        val v = row.getLong(0)
        trace += ((r.toLong, v, e))
        if (r < rounds) {
          val keep = deg.filter(col("d") * lit(v) > lit(2L) * lit(e)).select("v")
            .localCheckpoint(true) // feeds both endpoint semi-joins
          // gated vertex broadcast ([[vertexProbe]] pattern, r19): the
          // ≤V-row keep set probes map-side into both endpoint semi-joins
          val kp =
            if (v <= vertexBroadcastMax) (d: DataFrame) => broadcast(d)
            else identity[DataFrame] _
          p = p.join(kp(keep.withColumnRenamed("v", "a")), Seq("a"), "left_semi")
            .join(kp(keep.withColumnRenamed("v", "b")), Seq("b"), "left_semi")
            .localCheckpoint(true)
        }
        r += 1
      }
    }
    // empty input: round 1 sees e == 0, the trace stays empty — return the
    // empty relation (the oracle's behavior) instead of reducing nothing
    if (trace.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Boolean)]
        .toDF("round", "n_vertices", "n_edges", "density", "best")
    // density argmax on exact integers; reduceLeft keeps the EARLIEST on ties
    val bestRound = trace.reduceLeft { (x, y) =>
      if (y._3 * x._2 > x._3 * y._2) y else x
    }._1
    trace.toSeq
      .map { case (rd, v, e) => (rd, v, e, e.toDouble / v, rd == bestRound) }
      .toDF("round", "n_vertices", "n_edges", "density", "best")
      .orderBy("round")
  }

  /** Bounded k-truss peeling (Cohen 2008, "Trusses: cohesive subgraphs
    * for social network analysis"): iterate "drop every edge that closes
    * fewer than k−2 triangles in the CURRENT surviving subgraph" for
    * `rounds` rounds — the edge-cohesion analogue of [[kCoreBounded]]'s
    * vertex peeling (a k-truss is a subgraph of the (k−1)-core, but far
    * tighter: it demands triangle support, not just degree). Input:
    * canonical undirected pairs `(a, b)` with a < b, distinct — the same
    * contract as [[triangleCounts]]. Bounded rounds keep the semantics a
    * finite oracle-replayable relation (the [[ssspBounded]] contract);
    * peel rounds past the fixpoint are no-ops, so enough rounds compute
    * the exact truss.
    *
    * Per round: the [[triangleCounts]] wedge join + closing-edge semi-join
    * enumerates each triangle once (a < b < c), each triangle charges its
    * THREE edges (all verified real edges — two wedge sides + the
    * semi-joined closer), one (a,b)-keyed count aggregates support, and
    * the filter keeps support ≥ k−2. Edges in no triangle never appear in
    * the charge stream and are dropped implicitly (k ≥ 3 ⇒ they can't
    * qualify). The edge set shrinks monotonically; hub-wedge blowup is
    * bounded upstream exactly as for triangle_counts (basket-size guard).
    * Output: surviving (a, b, support) after the final round — support AS
    * COMPUTED by that round, the value that qualified the edge — ordered.
    */
  def kTrussBounded(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (support threshold k-2 >= 1)")
    require(rounds >= 1, "at least one peel round")
    ownedGraphResult(pairs.sparkSession) {
      var p = pairs.select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b"))
        .localCheckpoint(true)
      var sup: DataFrame = p // replaced in round 1 (rounds >= 1 required)
      for (_ <- 1 to rounds) {
        sup = trussSupportRound(p).filter(col("support") >= k - 2)
          .localCheckpoint(true)
        p = sup.select("a", "b")
      }
      sup
    }.orderBy("a", "b")
  }

  /** One k-truss support round — see [[kTrussBounded]]. Triangles come
    * from the degree-ordered enumeration ([[orientedTriangles]], same
    * hub-skew bound as [[triangleCounts]]); the ≺-ordered corners are
    * re-canonicalized to id-order with least/greatest when charging the
    * three edges, so the surviving edge set keeps the a < b contract.
    */
  private[graft] def trussSupportRound(p: DataFrame): DataFrame = {
    val o = orientByDegree(p, pairDegrees(p).localCheckpoint(true))
      .localCheckpoint(true) // feeds all three sides of the triangle join
    orientedTriangles(o, censusProbe(o), censusBloomPrune(o, Seq("u", "v")))
      .select(explode(array(
        struct(least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y")),
        struct(least(col("u"), col("w")).as("x"), greatest(col("u"), col("w")).as("y")),
        struct(least(col("v"), col("w")).as("x"), greatest(col("v"), col("w")).as("y"))))
        .as("e"))
      .select(col("e.x").as("a"), col("e.y").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("long").as("support"))
  }

  /** k-core peeling to the FIXPOINT: iterate "drop every vertex with
    * degree < k" until a round drops nothing — the answer a user means by
    * "the k-core" (the maximal subgraph in which every vertex has degree
    * ≥ k). [[kCoreBounded]] is the oracle-replayable bounded variant of
    * the same round function; this wrapper adds convergence detection:
    * a round is a fixpoint iff it drops no EDGE, so the per-round test is
    * one `count()` over the freshly checkpointed edge table (already
    * materialized — the check is a partition-size sum, not a recompute).
    * Terminates in ≤ |V| rounds (every non-final round removes ≥ 1
    * vertex). Output as [[kCoreBounded]]: surviving (vertex, degree-in-
    * core), ordered.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = Int.MaxValue): DataFrame = {
    ownedGraphResult(edges.sparkSession) {
      var e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      var nEdges = e.count()
      var round = 0
      var converged = nEdges == 0L
      while (!converged && round < maxRounds) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("src")
        val next = e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .localCheckpoint(true)
        val nNext = next.count()
        converged = nNext == nEdges // no edge dropped ⇒ degrees unchanged ⇒ fixpoint
        e = next; nEdges = nNext; round += 1
      }
      e.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).cast("long").as("degree"))
    }.orderBy("vertex")
  }

  /** Bounded synchronous label propagation (community detection): labels
    * start as the vertex id; each round every vertex adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label —
    * fully deterministic, unlike the random-order async variant. Bounded
    * rounds keep it an oracle-replayable finite relation (the same
    * bounded-iteration contract as [[ssspBounded]]/[[kCoreBounded]]).
    * Input contract: a symmetrized edge set (every vertex occurs as both
    * src and dst), so every vertex receives messages each round. One join
    * + one count-aggregate + one `max_by` argmax per round — the argmax is
    * a second aggregate on the same `vertex` key (the count-agg's hash
    * partitioning is reused, no extra exchange), NOT a row_number window,
    * which would add a full sort-exchange per round. The tie-break
    * (most frequent label, then SMALLEST label) is encoded in the max_by
    * ordering struct `(n, -label)`: that struct is unique per
    * (vertex, label) group, so the argmax is fully deterministic.
    * Output: (vertex, label) ordered.
    */
  def labelPropagationBounded(edges: DataFrame, rounds: Int): DataFrame = {
    ownedGraphResult(edges.sparkSession) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      var lab = e.select(col("src").as("vertex")).distinct()
        .withColumn("label", col("vertex"))
        .localCheckpoint(true)
      val probe = vertexProbe(lab) // gate decided once — V is fixed
      for (_ <- 1 to rounds) {
        lab = lpaRound(e, lab, probe).localCheckpoint(true)
      }
      lab
    }.orderBy("vertex")
  }

  /** Newman modularity of a community labeling (Newman & Girvan 2004) —
    * THE quality score for [[labelPropagationBounded]]'s output:
    * Q = Σ_c [ intra2_c/(2m) − (deg_c/(2m))² ] over a both-directions
    * edge table (2m = directed row count, intra2_c = directed intra-
    * community rows, deg_c = Σ degrees in c).
    *
    * Numerator Σ_c (intra2_c·2m − deg_c²) stays EXACT in decimal(38,0)
    * (an overflow on a pathological graph throws loudly under ANSI
    * instead of drifting — the Katz discipline); the ONLY IEEE operation
    * is the final division, so the shipped double is bit-identical
    * cross-engine with no rounding contract (the drift_ks trick).
    *
    * Dataflow: two label equi-joins onto the edge table (the labeling is
    * vertex-sized ≪ edges — AQE broadcasts when it fits), ONE groupBy
    * community, then a one-row total broadcast back over the per-
    * community frame. No shuffle is keyed on anything bigger than the
    * community count. Output: one row (n_communities, m_edges,
    * q_modularity).
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val lab = communities.select(col("vertex").cast("long").as("v"),
      col("label").cast("long").as("c"))
      .localCheckpoint(true) // feeds both endpoint joins + the gate count
    // gated vertex broadcast ([[vertexProbe]], r19): the V-sized label
    // map broadcasts into both endpoint joins — the edge table never
    // shuffles for them
    val probe = vertexProbe(lab)
    val es = e
      .join(probe(lab.select(col("v"), col("c").as("c_src"))), col("src") === col("v"))
      .drop("v")
      .join(probe(lab.select(col("v"), col("c").as("c_dst"))), col("dst") === col("v"))
      .drop("v")
    val perC = es.groupBy("c_src").agg(
      count(lit(1)).cast("long").as("deg_c"),
      sum(when(col("c_src") === col("c_dst"), 1L).otherwise(0L))
        .cast("long").as("intra2_c"))
    val tot = perC.agg(sum("deg_c").cast("long").as("m2"))
    perC.crossJoin(broadcast(tot))
      .agg(
        count(lit(1)).cast("long").as("n_communities"),
        sum(col("intra2_c").cast("decimal(38,0)") * col("m2").cast("decimal(38,0)")
          - col("deg_c").cast("decimal(38,0)") * col("deg_c").cast("decimal(38,0)"))
          .as("qnum"),
        max("m2").as("m2x"))
      .select(col("n_communities"),
        (col("m2x") / lit(2)).cast("long").as("m_edges"),
        (col("qnum").cast("double") /
          (col("m2x").cast("decimal(38,0)") * col("m2x").cast("decimal(38,0)"))
            .cast("double")).as("q_modularity"))
  }

  /** Bounded synchronous Louvain MOVE phase (Blondel et al. 2008,
    * arXiv:0803.0476 — the local-moving step of "Fast unfolding of
    * communities in large networks", in the parallel/synchronous form
    * distributed implementations use): communities start as the vertex
    * id; each round EVERY vertex simultaneously re-assigns itself to the
    * candidate community maximizing the modularity gain
    *   ΔQ ∝ k_{v→c} − deg_v · tot_c' / (2m)
    * where k_{v→c} counts v's edges into c, tot_c' is c's total degree
    * with v excluded if v is already in c, and candidates are v's
    * neighbor communities plus its current one (so an isolated-in-its-
    * community vertex can still stay). Gains compare EXACTLY as the
    * BIGINT cross-multiplied numerator 2m·k_{v→c} − deg_v·tot_c' (ANSI
    * overflows loudly at ~2m > 3·10⁹ — lift to decimal(38,0) there, the
    * Katz discipline); ties break to the SMALLEST community id via the
    * `max_by` struct `(num, −c)`, unique per (vertex, c) — fully
    * deterministic, same contract as [[labelPropagationBounded]].
    * Unlike LPA (adopt the most frequent neighbor label), each move here
    * is GUARANTEED locally modularity-non-decreasing under the
    * sequential semantics, which is why Louvain's labelings score higher
    * Q — `modularity_louvain` vs `modularity_lpa` shows the gap on the
    * same graph.
    *
    * Scale per round: one edge→community equi-join and a (vertex,
    * community) count for k_{v→c}, one vertex-keyed join + community
    * aggregate for tot_c, three vertex-keyed broadcast-eligible joins to
    * assemble scores, one `max_by` argmax — every shuffle is keyed on
    * vertices or communities, never wider; the 2m scalar rides a one-row
    * broadcast crossJoin (no driver collect). Bounded rounds keep it an
    * oracle-replayable finite relation. Input contract: symmetrized
    * multigraph (parallel rows = edge weights), like LPA.
    * Output: (vertex, label) ordered.
    */
  def louvainBounded(edges: DataFrame, rounds: Int): DataFrame = {
    ownedGraphResult(edges.sparkSession) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      val deg = e.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).cast("long").as("deg"))
        .localCheckpoint(true)
      val m2 = broadcast(deg.agg(sum("deg").cast("long").as("m2")))
      var comm = deg.select(col("vertex"), col("vertex").as("c"))
        .localCheckpoint(true)
      val probe = vertexProbe(deg) // gate decided once — V is fixed
      for (_ <- 1 to rounds)
        comm = louvainMoveRound(e, deg, m2, comm, probe).localCheckpoint(true)
      comm.select(col("vertex"), col("c").as("label"))
    }.orderBy("vertex")
  }

  /** One synchronous Louvain move round — see [[louvainBounded]]. */
  private[graft] def louvainMoveRound(e: DataFrame, deg: DataFrame, m2: DataFrame,
                                      comm: DataFrame,
                                      probe: DataFrame => DataFrame = identity): DataFrame = {
    // probe = gated vertex broadcast ([[vertexProbe]], r19): comm/deg/tot
    // are all ≤V-row maps — broadcast them into the edge join and the
    // candidate-scoring joins so neither the edge table nor the
    // edge-bounded candidate set shuffles for a V-sized side
    val tot = probe(comm).join(deg, "vertex")
      .groupBy("c").agg(sum("deg").cast("long").as("tot_c"))
    val k = e.join(probe(comm.select(col("vertex").as("dst"), col("c"))), "dst")
      .groupBy(col("src").as("vertex"), col("c"))
      .agg(count(lit(1)).cast("long").as("k_vc"))
    // the stay candidate must exist even when v has no intra-community
    // neighbor; max() merges it with a real k row when both are present
    val cand = k
      .unionByName(comm.select(col("vertex"), col("c"), lit(0L).as("k_vc")))
      .groupBy("vertex", "c").agg(max("k_vc").as("k_vc"))
    cand
      .join(probe(comm.select(col("vertex"), col("c").as("c_cur"))), "vertex")
      .join(probe(deg), "vertex")
      .join(probe(tot), "c")
      .crossJoin(m2)
      .withColumn("tot_adj",
        when(col("c") === col("c_cur"), col("tot_c") - col("deg"))
          .otherwise(col("tot_c")))
      .withColumn("num", col("m2") * col("k_vc") - col("deg") * col("tot_adj"))
      .groupBy("vertex")
      .agg(max_by(col("c"), struct(col("num"), -col("c"))).as("c"))
  }

  /** Label propagation to a STABLE labeling: run [[lpaRound]] until a
    * round changes no vertex's label (the per-round delta test is one
    * anti-join between two checkpointed (vertex, label) tables — empty ⇒
    * fixpoint). Synchronous LPA can 2-cycle on bipartite structure
    * (labels oscillating between the two sides), so `maxRounds` is a
    * REQUIRED safety bound, not an accuracy knob — the default 100 ends
    * any oscillator while letting real community structure converge
    * (typical corpora stabilize in < 10 rounds). Semantics per round are
    * identical to [[labelPropagationBounded]] (deterministic min-label
    * tie-break). Output: (vertex, label) ordered.
    */
  def labelPropagation(edges: DataFrame, maxRounds: Int = 100): DataFrame = {
    ownedGraphResult(edges.sparkSession) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      var lab = e.select(col("src").as("vertex")).distinct()
        .withColumn("label", col("vertex"))
        .localCheckpoint(true)
      val probe = vertexProbe(lab) // gate decided once — V is fixed
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val next = lpaRound(e, lab, probe).localCheckpoint(true)
        converged = next.join(lab, Seq("vertex", "label"), "left_anti").isEmpty
        lab = next; round += 1
      }
      lab
    }.orderBy("vertex")
  }

  /** Single-source shortest paths to the FIXPOINT: Bellman-Ford rounds
    * (the [[ssspBounded]] round function) until a round improves no
    * distance and reaches no new vertex — detected by an anti-join of the
    * new (vertex, dist) table against the previous one (both
    * checkpointed; min-aggregation makes distances monotonically
    * non-increasing, so "no row changed" ⇔ fixpoint). Converges in
    * ≤ |V| − 1 rounds on any graph with non-negative weights; a negative
    * cycle would relax forever, so `maxRounds` is the standard
    * Bellman-Ford safety bound (pass |V| to detect: hitting the bound
    * without converging ⇒ a reachable negative cycle exists).
    * Output as [[ssspBounded]]: (vertex, dist) ordered.
    */
  def sssp(edges: DataFrame, start: Long,
           maxRounds: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        var dist = Seq((start, 0L)).toDF("vertex", "dist").localCheckpoint(true)
        var round = 0
        var converged = false
        while (!converged && round < maxRounds) {
          val relaxed = dist.join(e, dist("vertex") === e("src"))
            .select(e("dst").as("vertex"), (dist("dist") + e("w")).as("dist"))
          val next = dist.unionAll(relaxed)
            .groupBy("vertex").agg(min("dist").as("dist"))
            .localCheckpoint(true)
          converged = next.join(dist, Seq("vertex", "dist"), "left_anti").isEmpty
          dist = next; round += 1
        }
        dist
      } finally { e.unpersist(); () }
    }.orderBy("vertex")
  }

  /** One synchronous LPA round: every vertex adopts the most frequent
    * neighbor label, ties to the smallest label (see
    * [[labelPropagationBounded]] for the determinism argument).
    *
    * One data exchange beyond the message join: the explicit
    * `repartition(vertex)` satisfies the clustered distribution of BOTH
    * aggregates (hash partitioning on `vertex` co-locates every
    * `(vertex, label)` group too — a partitioning on a subset of the
    * grouping keys satisfies the superset), so the label count AND the
    * max_by argmax both run exchange-free on top of it. Without it the
    * planner inserts two exchanges — one on (vertex, label), a second on
    * vertex — and the row_number window this replaced added a full sort
    * besides.
    */
  private def lpaRound(e: DataFrame, lab: DataFrame,
                       probe: DataFrame => DataFrame = identity): DataFrame =
    // probe = gated vertex broadcast ([[vertexProbe]], r19): the V-sized
    // label map broadcasts into the edge join, so the checkpointed edge
    // table never shuffles per round (the repartition below remains the
    // round's ONE semantic exchange, feeding both aggregates)
    e.join(probe(lab.withColumnRenamed("vertex", "dst")), "dst")
      .select(col("src").as("vertex"), col("label"))
      .repartition(col("vertex"))
      .groupBy("vertex", "label")
      .agg(count(lit(1)).as("n"))
      .groupBy("vertex")
      .agg(max_by(col("label"), struct(col("n"), -col("label"))).as("label"))

  /** Degree-ordered orientation of an undirected edge set (Chiba &
    * Nishizeki 1985; the "compact-forward" orientation of Latapy 2008):
    * each canonical pair `(a, b)` becomes ONE directed edge `u → v` where
    * `u ≺ v` under the total order (degree, id). The payoff is the
    * arboricity bound: under this orientation every vertex's OUT-degree is
    * O(√m) amortized, so wedge enumeration from the low endpoint does
    * O(m^1.5) work TOTAL regardless of hub skew — a hub of degree 10⁶
    * contributes almost no wedges as a source because nearly all its edges
    * point INTO it. The ID-ordered orientation this replaced degraded to
    * deg(hub)² wedges whenever a hub drew a small id.
    *
    * Output: (u, v) directed edges. Requires canonical distinct pairs (no
    * self-loops); ids are distinct so ≺ is total and the orientation is
    * deterministic.
    */
  private[graft] def orientByDegree(p: DataFrame, deg: DataFrame): DataFrame = {
    val j = p
      .join(deg.select(col("vertex").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("vertex").as("b"), col("degree").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    j.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
  }

  /** Degrees of a canonical pair set — one edge-keyed aggregate. */
  private[graft] def pairDegrees(p: DataFrame): DataFrame =
    p.select(col("a").as("vertex")).unionAll(p.select(col("b").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).cast("long").as("degree"))

  /** Row-count ceiling under which VERTEX-keyed per-round side tables
    * (rank vectors, label maps, degree/community maps) BROADCAST into
    * their edge-table joins (guide §3.1). Every iteration kernel's rank/
    * label side is a checkpointed LogicalRDD with NO size statistics, so
    * the planner never auto-broadcasts it — AQE converts to broadcast at
    * runtime but only AFTER paying the shuffle write of both sides, every
    * round. Below the gate the side is broadcast explicitly and the edge
    * table never shuffles for the join; above it (the 100 TB path, where
    * a V-sized vector no longer fits an executor) the shuffled shape is
    * kept. Knob contract as [[censusBroadcastMax]]: sys-prop first
    * (`graft.vertexBroadcastMax`; tests force the shuffle path with 0),
    * env (`GRAFT_VERTEX_BROADCAST_MAX`) second.
    */
  private[graft] def vertexBroadcastMax: Long =
    sys.props.get("graft.vertexBroadcastMax")
      .orElse(sys.env.get("GRAFT_VERTEX_BROADCAST_MAX"))
      .map(_.trim.toLong).getOrElse(4000000L)

  /** Probe builder for vertex-keyed side tables: `broadcast(df)` when the
    * MATERIALIZED vertex frame `v` is under [[vertexBroadcastMax]] rows
    * (count = partition-size sum on a checkpointed frame), identity
    * otherwise. Decided ONCE per query from the vertex set — V never
    * grows mid-iteration — and passed into the round kernels. Strategy
    * only: results are bit-identical across the gate.
    */
  private[graft] def vertexProbe(v: DataFrame): DataFrame => DataFrame =
    if (v.count() <= vertexBroadcastMax) broadcast(_) else identity

  /** Edge-count ceiling under which the census joins BROADCAST the
    * oriented edge set instead of shuffling the wedge fan-out through
    * sort-merge joins (guide §3.1) — the batch analogue of the K4
    * maintainer's `quadBroadcastMax`. The wedge/extension fan-out is
    * O(m^1.5) rows while the probe side stays O(m): below the gate every
    * existence probe is a map-side BroadcastHashJoin and the fan-out
    * never crosses an exchange; above it (the 100 TB path) the joins
    * shuffle as before — the fan-out pays the exchange but no single
    * executor must hold the edge set. Same knob contract as the twin:
    * sys-prop first (tests force the shuffle path with 0), env second.
    */
  private[graft] def censusBroadcastMax: Long =
    sys.props.get("graft.censusBroadcastMax")
      .orElse(sys.env.get("GRAFT_CENSUS_BROADCAST_MAX"))
      .map(_.trim.toLong).getOrElse(4000000L)

  /** Probe builder for the census joins: `broadcast(df)` when the
    * CHECKPOINTED oriented edge set `o` is under [[censusBroadcastMax]]
    * edges (the count is a partition-size sum — `o` must already be
    * materialized), identity otherwise. Join strategy only — the joined
    * relation is the same either way, so every census result is
    * bit-identical across the gate.
    */
  private[graft] def censusProbe(o: DataFrame): DataFrame => DataFrame =
    if (o.count() <= censusBroadcastMax) broadcast(_) else identity

  /** ABOVE-gate Bloom prune for the census closing-edge semi-joins (r19
    * verdict #4, guide §3.2): below [[censusBroadcastMax]] the probes
    * broadcast and the fan-out never crosses an exchange — the prune is
    * identity. Above the gate the wedge / tri-pair fan-out must shuffle
    * to meet the sort-merge semi-join, and at cluster scale most
    * candidates do not survive it — so a broadcast Bloom over the probe
    * relation's canonical key (the batch form of the K4 maintainer's
    * edge Bloom; blob capped at 2^28 bits ≈ 32 MB, past which the FP
    * rate degrades, never the answer) drops non-members map-side BEFORE
    * the exchange. The exact semi-join still runs on the survivors, so
    * results are bit-identical across the gate (GraphOpsSpec pin).
    * Returns: fan-out keys → fan-out frame → pruned frame.
    */
  private[graft] def censusBloomPrune(probeRel: DataFrame, keys: Seq[String])
      : Seq[org.apache.spark.sql.Column] => DataFrame => DataFrame = {
    val n = probeRel.count() // probeRel is checkpointed: partition-size sum
    if (n <= censusBroadcastMax) _ => identity
    else {
      val bits = math.max(64L * 8L, math.min(n * 8L, 1L << 28))
      val bf = probeRel.agg(graft.pipeline.RuntimeFilters.bloomAgg(
          struct(keys.map(col): _*), math.max(n, 1L), bits).as("bf"))
        .localCheckpoint(true) // built once, probed by every prune site
      ks => df => df.filter(coalesce(
        graft.pipeline.RuntimeFilters.mightContain(bf, struct(ks: _*)),
        lit(true)))
    }
  }

  /** Every triangle exactly once as an ≺-ordered triple `u ≺ v ≺ w` over
    * a degree-ordered orientation `o` (see [[orientByDegree]]): join the
    * in-edges of each MIDDLE vertex v (u → v) with its out-edges (v → w) —
    * both orderings come free from the orientation, so every candidate row
    * is a distinct u ≺ v ≺ w wedge with no post-join dedup or half-discard
    * filter — then semi-join the closing oriented edge u → w. Wedge
    * fan-out per middle is indeg(v)·outdeg(v) ≤ indeg(v)·O(√m), giving
    * O(m^1.5) total (arboricity bound): a hub's huge in-degree multiplies
    * its SMALL out-degree, never itself. Output: (u, v, w).
    *
    * `probe` (r19, guide §3.1) wraps the out-edge and closing-edge sides:
    * [[censusProbe]]'s gated broadcast keeps the O(m^1.5) wedge fan-out
    * from ever crossing an exchange — the shuffled plan sorted the full
    * fan-out once per probe join.
    */
  private[graft] def orientedTriangles(
      o: DataFrame, probe: DataFrame => DataFrame = identity,
      prune: Seq[org.apache.spark.sql.Column] => DataFrame => DataFrame =
        _ => identity): DataFrame =
    prune(Seq(col("u"), col("w")))(
        o.join(probe(o.select(col("u").as("v"), col("v").as("w"))), "v"))
      .join(probe(o.select(col("u"), col("v").as("w"))), Seq("u", "w"), "left_semi")
      .select("u", "v", "w")

  /** Per-vertex triangle counts over an undirected graph given as
    * CANONICAL pairs `(a, b)` with `a < b`, distinct: orient each edge
    * low-(degree, id) → high ([[orientByDegree]]), enumerate each triangle
    * exactly once as an ≺-ordered wedge + closing-edge semi-join
    * ([[orientedTriangles]]), then explode the three corners and count.
    *
    * Scale: the degree-ordered orientation caps wedge work at O(m^1.5)
    * TOTAL (arboricity bound) — hub-skew-proof, unlike the raw-ID
    * orientation whose wedge fan-out concentrates on any hub that draws a
    * small id. The triangle SET is orientation-invariant, so results are
    * bit-identical to the ID-ordered plan this replaced. Joins are on
    * natural edge keys throughout; no cartesian, no post-hoc distinct.
    * Output: (vertex, n_triangles) for vertices in ≥1 triangle, ordered.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // scanned by the degree agg AND the orientation join
    val o = orientByDegree(p, pairDegrees(p).localCheckpoint(true))
      .localCheckpoint(true) // feeds all three sides of the triangle join
    orientedTriangles(o, censusProbe(o), censusBloomPrune(o, Seq("u", "v")))
      .select(explode(array(col("u"), col("v"), col("w"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).cast("long").as("n_triangles"))
      .orderBy("vertex")
  }

  /** Per-vertex 4-CLIQUE counts over canonical pairs `(a, b)`, a < b,
    * distinct — one cohesion level above [[triangleCounts]]: the K4
    * census distinguishes genuinely dense cores (spam rings, bundle
    * catalogs) from mere wedge-heavy hubs, and is the k = 4 row of the
    * clique-census features graphlet-based ML uses. Each clique is
    * enumerated exactly once: the [[orientedTriangles]] wedge + closing
    * semi-join builds each ≺-ordered triangle (u,v,w) once, and (r19) a
    * triangle SELF-JOIN on the shared ≺-minimal edge (u,v) pairs the two
    * triangles every K4 contains through that edge — third corners
    * id-ordered w < t, closing edge {w,t} verified against the canonical
    * pair set — natural edge keys throughout, no cartesian.
    *
    * Scale: the census MASS grows super-linearly on dense spots by NATURE
    * (a basket of s co-purchased items contributes C(s,4) cliques) — but
    * the ENUMERATION work is arboricity-bounded: the wedge join fans
    * out by indeg·outdeg with outdeg O(√m) under the orientation, and the
    * tri-pair self-join fans out by Σ C(tri_uv, 2) per edge — within a
    * constant of the OUTPUT mass on dense cores (C(s,4) quads vs
    * 3·C(s,4) candidate pairs per K_s), where the pre-r19
    * extend-by-out-neighbor shape enumerated Σ_tri outdeg(w) mostly-
    * discarded candidates (27× the surviving volume at sf0.1).
    * `maxExtendDegree` (> 0) drops extension sources whose FULL degree
    * exceeds the cap — the [[commonNeighborLinks]] `maxMiddleDegree`
    * lever wired into the K4 extension for pathological cores; that
    * capped variant keeps the original extend-then-verify shape (the cap
    * is defined on the extension edge); 0 (the default, and the declared
    * query) is exact. Output: (vertex, n_cliques4) ordered, vertices in
    * ≥ 1 clique.
    */
  def fourCliqueCounts(pairs: DataFrame, maxExtendDegree: Long = 0L): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // scanned by the degree agg AND the orientation join
    val deg = pairDegrees(p).localCheckpoint(true) // feeds orientation + cap
    val o = orientByDegree(p, deg)
      .localCheckpoint(true) // feeds all five sides of the census join
    // gated broadcast probes (guide §3.1): below censusBroadcastMax every
    // existence probe is a map-side BroadcastHashJoin — the candidate
    // stream never crosses an exchange; the shuffled plan sorted it once
    // per probe join
    val probe = censusProbe(o)
    // above-gate Bloom prunes (identity below the gate): one over the
    // oriented closing edge for the wedge fan-out, one over the
    // canonical pair set for the tri-pair closing semi (guide §3.2)
    val prune = censusBloomPrune(o, Seq("u", "v"))
    val pruneP = censusBloomPrune(p, Seq("a", "b"))
    val quad =
      if (maxExtendDegree <= 0) {
        // EXACT path (r19, guide §2.3 "don't compute things you throw
        // away"): a K4 a≺b≺c≺d is two ≺-ordered triangles (a,b,c) and
        // (a,b,d) sharing the ≺-MINIMAL edge (a,b), plus the closing edge
        // {c,d} — so quads come from a triangle SELF-JOIN on (u,v) with
        // the third corners id-ordered (w < x keeps each unordered pair
        // once) and ONE closing-edge probe against the ID-canonical pair
        // set p. Candidate volume is Σ_(u,v) C(tri_uv, 2) — output-driven
        // (sf0.1: 2.1M candidates) — where the old extend-by-out-neighbor
        // shape enumerated Σ_tri outdeg(w) rows (sf0.1: 57.9M, 27×
        // more) and needed TWO verification semi-joins on the fan-out.
        // The quad set is identical: every surviving row has all six
        // edges verified (four by the two triangles, one shared, one by
        // the closing probe), and each K4 survives exactly once via its
        // ≺-minimal edge and the id-order filter.
        val tri = orientedTriangles(o, probe, prune)
          .localCheckpoint(true) // feeds both sides of the pair self-join
        pruneP(Seq(col("w"), col("t")))(tri
          .join(tri.select(col("u"), col("v"), col("w").as("t")), Seq("u", "v"))
          .filter(col("w") < col("t")))
          .join(probe(p.select(col("a").as("w"), col("b").as("t"))),
            Seq("w", "t"), "left_semi")
      } else {
        // capped path (maxExtendDegree > 0): the extension-source degree
        // cap is defined on the w→t EXTENSION edge, so the original
        // extend-then-verify shape is kept verbatim — the cap's semantics
        // (drop quads whose extension source exceeds the cap) have no
        // counterpart in the tri-pair shape
        val ext = o.join(deg.filter(col("degree") <= maxExtendDegree)
          .select(col("vertex").as("u")), Seq("u"), "left_semi")
        orientedTriangles(o, probe, prune)
          .join(probe(ext.select(col("u").as("w"), col("v").as("t"))), "w")
          .join(probe(o.select(col("u"), col("v").as("t"))), Seq("u", "t"), "left_semi")
          .join(probe(o.select(col("u").as("v"), col("v").as("t"))), Seq("v", "t"), "left_semi")
      }
    quad.select(explode(array(col("u"), col("v"), col("w"), col("t"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).cast("long").as("n_cliques4"))
      .orderBy("vertex")
  }

  /** Conductance per community (Kannan, Vempala & Vetta 2004 — the
    * community-quality measure modularity's resolution limit hides):
    * φ(c) = cut(c) / min(vol(c), 2m − vol(c)), with vol(c) = Σ degrees
    * in c and cut(c) = edges leaving c. Low φ = a real community (few
    * escaping edges per internal stub); φ near 1 = a random vertex bag.
    * Input: a SYMMETRIC edge list and a (vertex, label) assignment (the
    * query feeds the bounded-LPA labeling, so the whole composition
    * replays in SQL).
    *
    * Exactness: volumes and cuts are BIGINT counts over the directed
    * symmetric edges (each undirected edge contributes 1 to both
    * endpoints' volumes; a cut edge charges each side's community once);
    * φ is ONE final IEEE division, unrounded; the degenerate
    * min(vol, 2m−vol) = 0 (single community) maps to 0 by the exact
    * predicate. Scale: one label join per edge endpoint (the labeling is
    * vertex-keyed), one community-keyed aggregate, a one-row total
    * broadcast. Output: (community, n_vertices, volume, cut,
    * conductance) ordered.
    */
  def communityConductance(edges: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("vertex").cast("long").as("vertex"),
      col("label").cast("long").as("label")).localCheckpoint(true)
    // gated vertex broadcast ([[vertexProbe]], r19): both endpoint label
    // joins probe the broadcast map — the edge table never shuffles
    val probe = vertexProbe(l)
    val es = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .join(probe(l.select(col("vertex").as("src"), col("label").as("c_src"))), "src")
      .join(probe(l.select(col("vertex").as("dst"), col("label").as("c_dst"))), "dst")
    val perc = es.groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).cast("long").as("volume"),
        sum(when(col("c_src") =!= col("c_dst"), 1L).otherwise(0L))
          .cast("long").as("cut"))
      .localCheckpoint(true) // feeds the 2m total AND the output join
    val nv = l.groupBy(col("label").as("community"))
      .agg(count(lit(1)).cast("long").as("n_vertices"))
    val m2 = broadcast(perc.agg(sum("volume").cast("long").as("m2")))
    nv.join(perc, Seq("community")).crossJoin(m2)
      .withColumn("conductance",
        when(least(col("volume"), col("m2") - col("volume")) === 0L, lit(0.0))
          .otherwise(col("cut").cast("double") /
            least(col("volume"), col("m2") - col("volume")).cast("double")))
      .select("community", "n_vertices", "volume", "cut", "conductance")
      .orderBy("community")
  }

  /** Rich-club coefficient (Colizza et al. 2006, doi:10.1038/nphys209) per
    * degree threshold `k = 1..maxK`: with N_k = vertices of degree > k and
    * E_k = edges whose BOTH endpoints have degree > k,
    * `φ(k) = 2·E_k / (N_k·(N_k−1))` — how densely the hubs wire to each
    * other (organic webs stay sparse; spam farms and botnets light up).
    *
    * Scale shape: everything reduces to two bounded aggregates —
    *   1. degrees (one edge-keyed aggregate);
    *   2. each vertex EXPLODES into the thresholds it clears
    *      (`sequence(1, min(d−1, maxK))`) → groupBy(k) count gives every
    *      N_k in ONE pass, map-side combined to ≤ maxK rows/partition;
    *   3. each edge does the same on `min(deg_a, deg_b)` → every E_k.
    * No per-k rescans, no self-join on the histogram, no single-partition
    * window — shuffle traffic is ≤ maxK rows per partition regardless of
    * graph size. φ divides two exact BIGINTs (emitted unrounded).
    * Output: (k, n_rich, e_rich, phi) for k with N_k ≥ 2, ordered by k.
    */
  def richClub(pairs: DataFrame, maxK: Int = 32): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // feeds degrees AND the edge-threshold explode
    val deg = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("d"))
      .localCheckpoint(true) // feeds the vertex explode AND two edge joins
    val nK = deg.filter(col("d") >= 2)
      .select(explode(sequence(lit(1L), least(col("d") - 1, lit(maxK.toLong)))).as("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("n_rich"))
    val eK = p
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(least(col("da"), col("db")).as("m"))
      .filter(col("m") >= 2)
      .select(explode(sequence(lit(1L), least(col("m") - 1, lit(maxK.toLong)))).as("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("e_rich"))
    nK.filter(col("n_rich") >= 2)
      .join(eK, Seq("k"), "left")
      .withColumn("e_rich", coalesce(col("e_rich"), lit(0L)))
      .withColumn("phi",
        col("e_rich") * lit(2.0) / (col("n_rich") * (col("n_rich") - 1)))
      .select("k", "n_rich", "e_rich", "phi")
      .orderBy("k")
  }

  /** Local clustering coefficient per vertex over an undirected graph given
    * as CANONICAL pairs `(a, b)` with `a < b`, distinct: the fraction of a
    * vertex's neighbor pairs that are themselves connected,
    * `2·triangles(v) / (deg(v)·(deg(v)−1))` — the standard cohesion feature
    * for graph curation (spam rings score high, crawl frontiers low).
    *
    * Scale: reuses the [[triangleCounts]] two-join plan plus one degree
    * aggregate; the coefficient divides two exact integers, so the double
    * is bit-identical on any IEEE engine (emitted unrounded — see the
    * oracle-parity rule on raw-double rounding). Vertices with deg < 2
    * have no neighbor pair and are excluded. Output:
    * (vertex, degree, n_triangles, coeff) ordered.
    */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // scanned by the degree agg AND the orientation join
    val deg = pairDegrees(p)
      .localCheckpoint(true) // feeds the orientation AND the coefficient
    val o = orientByDegree(p, deg)
      .localCheckpoint(true) // feeds all three sides of the triangle join
    val tri = orientedTriangles(o, censusProbe(o),
        censusBloomPrune(o, Seq("u", "v")))
      .select(explode(array(col("u"), col("v"), col("w"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).cast("long").as("n_triangles"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("vertex"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coeff",
        col("n_triangles") * lit(2.0) / (col("degree") * (col("degree") - 1)))
      .select("vertex", "degree", "n_triangles", "coeff")
      .orderBy("vertex")
  }

  /** Link prediction by common-neighbor counting: for every NON-adjacent
    * vertex pair sharing ≥ `minCommon` neighbors, emit the common-neighbor
    * count and the neighborhood Jaccard
    * `|N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|)` — the classic
    * missing-edge candidates a recommender or knowledge-graph-completion
    * pipeline scores. Input: canonical undirected pairs `(a, b)`, a < b.
    *
    * Scale: one self-join of the (symmetrized) adjacency on the shared
    * middle vertex — the same wedge enumeration as [[triangleCounts]] —
    * then an anti-join against the edge set to keep non-edges only. Hot
    * hubs amplify the wedge join exactly as they do triangles; the
    * mitigation at web scale is a max-degree cap on middle vertices
    * (`maxMiddleDegree`, 0 = uncapped), which drops wedges through
    * celebrity hubs — the standard approximation (a shared neighbor of
    * degree 10⁶ carries no signal). Jaccard divides exact integers
    * (bit-identical double). Output: top `k` by (common desc, a, b).
    */
  def commonNeighborLinks(pairs: DataFrame, minCommon: Long = 2,
                          k: Int = 100, maxMiddleDegree: Long = 0L): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // feeds adjacency (2×), degrees, and the anti-join
    val adj = p.select(col("a").as("v"), col("b").as("w"))
      .unionAll(p.select(col("b").as("v"), col("a").as("w")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).cast("long").as("degree"))
    val mid =
      if (maxMiddleDegree <= 0) adj
      else adj.join(
        deg.filter(col("degree") <= maxMiddleDegree)
          .select(col("v").as("mid_ok")),
        col("w") === col("mid_ok"), "left_semi")
    val wedges = mid.select(col("v").as("a2"), col("w"))
      .join(mid.select(col("v").as("b2"), col("w")), "w")
      .filter(col("a2") < col("b2"))
      .groupBy(col("a2").as("a"), col("b2").as("b"))
      .agg(count(lit(1)).cast("long").as("common"))
    val nonEdges = wedges.join(p, Seq("a", "b"), "left_anti")
      .filter(col("common") >= minCommon)
    nonEdges
      .join(deg.select(col("v").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("degree").as("deg_b")), "b")
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("deg_a") + col("deg_b") - col("common")))
      .select("a", "b", "common", "jaccard")
      .orderBy(col("common").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for
    * every NON-adjacent pair, `RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)` —
    * common neighbors weighted inversely by their degree, so a selective
    * bridge vertex contributes more signal than a promiscuous hub (the
    * refinement over [[commonNeighborLinks]]' unweighted count, and the
    * better-calibrated score on co-occurrence graphs).
    *
    * The per-middle weight is EXACT fixed point — `⌊1e9 / deg(z)⌋` as
    * BIGINT — so the summed score is bit-identical cross-engine; the one
    * IEEE operation is the final constant rescale to `ra`, and ordering
    * is by the exact integer, never the double. Same wedge self-join +
    * edge anti-join shape as [[commonNeighborLinks]]: candidate
    * generation stays bounded by whatever guard produced `pairs`
    * upstream (basket cap), never all-pairs.
    */
  def resourceAllocationLinks(pairs: DataFrame, k: Int = 100): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // feeds adjacency (2×) and the anti-join
    val adj = p.select(col("a").as("v"), col("b").as("w"))
      .unionAll(p.select(col("b").as("v"), col("a").as("w")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).cast("long").as("degree"))
    // weight rides the MIDDLE vertex: join once, before the wedge join
    val mid = adj.join(
      deg.select(col("v").as("w"), expr("1000000000 DIV degree").as("rw")), "w")
    val wedges = mid.select(col("v").as("a2"), col("w"), col("rw"))
      .join(mid.select(col("v").as("b2"), col("w")), "w")
      .filter(col("a2") < col("b2"))
      .groupBy(col("a2").as("a"), col("b2").as("b"))
      .agg(count(lit(1)).cast("long").as("common"), sum("rw").as("ra_fp"))
    wedges.join(p, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common"), col("ra_fp"),
        (col("ra_fp").cast("double") / 1e9).as("ra"))
      .orderBy(col("ra_fp").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Maximal independent set by PARALLEL greedy priority — the
    * Blelloch/Fineman/Shun form of Luby's algorithm with one static
    * priority per vertex: each round, every undecided vertex whose
    * portable-hash priority is a LOCAL MINIMUM among its undecided
    * neighbors enters the set, its neighbors leave, and the rest go
    * again. With a fixed priority order this fixpoint computes EXACTLY
    * the sequential lexicographically-first greedy MIS — but in
    * O(log n) expected parallel rounds instead of n sequential steps,
    * which is what makes it runnable on a cluster (the MIS is the
    * classic diversity-sampling primitive: pick a maximal set of
    * pairwise non-adjacent documents from a similarity graph).
    *
    * Determinism: priority = md5Bits60("mis_" ‖ v), ties broken by
    * vertex id — both portable, so a SQL oracle can replay the rounds
    * verbatim. Each round is two semi/anti-joins plus a distinct on a
    * geometrically shrinking vertex set; per-round localCheckpoint
    * keeps lineage flat (Pregel discipline). The round count is
    * asserted against `maxRounds` so a non-converging input fails loud.
    *
    * Output: EVERY vertex with an `in_mis` 0/1 flag, totally ordered.
    */
  /** One MIS round's winner derivation (UNMATERIALIZED — the loop
    * checkpoints): v wins iff no UNDECIDED neighbor u has smaller
    * priority (h, id). One blocked-join over the current edge set + one
    * anti-join against the undecided set — no cartesian, no window.
    * Factored out so PlanSpec pins the production round body.
    */
  private[graft] def misWinners(und: DataFrame, edges: DataFrame,
                                probe: DataFrame => DataFrame = identity): DataFrame = {
    // probe = gated vertex broadcast ([[vertexProbe]], r19): the ≤V-row
    // undecided map broadcasts into both priority lookups and the blocked
    // anti-join, so the (shrinking) edge set never shuffles per round
    val eh = edges
      .join(probe(und.select(col("v"), col("h").as("hv"))), "v")
      .join(probe(und.select(col("v").as("u"), col("h").as("hu"))), "u")
    val blocked = eh.filter(col("hu") < col("hv") ||
        (col("hu") === col("hv") && col("u") < col("v")))
      .select("v").distinct()
    und.join(probe(blocked), Seq("v"), "left_anti").select("v")
  }

  /** Restrict the symmetric adjacency to edges whose BOTH endpoints are
    * still undecided — two semi-joins, so the per-round edge set SHRINKS
    * geometrically (the property that bounds MIS round cost).
    */
  private[graft] def misShrinkEdges(edges: DataFrame, und: DataFrame,
                                    probe: DataFrame => DataFrame = identity): DataFrame =
    edges
      .join(probe(und.select("v")), Seq("v"), "left_semi")
      .join(probe(und.select(col("v").as("u"))), Seq("u"), "left_semi")

  def maximalIndependentSet(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    val vertices = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
      .distinct().localCheckpoint(true)
    var und = vertices
      .withColumn("h", graft.functions.PortableHash.md5Bits60(
        concat_ws("_", lit("mis"), col("v"))))
      .localCheckpoint(true)
    var edges = p.select(col("a").as("v"), col("b").as("u"))
      .unionAll(p.select(col("b").as("v"), col("a").as("u")))
      .localCheckpoint(true) // symmetric adjacency, shrinks every round
    val probe = vertexProbe(und) // gate decided once — und only shrinks
    val winnersAcc = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 0
    var remaining = und.count()
    while (remaining > 0) {
      require(round < maxRounds, s"MIS did not converge in $maxRounds rounds")
      val winners = misWinners(und, edges, probe)
        .localCheckpoint(true) // feeds the accumulator AND two joins below
      winnersAcc += winners
      val losers = edges.join(probe(winners.select(col("v").as("u"))), Seq("u"))
        .select("v").distinct()
      val decided = winners.unionAll(losers)
      und = und.join(probe(decided), Seq("v"), "left_anti").localCheckpoint(true)
      edges = misShrinkEdges(edges, und, probe).localCheckpoint(true)
      remaining = und.count()
      round += 1
    }
    val inMis =
      if (winnersAcc.isEmpty) vertices.limit(0)
      else winnersAcc.reduce(_ unionAll _)
    vertices
      .join(inMis.withColumn("in_mis", lit(1L)), Seq("v"), "left_outer")
      .select(col("v").as("vertex"),
        coalesce(col("in_mis"), lit(0L)).as("in_mis"))
      .orderBy("vertex")
  }

  /** Greedy maximal MATCHING by parallel edge priority — the
    * [[maximalIndependentSet]] fixpoint lifted to the LINE graph (two
    * edges conflict iff they share an endpoint): each round, every
    * undecided edge whose portable-hash priority beats all adjacent
    * undecided edges enters the matching and evicts them. With a static
    * priority this equals the SEQUENTIAL greedy matching (a 1/2-approx
    * of maximum matching) in O(log m) expected parallel rounds — the
    * pairing primitive behind near-dup record merging, where each
    * document may be fused with at most ONE duplicate partner.
    *
    * Each round: one endpoint-explosion self-join on a shrinking edge
    * set + two anti-joins; per-round localCheckpoint keeps lineage flat.
    * Priority = md5Bits60("match_a_b") with (a, b) tiebreak — portable,
    * so the SQL oracle replays rounds verbatim. Output: matched edges.
    */
  def maximalMatching(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    var und = p.withColumn("h", graft.functions.PortableHash.md5Bits60(
        concat_ws("_", lit("match"), col("a"), col("b"))))
      .localCheckpoint(true)
    // gated broadcast ([[vertexProbe]], r19): the conflict self-join's
    // build side, the blocked set and the winner-endpoint set are all
    // bounded by the (shrinking) undecided edge set — probing them
    // broadcast keeps every per-round join map-side below the gate
    val probe = vertexProbe(und)
    val acc = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 0
    var remaining = und.count()
    while (remaining > 0) {
      require(round < maxRounds, s"matching did not converge in $maxRounds rounds")
      val ep = und.select(col("a").as("p"), col("a"), col("b"), col("h"))
        .unionAll(und.select(col("b").as("p"), col("a"), col("b"), col("h")))
        .localCheckpoint(true) // feeds both sides of the conflict join
      val blocked = ep
        .join(probe(ep.select(col("p"), col("a").as("a2"), col("b").as("b2"),
          col("h").as("h2"))), "p")
        .filter((col("a2") =!= col("a") || col("b2") =!= col("b")) &&
          (col("h2") < col("h") ||
            (col("h2") === col("h") && (col("a2") < col("a") ||
              (col("a2") === col("a") && col("b2") < col("b"))))))
        .select("a", "b").distinct()
      val winners = und.join(probe(blocked), Seq("a", "b"), "left_anti")
        .select("a", "b").localCheckpoint(true)
      acc += winners
      val wp = winners.select(col("a").as("p"))
        .unionAll(winners.select(col("b").as("p"))).distinct()
        .localCheckpoint(true) // feeds two anti-joins
      und = und
        .join(probe(wp.withColumnRenamed("p", "a")), Seq("a"), "left_anti")
        .join(probe(wp.withColumnRenamed("p", "b")), Seq("b"), "left_anti")
        .select(col("a"), col("b"), col("h"))
        .localCheckpoint(true)
      remaining = und.count()
      round += 1
    }
    if (acc.isEmpty) p.limit(0) else acc.reduce(_ unionAll _).orderBy("a", "b")
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge table —
    * the link-analysis complement of PageRank: authority = pointed-to by
    * good hubs, hub = points at good authorities. On a bipartite
    * part→supplier graph the two scores are the principal singular-vector
    * pair of the adjacency — the spectral ranking a curation pipeline uses
    * to score source quality. GraphX ships no HITS, so this builds it on
    * [[org.apache.spark.graphx.Graph.aggregateMessages]] — the same
    * co-partitioned vertex/edge representation as [[pageRank]], which
    * ships vertex attributes to statically-placed edge partitions instead
    * of re-shuffling the edge table twice per round the way a SQL
    * join-per-half-step plan does.
    *
    * Two structural choices keep the round cost minimal:
    *
    *   - the update is BILINEAR, so scalar normalization factors commute
    *     through it — normalize-every-round and normalize-at-the-end give
    *     the SAME direction. Rounds 1..iters-1 therefore run completely
    *     UNNORMALIZED: no per-round norm job, just two message passes.
    *     Each round is MATERIALIZED (two empty foreachPartition jobs) and
    *     the previous round's graph unpersisted immediately — the Pregel
    *     release discipline. The earlier all-lazy variant (no per-round
    *     action, all 2·iters graphs live until the final action) measured
    *     faster at toy scale but collapsed on the 10× soak: 20 cached
    *     graphs outgrew storage memory and eviction/GC thrash made
    *     aggregateMessages ~25× slower per edge. Live cache is now ≤ 2
    *     rounds at any instant, whatever iters or the graph size;
    *   - L2 normalization is applied exactly twice, on the final round:
    *     the last a iterate, then h computed FROM the normalized a —
    *     matching the textbook recurrence's final round up to float
    *     associativity.
    *
    * Unnormalized magnitudes stay in double range: iterate t scales as
    * σ₁^(2t) (σ₁ = top singular value, bounded by max degree), so 10
    * rounds overflow only past σ₁ ~ 1e15 — beyond any real graph's
    * degree. Initial h = 1 on EVERY vertex is equivalent to 1-on-sources:
    * a sink's h is never read by the auth message pass (messages flow
    * src→dst), and sinks' h output is recomputed in the final round.
    *
    * Scores are double sums (summation-order jitter) — callers round,
    * like [[pageRank]]. Output: (vertex, hub, auth) for all vertices.
    */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val eRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      // vertex attr = (h, a); each round materialized, previous released
      var g = Graph.fromEdges(eRdd, (1.0, 0.0),
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      for (_ <- 1 until iters) {
        val aMsg = g.aggregateMessages[Double](
          ctx => ctx.sendToDst(ctx.srcAttr._1), _ + _)
        val gA = g.outerJoinVertices(aMsg)(
          (_, attr, ao) => (attr._1, ao.getOrElse(0.0)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val gNew = gA.outerJoinVertices(gA.aggregateMessages[Double](
            ctx => ctx.sendToSrc(ctx.dstAttr._2), _ + _))(
          (_, attr, ho) => (ho.getOrElse(0.0), attr._2))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // materialize the shipped-attr edges (which pulls the vertices
        // through — both land in THIS graph's cache) so gNew is
        // self-sufficient, then release everything this round consumed
        gNew.edges.foreachPartition(_ => ())
        g.unpersistVertices(blocking = false)
        g.edges.unpersist(blocking = false)
        gA.unpersistVertices(blocking = false)
        gA.edges.unpersist(blocking = false)
        g = gNew
      }
      // final round: materialize a once, L2-normalize, then h from â
      val aMsg = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1), _ + _)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val an = math.sqrt(aMsg.values.map(x => x * x).sum())
      val gA = g.outerJoinVertices(aMsg)(
        (_, attr, ao) => (attr._1, ao.getOrElse(0.0) / an))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hMsg = gA.aggregateMessages[Double](
        ctx => ctx.sendToSrc(ctx.dstAttr._2), _ + _)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hn = math.sqrt(hMsg.values.map(x => x * x).sum())
      val out = gA.outerJoinVertices(hMsg)(
        (_, attr, ho) => (ho.getOrElse(0.0) / hn, attr._2))
      out.vertices.map { case (v, (h, a)) => (v, h, a) }
        .toDF("vertex", "h", "a")
    }
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of the
    * degrees at the two ends of every edge — one scalar summarizing whether
    * hubs attach to hubs (r > 0, social-network shape) or to leaves
    * (r < 0, hub-and-spoke/web shape). A standard corpus-graph health
    * feature: a spam-farm co-link graph is strongly assortative, organic
    * link graphs disassortative. Input: canonical undirected pairs
    * `(a, b)`, a < b, distinct.
    *
    * Cross-engine determinism: every moment (Σx, Σxy, Σx², over the 2m
    * directed edge ends) is an exact BIGINT — each undirected pair
    * contributes symmetrically, so Σx = Σy and Σx² = Σy² and one pass over
    * the pairs with `deg_a + deg_b` / `2·deg_a·deg_b` / `deg_a² + deg_b²`
    * computes all of them. The final
    * `r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²)·(n·Σy² − Σy²))` is then a
    * fixed tree of IEEE ops on exact integers — bit-identical on any
    * engine, emitted unrounded. Scale: one degree aggregate + one
    * broadcast-sized join + a global aggregate; no quadratic term.
    * Output: one row (n_edges, n_vertices, assortativity).
    */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(true) // feeds the degree aggregate AND the moment pass
    val deg = p.select(col("a").as("vertex"))
      .unionAll(p.select(col("b").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).cast("long").as("degree"))
    val withDeg = p
      .join(deg.select(col("vertex").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("vertex").as("b"), col("degree").as("db")), "b")
    withDeg
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("da") + col("db")).cast("long").as("sx"),
        sum(col("da") * col("db") * 2).cast("long").as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).cast("long").as("sxx"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).cast("long").as("n_vertices"))))
      .select(col("m").as("n_edges"), col("n_vertices"),
        ((col("m") * 2 * col("sxy") - col("sx") * col("sx")).cast("double") /
          (col("m") * 2 * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  /** BOTTOM-UP subtree aggregation — the reverse of the BFS family's
    * top-down flow: descendant counts per vertex on a DAG-forest, by
    * iterating `cnt(v) ← Σ_children (1 + cnt(child))` until no vertex
    * changes (depth-many rounds; on a tree the fixpoint is exactly the
    * subtree size). The hierarchical-rollup shape (org charts, category
    * trees, sampled betweenness on trees) — one join + one aggregate per
    * round, leaf-ward levels settle first.
    * Output: (vertex, n_desc) ordered, isolated/leaf vertices at 0.
    */
  def subtreeSizes(edges: DataFrame, maxRounds: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    ownedGraphResult(spark) {
      val e = edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .localCheckpoint(true)
      val vertices = e.select(col("src").as("vertex"))
        .unionAll(e.select(col("dst").as("vertex")))
        .distinct().localCheckpoint(true)
      var cnt = vertices.withColumn("n_desc", lit(0L)).localCheckpoint(true)
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val fromChildren = e.join(cnt, e("dst") === cnt("vertex"))
          .groupBy(col("src").as("vertex"))
          .agg(sum(col("n_desc") + 1).as("nd"))
        val next = vertices.join(fromChildren, Seq("vertex"), "left")
          .select(col("vertex"), coalesce(col("nd"), lit(0L)).cast("long").as("n_desc"))
          .localCheckpoint(true)
        converged = next.join(cnt, Seq("vertex", "n_desc"), "left_anti").isEmpty
        cnt = next
        round += 1
      }
      cnt
    }.orderBy("vertex")
  }

  /** Connected components via GraphX (label = min vertex id in component).
    * Isolated vertices are kept by passing the full vertex set explicitly.
    */
  /** Strongly connected components of a DIRECTED graph — GraphX's
    * Pregel-based peel-and-color implementation (the published
    * distributed SCC recipe: iteratively trim trivial vertices, color by
    * min-id forward propagation, confirm colors by backward reachability
    * within the color class, peel confirmed SCCs — the FW-BW/coloring
    * family of Orzan and Slota–Madduri), which labels every vertex with
    * the smallest vertex id of its SCC. Composing the platform's
    * operator is deliberate (SURVEY preference order: existing op before
    * custom plan): it already carries the Pregel checkpoint/unpersist
    * discipline at scale. `numIter` caps the outer peel rounds; every
    * round confirms at least one SCC (each color root's), so
    * numIter = |V| is provably sufficient and the loop exits early on
    * real graphs (cycle-rich graphs converge in a handful of rounds).
    * Output: (vertex, scc) ordered.
    */
  def stronglyConnectedComponents(edges: DataFrame, numIter: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ownedGraphResult(spark) {
      val eRdd: RDD[Edge[Int]] = edges
        .select(col("src").cast("long"), col("dst").cast("long")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val g = Graph.fromEdges(eRdd, 0L,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      g.stronglyConnectedComponents(numIter).vertices
        .map { case (v, c) => (v, c) }
        .toDF("vertex", "scc")
    }.orderBy("vertex")
  }

  /** `ordered = false` skips the final total sort (a range-partition
    * shuffle + sampling pass) — for callers that feed the labeling into
    * a join rather than shipping it (e.g. the streaming contraction
    * merge map).
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          ordered: Boolean = true): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cc = ownedGraphResult(spark) {
      val vRdd: RDD[(VertexId, Long)] =
        vertices.select(col("vertex").cast("long")).rdd.map(r => (r.getLong(0), r.getLong(0)))
      val eRdd: RDD[Edge[Int]] = edges.select("src", "dst").rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      val g = Graph(vRdd, eRdd, 0L,
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      val cc = g.connectedComponents()
      cc.vertices.map { case (v, c) => (v, c) }
        .toDF("vertex", "component")
    }
    if (ordered) cc.orderBy("vertex") else cc
  }
}
