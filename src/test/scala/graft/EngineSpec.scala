package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine._
import graft.graph.{GraphCatalog, GraphNotFoundException}
import graft.model._
import SparkTestSession._

/** End-to-end session replay — the `inp.txt`-equivalent lifecycle of
  * SURVEY.md §3/§5.2(5): add G1/G2/G3, modify G2, traverse, and the
  * out-of-range start-vertex probe that is UB in the reference.
  */
class EngineSpec extends AnyFunSuite {

  private def freshEngine(
      dir: String = java.nio.file.Files.createTempDirectory("graft_engine_").toString): GraphEngine =
    new GraphEngine(spark, new GraphCatalog(spark, dir))

  // The reference's live fixtures (FIXTURES.md §2) as session-script text.
  private val script =
    """1
      |1
      |G1.txt
      |5
      |0 1 0 0 0
      |1 0 1 0 0
      |0 1 0 1 0
      |0 0 1 0 1
      |0 0 0 1 0
      |2
      |1
      |G2.txt
      |2
      |0 1
      |1 0
      |3
      |1
      |G3.txt
      |5
      |0 1 0 0 0
      |1 0 1 1 1
      |0 1 0 0 0
      |0 1 0 0 0
      |0 1 0 0 0
      |4
      |2
      |G2.txt
      |3
      |0 1 0
      |1 0 1
      |0 1 0
      |5
      |3
      |G3.txt
      |3
      |6
      |4
      |G3.txt
      |0
      |""".stripMargin.linesIterator.toSeq

  test("inp.txt-style session: adds, modify, DFS, and a clean out-of-range error") {
    val engine = freshEngine()
    val rs = SessionScript.replay(spark, engine, script)
    assert(rs.length == 6)
    // three adds + one modify succeed with the reference's response strings
    assert(rs(0).toOption.get.message == "File successfully added")
    assert(rs(2).toOption.get.message == "File successfully added")
    assert(rs(3).toOption.get.message == "File successfully modified")
    // routing: seq 5 op 3 is a read with odd seq → secondary_2 (parity rule)
    assert(rs(4).toOption.get.worker == Worker.Secondary2)
    // DFS G3 (star centered at 2) from 3: leaves = deg-1 vertices minus root
    val leaves = rs(4).toOption.get.result.get.collect().map(_.getLong(0)).toSet
    assert(leaves == Set(1L, 4L, 5L))
    // BFS from start vertex 0: typed error, not adj[-1] UB
    assert(rs(5).isLeft)
    assert(rs(5).swap.toOption.get.isInstanceOf[IllegalArgumentException])
  }

  test("the reference's shipped inp.txt replays end-to-end verbatim") {
    val path = java.nio.file.Paths.get("/root/reference/inp.txt")
    assume(java.nio.file.Files.exists(path), "reference checkout not present")
    import scala.jdk.CollectionConverters._
    val rs = SessionScript.replay(spark, freshEngine(),
      java.nio.file.Files.readAllLines(path).asScala.toSeq)
    assert(rs.length == 6)
    // adds G1(5-path), G2(2), G3(5-star); modifies G2 to a 3-path
    assert(rs.take(3).forall(_.toOption.exists(_.message == "File successfully added")))
    assert(rs(3).toOption.get.message == "File successfully modified")
    // request 5: DFS G3 from 3 → leaves of the star rooted at 3
    assert(rs(4).toOption.get.result.get.collect().map(_.getLong(0)).toSet
      == Set(1L, 4L, 5L))
    // request 6: BFS G3 from 0 — the reference's out-of-range probe
    // (would index adj[-1], secondary_server.c:242) → typed error here
    assert(rs(5).isLeft)
  }

  test("modify before add fails with GraphNotFound (add-before-read rule)") {
    val engine = freshEngine()
    val edges = undirected((1, 2))
    assertThrows[GraphNotFoundException] {
      engine.execute(GraphRequest(1, Op.ModifyGraph, "GX.txt"), GraphPayload(edges))
    }
  }

  test("read-after-modify sees the new snapshot (A9 immutable-snapshot model)") {
    val engine = freshEngine()
    engine.execute(GraphRequest(1, Op.AddGraph, "G9.txt"), GraphPayload(undirected((1, 2))))
    val bfs1 = engine.execute(GraphRequest(2, Op.BfsLevels, "G9.txt"), StartVertex(1))
    assert(bfs1.result.get.count() == 2)
    engine.execute(GraphRequest(3, Op.ModifyGraph, "G9.txt"),
      GraphPayload(undirected((1, 2), (2, 3), (3, 4))))
    val bfs2 = engine.execute(GraphRequest(4, Op.BfsLevels, "G9.txt"), StartVertex(1))
    assert(bfs2.result.get.count() == 4)
  }

  test("modify creates a new snapshot version; old version survives until vacuum") {
    val engine = freshEngine()
    engine.execute(GraphRequest(1, Op.AddGraph, "GV.txt"), GraphPayload(undirected((1, 2))))
    // hold a reference to the OLD snapshot before modifying
    val oldSnapshot = engine.catalog.load("GV.txt")
    engine.execute(GraphRequest(2, Op.ModifyGraph, "GV.txt"),
      GraphPayload(undirected((1, 2), (2, 3))))
    // reader of the old snapshot still sees its files (no delete-then-write)
    assert(oldSnapshot.count() == 2)
    assert(engine.catalog.load("GV.txt").count() == 4)
    engine.catalog.vacuum("GV.txt")
    assert(engine.catalog.load("GV.txt").count() == 4) // newest kept
  }

  test("MVCC: reader stays stable through concurrent modify + vacuum(keep=1)") {
    val engine = freshEngine()
    engine.execute(GraphRequest(1, Op.AddGraph, "GC.txt"), GraphPayload(undirected((1, 2))))
    engine.execute(GraphRequest(2, Op.ModifyGraph, "GC.txt"),
      GraphPayload(undirected((1, 2), (2, 3))))
    // reader takes the CURRENT (latest-complete) snapshot: v2, 4 rows
    val reader = engine.catalog.load("GC.txt")
    assert(reader.count() == 4)
    // a writer races in: two more versions land while the reader is live
    engine.execute(GraphRequest(3, Op.ModifyGraph, "GC.txt"),
      GraphPayload(undirected((1, 2), (2, 3), (3, 4))))
    assert(reader.count() == 4) // still v2 — writes never touch old versions
    engine.execute(GraphRequest(4, Op.ModifyGraph, "GC.txt"),
      GraphPayload(undirected((1, 2), (2, 3), (3, 4), (4, 5))))
    assert(reader.count() == 4)
    // vacuum retains the newest version only; a reader that re-loads sees it
    engine.catalog.vacuum("GC.txt", keep = 1)
    assert(engine.catalog.load("GC.txt").count() == 8)
    // the documented retention contract: vacuum is the caller's policy and
    // must not run while readers hold superseded snapshots — a stale
    // reader's files are gone (typed failure, not silent wrong results)
    assertThrows[Exception] { reader.count() }
  }

  test("time travel: any retained version stays queryable; vacuum trims the list") {
    val engine = freshEngine()
    engine.execute(GraphRequest(1, Op.AddGraph, "GT.txt"), GraphPayload(undirected((1, 2))))
    engine.execute(GraphRequest(2, Op.ModifyGraph, "GT.txt"),
      GraphPayload(undirected((1, 2), (2, 3))))
    assert(engine.catalog.versions("GT.txt") == Seq(1L, 2L))
    assert(engine.catalog.load("GT.txt", 1L).count() == 2)
    assert(engine.catalog.load("GT.txt", 2L).count() == 4)
    assertThrows[GraphNotFoundException] { engine.catalog.load("GT.txt", 9L) }
    engine.catalog.vacuum("GT.txt", keep = 1)
    assert(engine.catalog.versions("GT.txt") == Seq(2L))
    assertThrows[GraphNotFoundException] { engine.catalog.load("GT.txt", 1L) }
  }

  test("duplicate add fails; response tags follow seq_no + 100") {
    val engine = freshEngine()
    val r = engine.execute(GraphRequest(42, Op.AddGraph, "G7.txt"),
      GraphPayload(undirected((1, 2))))
    assert(r.responseTag == 142)
    assertThrows[graft.graph.GraphAlreadyExistsException] {
      engine.execute(GraphRequest(43, Op.AddGraph, "G7.txt"), GraphPayload(undirected((1, 2))))
    }
  }

  test("importMatrixDir migrates a reference database directory wholesale") {
    val engine = freshEngine()
    val dbDir = java.nio.file.Files.createTempDirectory("graft_refdb_").toString
    // two reference-format graph files + a non-matching file that must be skipped
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dbDir/G1.txt"),
      "3\n0 1 0\n1 0 1\n0 1 0\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dbDir/G12.txt"),
      "2\n0 1\n1 0\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dbDir/notes.txt"), "x")
    val imported = engine.catalog.importMatrixDir(dbDir)
    assert(imported == Seq("G1", "G12"))
    assert(engine.catalog.load("G1").count() == 4)  // 2 undirected edges
    assert(engine.catalog.load("G12").count() == 2)
    // re-import = modify (new snapshot version), not failure
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dbDir/G12.txt"),
      "3\n0 1 1\n1 0 0\n1 0 0\n")
    engine.catalog.importMatrixDir(dbDir)
    assert(engine.catalog.load("G12").count() == 4)
  }

  test("concurrent graph queries under FAIR pools: correct results, no persisted-RDD leak") {
    // The reference's core semantic is thread-per-request concurrency
    // (secondary_server.c:376): many graph queries in flight at once. This
    // races 8 queries across 4 FAIR pools and checks (a) every racing
    // result equals its serial baseline, and (b) ownedGraphResult's
    // cleanup released every intermediate — one query's sweep must NOT
    // release another in-flight query's fresh persists or its result.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import graft.graph.GraphOps
    val sc = spark.sparkContext
    val edges = undirected((1, 2), (1, 4), (2, 5), (2, 7), (3, 4), (6, 7))
    def runOne(kind: Int): Seq[String] = {
      val df = (kind % 4) match {
        case 0 => GraphOps.pageRank(edges, iters = 3)
            .selectExpr("vertex", "round(rank, 6) as r")
        case 1 => GraphOps.bfsLevelsPregel(edges, 1L)
        case 2 => GraphOps.hits(edges, iters = 5)
            .selectExpr("vertex", "round(h, 6) as h", "round(a, 6) as a")
        case _ => GraphOps.labelPropagation(edges, maxRounds = 5)
      }
      df.collect().map(_.toString).toSeq.sorted
    }
    val baselines = (0 to 3).map(runOne)
    val before = sc.getPersistentRDDs.keySet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futs = (0 until 8).map { i =>
        Future {
          sc.setLocalProperty("spark.scheduler.pool", s"q${i % 4}")
          try i -> runOne(i) finally sc.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      val results = Await.result(Future.sequence(futs), 5.minutes)
      for ((i, got) <- results)
        assert(got == baselines(i % 4), s"racing query $i diverged from its serial baseline")
    } finally pool.shutdown()
    // every intermediate must be gone; at most one result-backing
    // checkpoint RDD per racing query may remain until its reference drops
    val extra = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
    assert(extra.size <= 8, s"concurrent sweep leaked intermediates: $extra")
  }

  test("small-graph reads: one Spark job on the driver path; threshold -1 takes the distributed path with the same rows and errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_engine_").toString
    val engine = freshEngine(dir)
    engine.execute(GraphRequest(1, Op.AddGraph, "GS.txt"),
      GraphPayload(undirected((1, 2), (2, 3), (2, 4), (4, 5))))
    def readOn(e: GraphEngine)(seq: Long, op: Op, v: Long) =
      e.execute(GraphRequest(seq, op, "GS.txt"), StartVertex(v)).result.get.collect().toSeq
    val read = readOn(engine) _
    var bfs, dfs = Seq.empty[org.apache.spark.sql.Row]
    // the add wrote the version through to the read cache
    assert(jobsIn("engine-bfs-written-through") { bfs = read(2, Op.BfsLevels, 2) } == 0)
    // a second catalog over the same directory starts cold: its first read
    // collects the version, its reads after that run none
    val cold = readOn(freshEngine(dir)) _
    assert(jobsIn("engine-bfs-local") { assert(cold(2, Op.BfsLevels, 2) == bfs) } == 1)
    assert(jobsIn("engine-dfs-local") { dfs = cold(3, Op.DfsLeaves, 2) } == 0)
    assert(jobsIn("engine-bfs-cached") { assert(cold(3, Op.BfsLevels, 2) == bfs) } == 0)
    assert(jobsIn("engine-dfs-written-through") { assert(read(3, Op.DfsLeaves, 2) == dfs) } == 0)
    assert(bfs.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((2L, 0L), (1L, 1L), (3L, 1L), (4L, 1L), (5L, 2L)))
    assert(dfs.map(_.getLong(0)) == Seq(1L, 3L, 5L))
    // start vertex 0, an absent vertex, a missing graph
    val bad = Seq((Op.BfsLevels, "GS.txt", 0L), (Op.DfsLeaves, "GS.txt", 0L),
      (Op.BfsLevels, "GS.txt", 9L), (Op.DfsLeaves, "GS.txt", 9L), (Op.DfsLeaves, "GX.txt", 1L))
    def failures() = bad.map { case (op, name, v) =>
      val e = scala.util.Try(engine.execute(GraphRequest(6, op, name), StartVertex(v))).failed.get
      (e.getClass, e.getMessage)
    }
    val localFailures = failures()
    assert(localFailures.map(_._1) ==
      Seq.fill(4)(classOf[IllegalArgumentException]) :+ classOf[GraphNotFoundException])
    assert(localFailures(2)._2 == "start vertex 9 not in graph 'GS.txt' (reference would index adj[8])")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      assert(jobsIn("engine-bfs-distributed") { assert(read(4, Op.BfsLevels, 2) == bfs) } > 1)
      assert(read(5, Op.DfsLeaves, 2) == dfs)
      assert(failures() == localFailures)
    } finally spark.conf.set(key, prev)
  }

  test("driver read cache: reads follow modify, and dropAll plus a re-add of the name") {
    val engine = freshEngine()
    def add(edges: org.apache.spark.sql.DataFrame) =
      engine.execute(GraphRequest(1, Op.AddGraph, "GR.txt"), GraphPayload(edges))
    def bfs() = engine.execute(GraphRequest(2, Op.BfsLevels, "GR.txt"), StartVertex(1))
      .result.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    add(undirected((1, 2), (2, 3)))
    assert(bfs() == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    engine.execute(GraphRequest(3, Op.ModifyGraph, "GR.txt"),
      GraphPayload(undirected((1, 2), (1, 3), (3, 4))))
    assert(bfs() == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)))
    // the same name re-created at the same version path
    engine.catalog.dropAll()
    add(undirected((1, 5)))
    assert(engine.catalog.versions("GR.txt") == Seq(1L))
    assert(bfs() == Seq((1L, 0L), (5L, 1L)))
  }

  test("driver read cache: entries' sizes stay under the broadcast threshold, least recently used evicted") {
    val engine = freshEngine()
    engine.execute(GraphRequest(1, Op.AddGraph, "GA.txt"), GraphPayload(undirected((1, 2))))
    engine.execute(GraphRequest(2, Op.AddGraph, "GB.txt"), GraphPayload(undirected((1, 3))))
    def size(name: String) =
      engine.catalog.load(name).queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val tags = Iterator.from(1)
    def read(name: String) = jobsIn(s"engine-lru-${tags.next()}") {
      engine.execute(GraphRequest(3, Op.DfsLeaves, name), StartVertex(1)).result.get.collect()
      ()
    }
    // the adds wrote both through
    assert(Seq(read("GA.txt"), read("GB.txt")) == Seq(0, 0))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // room for either graph, not for both
    spark.conf.set(key, (size("GA.txt") + size("GB.txt") - 1).toString)
    try assert(Seq(read("GA.txt"), read("GB.txt"), read("GA.txt")) == Seq(1, 1, 1))
    finally spark.conf.set(key, prev)
    assert(Seq(read("GA.txt"), read("GB.txt"), read("GA.txt")) == Seq(0, 1, 0))
  }

  test("engine writes: add and modify run no Spark job; threshold -1 takes the Spark write with the same rows") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    /** Jobs of an add and a modify, and `load`'s rows after each. */
    def writes(tag: String) = {
      val engine = freshEngine()
      def rows() = engine.catalog.load("GW.txt").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val add = jobsIn(s"$tag-add") {
        engine.execute(GraphRequest(1, Op.AddGraph, "GW.txt"), GraphPayload(undirected((1, 2), (2, 3))))
      }
      val added = rows()
      val modify = jobsIn(s"$tag-modify") {
        engine.execute(GraphRequest(2, Op.ModifyGraph, "GW.txt"), GraphPayload(MatrixCodec.edgesDF(spark,
          MatrixCodec.parseMatrixText("3\n0 1 1\n1 0 0\n1 0 0")._2)))
      }
      (add, modify, added, rows())
    }
    val (add, modify, added, modified) = writes("engine-write-driver")
    assert((add, modify) == (0, 0))
    assert(added == Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    assert(modified == Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)))
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val (sparkAdd, sparkModify, sparkAdded, sparkModified) = writes("engine-write-spark")
      assert(sparkAdd >= 1 && sparkModify >= 1)
      assert((sparkAdded, sparkModified) == (added, modified))
    } finally spark.conf.set(key, prev)
  }
}
