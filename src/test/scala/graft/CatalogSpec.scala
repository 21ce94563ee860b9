package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphAlreadyExistsException, GraphCatalog, GraphOps}
import SparkTestSession._

/** The catalog's commit protocol: writes stage under `_staging-<uuid>` and
  * publish by a no-overwrite rename to the next free number under a
  * per-graph writer lock — the reference's writer semaphore
  * (`primary_server.c:138-153`).
  */
class CatalogSpec extends AnyFunSuite {

  private def fresh(): (GraphCatalog, JPath) = {
    val dir = Files.createTempDirectory("graft_catalog_")
    (new GraphCatalog(spark, dir.toString), dir)
  }

  private def edges(cat: GraphCatalog, name: String): Set[(Long, Long)] = pairs(cat.load(name))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** BFS from `start` over the latest version on the driver path. */
  private def localBfs(cat: GraphCatalog, name: String, start: Long): Seq[Row] =
    GraphOps.bfsLevelsLocal(cat.latestForTraversal(name).toOption.get, start).collect().toSeq

  /** Runs `calls` on as many threads, released together; returns each
    * call's outcome in order.
    */
  private def race(calls: Seq[() => Unit]): Seq[Either[Throwable, Unit]] = {
    val pool = Executors.newFixedThreadPool(calls.length)
    val barrier = new CyclicBarrier(calls.length)
    try {
      val futures = calls.map(c => pool.submit(() =>
        scala.util.Try { barrier.await(); c() }.toEither))
      futures.map(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
  }

  test("a crashed write's numbered directory does not block later writes") {
    val (cat, dir) = fresh()
    cat.add("G", undirected((1, 2)))
    // a writer died after creating v000002 and a part file, before _SUCCESS
    val crashed = Files.createDirectories(dir.resolve("G/v000002"))
    Files.list(dir.resolve("G/v000001")).filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(p => Files.copy(p, crashed.resolve(p.getFileName)))
    assert(cat.versions("G") == Seq(1L))
    cat.modify("G", undirected((1, 2), (2, 3)))
    assert(cat.versions("G") == Seq(1L, 3L))
    assert(edges(cat, "G") == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("concurrent writers: six modifies publish six versions; of two adds exactly one wins") {
    val (cat, _) = fresh()
    cat.add("G", undirected((1, 2)))
    val modifies = race((1 to 6).map(k => () => cat.modify("G", undirected((1, 2 + k)))))
    assert(modifies.forall(_.isRight), s"modify failures: ${modifies.collect { case Left(e) => e }}")
    assert(cat.versions("G") == (1L to 7L))
    // whatever order the six write-through entries landed in, reads see v7
    assert(localBfs(cat, "G", 1) == GraphOps.bfsLevels(cat.load("G", 7L), 1).collect().toSeq)
    val adds = race(Seq(() => cat.add("H", undirected((1, 2))), () => cat.add("H", undirected((1, 3)))))
    assert(adds.count(_.isRight) == 1)
    assert(adds.collect { case Left(e) => e.getClass } == Seq(classOf[GraphAlreadyExistsException]))
    assert(cat.versions("H") == Seq(1L))
  }

  test("a concurrent modify and modifyDelta get distinct version numbers") {
    val (cat, dir) = fresh()
    cat.add("G", undirected((1, 2)))
    val outcomes = race(Seq(() => cat.modify("G", undirected((1, 2), (2, 3))),
      () => cat.modifyDelta("G", undirected((3, 4)))))
    assert(outcomes.forall(_.isRight))
    assert(cat.versions("G") == Seq(1L, 2L, 3L))
    val names = dir.resolve("G").toFile.list().toSeq
    assert(names.filter(n => n.startsWith("v") || n.startsWith("d")).map(_.drop(1)).sorted ==
      Seq("000001", "000002", "000003"))
  }

  test("a leftover staging directory is invisible to readers and removed by vacuum") {
    val (cat, dir) = fresh()
    cat.add("G", undirected((1, 2)))
    // an unpublished write: complete files under a staging name
    undirected((7, 8)).write.parquet(dir.resolve("G/_staging-leftover").toString)
    assert(cat.versions("G") == Seq(1L))
    assert(edges(cat, "G") == Set((1L, 2L), (2L, 1L)))
    cat.vacuum("G")
    assert(!Files.exists(dir.resolve("G/_staging-leftover")))
    assert(edges(cat, "G") == Set((1L, 2L), (2L, 1L)))
  }

  test("the local rename refuses a taken, non-empty target and leaves both directories intact") {
    val (cat, dir) = fresh()
    def dirWith(name: String, file: String) = {
      val d = Files.createDirectories(dir.resolve(name))
      Files.writeString(d.resolve(file), name)
      d
    }
    val (src, taken) = (dirWith("src", "a"), dirWith("taken", "b"))
    assert(!cat.moveNew(new Path(src.toUri), new Path(taken.toUri)))
    assert(Files.readString(src.resolve("a")) == "src" && Files.list(src).count() == 1)
    assert(Files.readString(taken.resolve("b")) == "taken" && Files.list(taken).count() == 1)
    val free = dir.resolve("free")
    assert(cat.moveNew(new Path(src.toUri), new Path(free.toUri)))
    assert(!Files.exists(src) && Files.readString(free.resolve("a")) == "src")
  }

  test("a driver-written version is indistinguishable to every reader") {
    val (cat, dir) = fresh()
    cat.add("G", undirected((1, 2)))
    cat.modify("G", undirected((1, 2), (2, 3)))
    val dataFiles = dir.resolve("G/v000002").toFile.list().filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(dataFiles.toSeq == Seq("part-00000.parquet"))
    val v1 = Set((1L, 2L), (2L, 1L))
    val v2 = v1 ++ Set((2L, 3L), (3L, 2L))
    assert(edges(cat, "G") == v2)
    assert(pairs(cat.load("G", 1L)) == v1)
    val inferred = spark.read.parquet(dir.resolve("G/v000002").toString)
    assert(inferred.schema == StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    assert(pairs(inferred) == v2)
    // a delta chain on top of it, compacted, then vacuumed
    cat.modifyDelta("G", undirected((3, 4)), assertDisjoint = true)
    cat.modifyDelta("G", undirected((4, 5)), assertDisjoint = true)
    val chained = v2 ++ Set((3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L))
    assert(edges(cat, "G") == chained)
    cat.compact("G")
    assert(cat.versions("G") == Seq(5L) && edges(cat, "G") == chained)
    cat.vacuum("G")
    assert(cat.versions("G") == Seq(5L) && edges(cat, "G") == chained)
  }

  test("a null endpoint round-trips through a driver write, with the distributed path's BFS rows") {
    val (cat, _) = fresh()
    val nullable = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    val rows = Seq(Row(1L, 2L), Row(2L, 1L), Row(2L, null), Row(null, 3L))
    def withNull() = spark.createDataFrame(java.util.Arrays.asList(rows: _*), nullable)
    def asSeq(df: DataFrame) = df.collect().toSeq.map(r => (Option(r.get(0)), Option(r.get(1))))
    cat.add("N", withNull())
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // the Spark write
    try cat.add("S", withNull()) finally spark.conf.set(key, prev)
    val expected = asSeq(withNull()).sortBy(_.toString)
    assert(asSeq(cat.load("N")).sortBy(_.toString) == expected)
    assert(asSeq(cat.load("S")).sortBy(_.toString) == expected)
    val distributed = GraphOps.bfsLevels(cat.load("S"), 1).collect().toSeq
    assert(distributed.exists(_.isNullAt(0)))
    assert(localBfs(cat, "N", 1) == distributed)
  }

  test("a bucketed catalog writes a local payload through Spark and registers its bucketed table") {
    val dir = Files.createTempDirectory("graft_catalog_")
    val cat = new GraphCatalog(spark, dir.toString, buckets = Some(4))
    try {
      cat.add("B", undirected((1, 2), (2, 3)))
      val table = cat.load("B").queryExecution.analyzed.collectFirst {
        case r: LogicalRelation => r.catalogTable
      }.flatten
      assert(table.flatMap(_.bucketSpec).map(b => (b.numBuckets, b.bucketColumnNames)) ==
        Some((4, Seq("src"))))
      assert(edges(cat, "B") == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    } finally cat.dropAll()
  }
}
