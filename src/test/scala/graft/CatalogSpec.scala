package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphAlreadyExistsException, GraphCatalog}
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

  private def edges(cat: GraphCatalog, name: String): Set[(Long, Long)] =
    cat.load(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

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
}
