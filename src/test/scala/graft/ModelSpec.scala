package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

class ModelSpec extends AnyFunSuite {

  test("parseRequest round-trips the reference protocol string") {
    val r = RequestParser.parse("5 3 G3.txt")
    assert(r == GraphRequest(5, Op.DfsLeaves, "G3.txt"))
    assert(r.responseTag == 105) // mtype = seq_no + 100 (primary_server.c:173)
  }

  test("parseRequest rejects malformed input (unlike the reference's unchecked scanf)") {
    assertThrows[IllegalArgumentException](RequestParser.parse("1 9 G1.txt"))
    assertThrows[IllegalArgumentException](RequestParser.parse("nope"))
    assertThrows[IllegalArgumentException](RequestParser.parse("0 1 G1.txt"))
  }

  test("router truth table matches load_balancer.c:59-70") {
    // writes → primary regardless of seq parity
    assert(Router.route(1, 1) == Worker.Primary)
    assert(Router.route(2, 2) == Worker.Primary)
    // reads → parity hash on seq_no
    assert(Router.route(2, 3) == Worker.Secondary1)
    assert(Router.route(5, 3) == Worker.Secondary2)
    assert(Router.route(6, 4) == Worker.Secondary1)
    assert(Router.route(7, 4) == Worker.Secondary2)
  }

  // Live fixtures re-encoded per FIXTURES.md §2.
  private val g1Text = // 5-node path 1-2-3-4-5 (reference G1.txt)
    """5
      |0 1 0 0 0
      |1 0 1 0 0
      |0 1 0 1 0
      |0 0 1 0 1
      |0 0 0 1 0""".stripMargin
  private val g3Text = // 5-node star centered at 2 (reference G3.txt)
    """5
      |0 1 0 0 0
      |1 0 1 1 1
      |0 1 0 0 0
      |0 1 0 0 0
      |0 1 0 0 0""".stripMargin

  test("matrix codec parses symmetric matrices into both-direction edge lists") {
    val (n, edges) = MatrixCodec.parseMatrixText(g1Text)
    assert(n == 5)
    assert(edges.toSet == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L)))
  }

  test("matrix codec render∘parse is the identity") {
    for (text <- Seq(g1Text, g3Text)) {
      val (n, edges) = MatrixCodec.parseMatrixText(text)
      val (n2, edges2) = MatrixCodec.parseMatrixText(MatrixCodec.renderMatrixText(n, edges))
      assert(n2 == n)
      assert(edges2.toSet == edges.toSet)
    }
  }

  test("nonzero entries count as edges (secondary_server.c:83 parity)") {
    val (_, edges) = MatrixCodec.parseMatrixText("2\n0 7\n7 0")
    assert(edges.toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("matrix header n*n validation uses Long math: n >= 46341 fails the require, not the scan") {
    // A corrupt/hostile header declaring n = 46341 makes n*n overflow Int
    // (46341^2 > 2^31) — with Int math the cell-count bound could wrap
    // negative, pass the require, and crash later with a confusing
    // ArrayIndexOutOfBoundsException from wrapped offsets. All three
    // scans (parse, limited parse, aggregate) must fail HERE, typed.
    val hostile = "46341 0 0 0"
    for (f <- Seq[String => Any](
        t => MatrixCodec.parseMatrixText(t),
        t => MatrixCodec.parseMatrixTextLimited(t, 5),
        t => MatrixCodec.aggregateMatrixText(t))) {
      val e = intercept[IllegalArgumentException] { f(hostile) }
      assert(e.getMessage.contains("declares n=46341"),
        s"wrong failure: ${e.getMessage}")
    }
  }

  test("edgesDF keeps the tuple encoder's schema and builds a local relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import SparkTestSession.spark
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 1L))
    val df = MatrixCodec.edgesDF(spark, pairs)
    assert(df.schema == pairs.toDF("src", "dst").schema)
    assert(df.schema == StructType(Seq(StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false))))
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == pairs)
  }
}
