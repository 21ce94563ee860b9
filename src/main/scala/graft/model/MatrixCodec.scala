package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Codec for the reference's on-disk graph format: one text file per graph,
  * first line `n`, then `n` rows of `n` whitespace-separated ints
  * (writer: reference `primary_server.c:139-152`; reader:
  * `secondary_server.c:272-286`).
  *
  * Engine-internal representation is a sparse, unbounded edge table
  * `(src BIGINT, dst BIGINT)` with BOTH directions stored for undirected
  * graphs and 1-based external vertex ids (reference converts at the API
  * edge only: `secondary_server.c:242,318`). The dense matrix is by
  * construction tiny (the format itself caps n — `#define N 30`), so matrix
  * text is parsed driver-side; parquet edge tables are the at-scale path.
  */
object MatrixCodec {

  /** Parse matrix text. Any nonzero entry is an edge, matching the BFS edge
    * test `adj[s][i] != 0` (reference `secondary_server.c:83`); symmetric
    * inputs therefore yield both directions naturally.
    */
  /** Header validation shared by every matrix-text scan. The cell-count
    * bound is checked in LONG arithmetic: a corrupt or hostile header
    * declaring n >= 46341 overflows `n * n` in Int, which can wrap the
    * bound negative, make the require pass vacuously, and surface later
    * as a confusing ArrayIndexOutOfBoundsException from wrapped offsets —
    * the Long check fails HERE with the intended message instead.
    */
  private def validatedN(nums: Array[Int]): Int = {
    require(nums.nonEmpty, "empty matrix text")
    val n = nums(0)
    require(n >= 0 && nums.length >= 1L + n.toLong * n,
      s"matrix text declares n=$n but has ${nums.length - 1} cells")
    n
  }

  def parseMatrixText(text: String): (Int, Seq[(Long, Long)]) = {
    val nums = text.split("\\s+").iterator.filter(_.nonEmpty).map(_.toInt).toArray
    val n = validatedN(nums)
    val edges = for {
      i <- 0 until n
      j <- 0 until n
      if nums(1 + i * n + j) != 0
    } yield ((i + 1).toLong, (j + 1).toLong)
    (n, edges)
  }

  /** First `limit` edges of the matrix text in cell order — which IS
    * (src ASC, dst ASC) order, because the format stores the adjacency
    * row-major (reference `primary_server.c:145-151`). Powers the DSv2
    * limit/top-N pushdown ([[graft.sources.MatrixDataSource]]): the cell
    * scan stops as soon as `limit` edges have been found and only that
    * many edge rows are ever materialized (tokenization stays one linear
    * pass over the KB-bounded-by-format text), so a `LIMIT k` /
    * `ORDER BY src, dst LIMIT k` query over a graph database ships ~k
    * rows per file instead of the full n²-cell decode. Same edge rule as
    * [[parseMatrixText]] (any nonzero cell, 1-based).
    */
  def parseMatrixTextLimited(text: String, limit: Int): Seq[(Long, Long)] = {
    val nums = text.split("\\s+").iterator.filter(_.nonEmpty).map(_.toInt).toArray
    val n = validatedN(nums)
    val out = Seq.newBuilder[(Long, Long)]
    var found = 0
    var i = 0
    while (i < n && found < limit) {
      var j = 0
      while (j < n && found < limit) {
        if (nums(1 + i * n + j) != 0) {
          out += (((i + 1).toLong, (j + 1).toLong))
          found += 1
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Per-file aggregate summary: edge count plus min/max of each edge
    * endpoint (None when the matrix has no nonzero cell). See
    * [[aggregateMatrixText]].
    */
  case class MatrixAggregates(edgeCount: Long,
      minSrc: Option[Long], maxSrc: Option[Long],
      minDst: Option[Long], maxDst: Option[Long])

  /** Single-pass aggregate over matrix text WITHOUT materializing the
    * edge list: powers the DSv2 aggregate pushdown
    * ([[graft.sources.MatrixDataSource]] / `SupportsPushDownAggregates`),
    * so a metadata query over a graph-database directory reads each file
    * once and ships ONE summary row per graph — never the cells. Same
    * edge rule as [[parseMatrixText]]: any nonzero entry is an edge
    * (reference `secondary_server.c:83`), 1-based ids.
    */
  def aggregateMatrixText(text: String): MatrixAggregates = {
    val nums = text.split("\\s+").iterator.filter(_.nonEmpty).map(_.toInt).toArray
    val n = validatedN(nums)
    var cnt = 0L
    var minS = Long.MaxValue; var maxS = Long.MinValue
    var minD = Long.MaxValue; var maxD = Long.MinValue
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (nums(1 + i * n + j) != 0) {
          cnt += 1
          val s = i + 1L; val d = j + 1L
          if (s < minS) minS = s
          if (s > maxS) maxS = s
          if (d < minD) minD = d
          if (d > maxD) maxD = d
        }
        j += 1
      }
      i += 1
    }
    if (cnt == 0) MatrixAggregates(0L, None, None, None, None)
    else MatrixAggregates(cnt, Some(minS), Some(maxS), Some(minD), Some(maxD))
  }

  /** Render an edge list back to matrix text (sink fidelity with
    * reference `primary_server.c:145-151`). Vertices are 1-based.
    */
  def renderMatrixText(n: Int, edges: Seq[(Long, Long)]): String = {
    val adj = Array.ofDim[Int](n, n)
    edges.foreach { case (s, d) =>
      require(s >= 1 && s <= n && d >= 1 && d <= n,
        s"edge ($s,$d) out of range 1..$n")
      adj(s.toInt - 1)(d.toInt - 1) = 1
    }
    val sb = new StringBuilder
    sb.append(n).append('\n')
    var i = 0
    while (i < n) {
      sb.append(adj(i).mkString(" ")).append('\n')
      i += 1
    }
    sb.toString
  }

  /** The schema of [[edgesDF]]: what the tuple encoder gives a
    * `Seq[(Long, Long)]` named `src`, `dst`.
    */
  private val EdgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** Edge list → DataFrame(src BIGINT, dst BIGINT), a local relation built
    * from rows: no encoder is derived per call.
    */
  def edgesDF(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(edges.map { case (s, d) => Row(s, d) }.asJava, EdgeSchema)

  /** Read a matrix-text file into an edge DataFrame. Files in this format
    * are small by definition; real graphs arrive as parquet edge tables.
    */
  def readMatrixFile(spark: SparkSession, path: String): (Int, DataFrame) = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val (n, edges) = parseMatrixText(text)
    (n, edgesDF(spark, edges))
  }

  /** Write an edge DataFrame as matrix text (collects — the format itself
    * is bounded; use parquet for anything big).
    */
  def writeMatrixFile(df: DataFrame, n: Int, path: String): Unit = {
    val edges = df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      renderMatrixText(n, edges).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
