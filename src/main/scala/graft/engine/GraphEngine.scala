package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graph.{GraphCatalog, GraphOps}
import graft.model._

/** Request payloads — the typed analogue of the reference's shared-memory
  * segments (`client (1).c:77-104` for matrices, `:137-155` for the start
  * vertex).
  */
sealed trait Payload
/** Full graph payload for ops 1/2 (edge list; matrix text parses to this). */
final case class GraphPayload(edges: DataFrame) extends Payload
/** 1-based start vertex for ops 3/4. */
final case class StartVertex(v: Long) extends Payload

/** Response — the reference's `mtype = seq_no + 100` message
  * (`secondary_server.c:313-329`), with an unbounded DataFrame result
  * replacing the 100-char text buffer.
  */
final case class Response(seqNo: Long, responseTag: Long, worker: Worker,
                          message: String, result: Option[DataFrame])

/** The whole request lifecycle of the reference (SURVEY.md §3) in one
  * object: parse → route → dispatch on op → result. Process hops and
  * per-request shared memory disappear; Spark's scheduler replaces
  * thread-per-request dispatch, so there is no 100-request lifetime cap.
  *
  * Writes (ops 1/2) of a matrix payload run no Spark job: its rows are
  * already in driver memory, so the catalog writes them as one parquet file
  * and puts the published version straight into its read cache, as the
  * reference's primary server writes a graph from its own memory
  * (`primary_server.c:139-152`).
  *
  * Reads (ops 3/4) are size-gated. A version at or under Spark's
  * broadcast threshold is kept by the catalog on the driver (written
  * through by the write that published it, or collected by one job on
  * first read) until it is superseded, evicted or vacuumed, and traversed
  * there, as the reference's secondary server walks its in-memory adjacency
  * matrix of at most 30×30 cells (`#define N 30`,
  * `secondary_server.c:94-213`); a larger version runs the distributed
  * operators. Both paths return the same rows in the same order.
  *
  * Concurrency model: requests may run on any number of threads. Reads
  * take no lock: a published version never changes, and a read resolves
  * its version once, then uses exactly that version. Writes to one graph
  * serialize only at the catalog's publish step, never across their Spark
  * jobs (see [[GraphCatalog]]).
  */
final class GraphEngine(spark: SparkSession, val catalog: GraphCatalog) {

  /** Execute one request. Ops 1/2 need a [[GraphPayload]]; ops 3/4 a
    * [[StartVertex]]. Unlike the reference, invalid start vertices fail
    * with a typed error instead of indexing `adj[-1]`
    * (`secondary_server.c:242` after the `(*shmp)--`).
    */
  def execute(req: GraphRequest, payload: Payload): Response = {
    val worker = Router.route(req)
    (req.op, payload) match {
      case (Op.AddGraph, GraphPayload(edges)) =>
        catalog.add(req.graphName, edges)
        Response(req.seqNo, req.responseTag, worker, "File successfully added", None)
      case (Op.ModifyGraph, GraphPayload(edges)) =>
        catalog.modify(req.graphName, edges)
        Response(req.seqNo, req.responseTag, worker, "File successfully modified", None)
      case (op @ (Op.DfsLeaves | Op.BfsLevels), StartVertex(v)) =>
        Response(req.seqNo, req.responseTag, worker, "ok",
          Some(traverse(req.graphName, op == Op.BfsLevels, v)))
      case (op, p) =>
        throw new IllegalArgumentException(
          s"op ${op.code} cannot take payload ${p.getClass.getSimpleName}")
    }
  }

  /** Parse a protocol line and execute (A11 front door). */
  def executeLine(line: String, payload: Payload): Response =
    execute(RequestParser.parse(line), payload)

  /** Ops 3/4 on the latest version of `name`. At or under
    * `spark.sql.autoBroadcastJoinThreshold`, Spark's own rule for "small
    * enough to ship whole", the version is traversed on the driver: the
    * catalog keeps it from the write that published it, or collects it
    * once, so a read of an unchanged version runs no Spark job after that.
    * Above it, or with it at -1, the distributed operator runs.
    */
  private def traverse(name: String, bfs: Boolean, start: Long): DataFrame =
    catalog.latestForTraversal(name) match { // throws GraphNotFound: add-before-read rule
      case Right(g) =>
        if (start < 1 || !g.contains(start)) throw badStart(name, start)
        if (bfs) GraphOps.bfsLevelsLocal(g, start) else GraphOps.dfsLeavesLocal(g, start)
      case Left(edges) =>
        val present = edges.filter(col("src") === start || col("dst") === start).limit(1)
        if (start < 1 || present.isEmpty) throw badStart(name, start)
        if (bfs) GraphOps.bfsLevels(edges, start) else GraphOps.dfsLeaves(edges, start)
    }

  private def badStart(name: String, start: Long) = new IllegalArgumentException(
    s"start vertex $start not in graph '$name' (reference would index adj[${start - 1}])")
}

/** Replayer for reference-style interactive session scripts (`inp.txt`):
  * each request is `seq_no / op_no / filename` on separate lines followed by
  * its payload (n + n matrix rows for ops 1/2; a start vertex for ops 3/4).
  */
object SessionScript {

  def replay(spark: SparkSession, engine: GraphEngine,
             lines: Seq[String]): Seq[Either[Throwable, Response]] = {
    val it = lines.iterator.map(_.trim).filter(_.nonEmpty).buffered
    val out = Seq.newBuilder[Either[Throwable, Response]]
    while (it.hasNext) {
      val attempt = scala.util.Try {
        val seq = it.next().toLong
        val op = Op.fromCode(it.next().toInt)
        val fname = it.next()
        val payload = op match {
          case Op.AddGraph | Op.ModifyGraph =>
            val n = it.next().toInt
            val rows = (0 until n).map(_ => it.next())
            val text = s"$n\n${rows.mkString("\n")}"
            GraphPayload(MatrixCodec.edgesDF(spark, MatrixCodec.parseMatrixText(text)._2))
          case _ =>
            StartVertex(it.next().toLong)
        }
        engine.execute(GraphRequest(seq, op, fname), payload)
      }
      out += attempt.toEither
    }
    out.result()
  }
}
