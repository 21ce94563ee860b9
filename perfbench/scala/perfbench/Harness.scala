package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.ListenerBusBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.engine.{GraphEngine, GraphPayload, StartVertex}
import graft.graph.GraphCatalog
import graft.model.{MatrixCodec, RequestParser, Router}

/** Runs one workload of the benchmark in one JVM and writes raw records —
  * operations, set-up timings, Spark events, streaming progress, spans —
  * as JSON lines under the output directory. `run.py` turns them into
  * metrics and checks every result.
  *
  * Usage: Harness <workload> <input dir> <output dir> <seconds> <trace 0|1>
  */
object Harness {
  /** Set-up repetitions whose median is reported. */
  val StageReps = 3

  /** Output files as in-memory line queues, written when the run ends. */
  final class Out(dir: String) {
    new File(dir).mkdirs()
    private val files = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
    def add(file: String, line: String): Unit =
      files.computeIfAbsent(file, _ => new ConcurrentLinkedQueue[String]()).add(line)
    def close(): Unit = files.forEach { (f, lines) =>
      val w = new PrintWriter(s"$dir/$f", "UTF-8")
      try lines.forEach(l => w.println(l)) finally w.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val out = new Out(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000L).selectExpr("sum(id)").collect()
    val sessionS = (Clock.nowMs - jvmStart) / 1000.0
    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    val w: Workload = workload match {
      case "engine_requests" => new EngineWorkload(spark, inDir, outDir, out, traced)
      case "stream_replay" => new StreamWorkload(spark, inDir, outDir, out, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val stageS = (1 to StageReps).map(_ => timed(w.stage()))
    val warmS = timed(w.warm())
    val m0 = Clock.nowMs
    w.measure(m0 + seconds * 1000.0)
    val m1 = Clock.nowMs
    ListenerBusBridge.drain(spark.sparkContext)
    if (traced) {
      listener.lines.forEach(l => out.add("spark.jsonl", l))
      listener.planLines.foreach(l => out.add("spark.jsonl", l))
      Spans.all.foreach(s => out.add("spans.jsonl", s.json))
    }
    ProgressListener.events.forEach(l => out.add("progress.jsonl", l.replace('\n', ' ')))
    out.add("summary.json", Json.obj(
      "workload" -> Json.str(workload), "traced" -> traced.toString,
      "session_s" -> Json.num(sessionS),
      "stage_s" -> stageS.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "listener_ms" -> Json.num((listener.busyNs.get + ProgressListener.busyNs.get) / 1e6),
      "measure_start" -> Json.num(m0), "measure_end" -> Json.num(m1),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "extra" -> w.extra))
    out.close()
    spark.stop()
  }

  def timed(body: => Unit): Double = {
    val t0 = Clock.nowMs
    body
    (Clock.nowMs - t0) / 1000.0
  }

  /** VmHWM: the peak resident set of this process. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def errText(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")} | " +
      s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
  }.replace('\n', ' ').take(400)
}

trait Workload {
  /** One set-up of the workload's state (repeated; the last one is used). */
  def stage(): Unit
  /** Untimed first pass over the operations. */
  def warm(): Unit
  /** Timed operations until `deadlineMs`. */
  def measure(deadlineMs: Double): Unit
  /** Workload-specific JSON for the summary. */
  def extra: String = "{}"
}

/** `engine_requests`: two closed-loop clients send the seeded request
  * script through [[GraphEngine.executeLine]] against one catalog seeded
  * with the generated trees.
  */
final class EngineWorkload(spark: SparkSession, inDir: String, outDir: String,
                           out: Harness.Out, traced: Boolean) extends Workload {
  import Harness._
  private val sc = spark.sparkContext
  private def lines(f: String) =
    scala.io.Source.fromFile(s"$inDir/$f", "UTF-8").getLines().filter(_.nonEmpty).toVector
  /** name → matrix text (rows joined by '|' in the file). */
  private val trees = lines("trees.tsv").map { l =>
    val Array(n, m) = l.split("\t"); (n, m.replace('|', '\n'))
  }
  private case class Req(seq: Long, op: Int, name: String, payload: String)
  private def requests(f: String) = lines(f).map { l =>
    val Array(s, o, n, p) = l.split("\t"); Req(s.toLong, o.toInt, n, p.replace('|', '\n'))
  }
  private val warmScript = requests("warm.tsv")
  /** The script in blocks, each with the same op mix. */
  private val blocks = new File(inDir).list().filter(_.startsWith("block_")).sorted
    .map(requests).toVector
  private var stages = 0
  private var engine: GraphEngine = _

  /** Seeds a fresh catalog with the generated trees: add requests sent by
    * the same two clients as the workload.
    */
  def stage(): Unit = {
    stages += 1
    val eng = new GraphEngine(spark, new GraphCatalog(spark, s"$outDir/catalog_$stages"))
    clients(trees.length) { (i, _) =>
      val (name, text) = trees(i)
      eng.executeLine(s"${i + 1} 1 $name",
        GraphPayload(MatrixCodec.edgesDF(spark, MatrixCodec.parseMatrixText(text)._2)))
    }
    engine = eng
  }

  def warm(): Unit = clients(warmScript.length) { (i, c) => request(warmScript(i), i, c, "warm") }

  /** Whole blocks, at least one, starting another only when it should end
    * by the deadline, so every run sends the same op mix.
    */
  def measure(deadlineMs: Double): Unit = {
    var b = 0
    var last = 0.0
    while (b < blocks.length && (b == 0 || Clock.nowMs + last < deadlineMs)) {
      val t0 = Clock.nowMs
      val block = blocks(b)
      val first = blocks.take(b).map(_.length).sum
      clients(block.length) { (i, c) => request(block(i), first + i, c, "ops") }
      last = Clock.nowMs - t0
      b += 1
    }
  }

  /** Two closed-loop clients: each takes the next index below `count` once
    * its previous call returned, until the indices run out.
    */
  private def clients(count: Int)(call: (Int, Int) => Unit): Unit = {
    val next = new AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until 2).map { c =>
      val t = new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < count) {
            call(i, c)
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  private def request(r: Req, idx: Int, client: Int, file: String): Unit = {
    val line = s"${r.seq} ${r.op} ${r.name}"
    val write = r.op == 1 || r.op == 2
    val opName = r.op match { case 1 => "add" case 2 => "modify" case 3 => "dfs" case _ => "bfs" }
    var result = ""
    var err = ""
    var span = 0L
    var versions = -1
    val start = Clock.nowMs
    try Spans(sc, traced, "engine.request", "engine", Map("req" -> idx.toString,
        "seq_no" -> r.seq.toString, "response_tag" -> (r.seq + 100).toString, "op" -> opName,
        "worker" -> Router.route(r.seq, r.op).name, "graph" -> r.name)) {
      span = Spans.current
      if (write) {
        val edges = Spans(sc, traced, "model.decode", "model") {
          MatrixCodec.parseMatrixText(r.payload)._2
        }
        val df = Spans(sc, traced, "model.edges_df", "model")(MatrixCodec.edgesDF(spark, edges))
        if (traced) {
          val req = Spans(sc, traced, "model.parse", "model")(RequestParser.parse(line))
          Spans(sc, traced, "engine.execute", "engine")(engine.execute(req, GraphPayload(df)))
        } else engine.executeLine(line, GraphPayload(df))
      } else {
        val resp = if (traced) {
          // a direct catalog read of the graph the request reads; its
          // cost is part of the tracing overhead
          Spans(sc, traced, "graph.catalog.load", "graph") {
            versions = engine.catalog.versions(r.name).size
            engine.catalog.load(r.name)
          }
          val req = Spans(sc, traced, "model.parse", "model")(RequestParser.parse(line))
          Spans(sc, traced, "engine.execute", "engine")(
            engine.execute(req, StartVertex(r.payload.trim.toLong)))
        } else engine.executeLine(line, StartVertex(r.payload.trim.toLong))
        val rows = Spans(sc, traced, "spark.collect", "spark")(resp.result.get.collect())
        result = rows.map(row => (0 until row.length).map(row.get(_).toString).mkString(":"))
          .mkString(",")
      }
    } catch { case e: Throwable => err = errText(e) }
    val end = Clock.nowMs
    out.add(s"$file.jsonl", Json.obj("i" -> idx.toString, "client" -> client.toString,
      "seq" -> r.seq.toString, "op" -> Json.str(opName), "name" -> Json.str(r.name),
      "start" -> Json.num(start), "end" -> Json.num(end),
      "span" -> span.toString, "versions" -> versions.toString,
      "err" -> Json.str(err), "result" -> Json.str(result)))
  }
}

/** `stream_replay`: one sequential caller replays the four serve twins per
  * pass through `SparkEntry.queries` and collects every result. The first
  * execution of each twin is written out for the DuckDB oracle; every
  * later execution must return exactly the same rows.
  */
final class StreamWorkload(spark: SparkSession, inDir: String, outDir: String,
                           out: Harness.Out, traced: Boolean) extends Workload {
  import Harness._
  /** Between them the twins use the four state-store primitives: catalog
    * delta chain with append-fold, read-refold-rewrite, CDC merge with
    * tombstones, and bucketed append-fold.
    */
  private val names = Seq("stream_triangle_maintain", "stream_hll_users",
    "stream_merge_upsert", "stream_assoc_rules")
  private val inputs = Seq("orders", "lineitem", "events")
  private val sc = spark.sparkContext
  private val queries = SparkEntry.queries
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
  private val expected = scala.collection.mutable.Map.empty[String, Array[Row]]

  /** Input staging: open and scan every input table once. */
  def stage(): Unit = inputs.foreach(t => spark.read.parquet(s"$inDir/$t.parquet").count())

  /** A whole untimed pass: each twin's code paths are compiled before the
    * timed passes, and traced runs can compare every twin's counters
    * between two passes.
    */
  def warm(): Unit = pass(-1)

  /** Whole passes, at least one, starting another only when it should end
    * by the deadline.
    */
  def measure(deadlineMs: Double): Unit = {
    var p = 0
    var last = 0.0
    while (p == 0 || Clock.nowMs + last < deadlineMs) {
      val t0 = Clock.nowMs
      pass(p)
      last = Clock.nowMs - t0
      p += 1
    }
  }

  private def graftTmp(): Seq[Path] =
    Files.list(tmpRoot).iterator().asScala.filter(_.getFileName.toString.startsWith("graft_"))
      .toSeq

  private def bytesUnder(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  private def delete(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(x => Files.deleteIfExists(x))
    finally walk.close()
  }

  private def pass(p: Int): Unit = {
    val t0 = Clock.nowMs
    names.foreach(n => op(n, p))
    ListenerBusBridge.drain(sc)
    out.add("passes.jsonl", Json.obj("pass" -> p.toString, "start" -> Json.num(t0),
      "end" -> Json.num(Clock.nowMs)))
  }

  private def op(name: String, p: Int): Unit = {
    var err = ""
    var span = 0L
    var rows: Array[Row] = Array.empty
    var schema: StructType = null
    val start = Clock.nowMs
    try Spans(sc, traced, name, "streaming", Map("pass" -> p.toString)) {
      span = Spans.current
      val df = Spans(sc, traced, "streaming.call", "streaming")(queries(name)(spark, inDir))
      schema = df.schema
      rows = Spans(sc, traced, "spark.collect", "spark")(df.collect())
    } catch { case e: Throwable => err = errText(e) }
    val end = Clock.nowMs
    // per-pass temp hygiene: size the temp state this twin left (stores,
    // delta chains, checkpoints, staged input), then delete it
    val dirs = graftTmp()
    val stored = dirs.map(bytesUnder).sum
    dirs.foreach(delete)
    val check =
      if (err.nonEmpty) "error"
      else expected.get(name) match {
        case None =>
          expected(name) = rows
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.parquet(s"$outDir/results/$name")
          "first"
        case Some(first) => if (first.sameElements(rows)) "same" else "differs_from_first"
      }
    out.add("ops.jsonl", Json.obj("name" -> Json.str(name), "pass" -> p.toString,
      "start" -> Json.num(start), "end" -> Json.num(end),
      "span" -> span.toString, "rows" -> rows.length.toString,
      "stored_bytes" -> stored.toString, "check" -> Json.str(check), "err" -> Json.str(err)))
  }

  override def extra: String = Json.obj("oracle_sql" -> Json.obj(names.map(n =>
    n -> Json.str(SparkEntry.oracleSql(n))): _*))
}
