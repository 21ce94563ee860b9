package graft.graph

import java.io.FileNotFoundException
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, Options, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import graft.plans.Materialize

final class GraphNotFoundException private (message: String, marker: Boolean)
  extends IllegalStateException(message) {
  /** Unregistered graph: the reference's add-before-read rule applies. */
  def this(name: String) = this(
    s"graph '$name' does not exist — add (op 1) before modify/read " +
      "(add-before-read rule, reference instructions.txt:18-20)", true)
}

object GraphNotFoundException {
  /** Version miss on an EXISTING graph — a retention problem, not a
    * registration problem; the add-before-read advice would mislead.
    */
  private[graph] def version(name: String, v: Long, retained: Seq[Long]) =
    new GraphNotFoundException(
      s"version $v of graph '$name' is not available (vacuumed or never " +
        s"written); retained versions: ${retained.mkString(", ")}", true)
}

final class GraphAlreadyExistsException(name: String)
  extends IllegalStateException(s"graph '$name' already exists — use modify (op 2)")

/** The engine's "database": named immutable graph snapshots as parquet edge
  * tables, replacing the reference's one-text-file-per-graph store plus its
  * `gnos[]` registration array (reference `primary_server.c:68-69,118-119`).
  *
  * Concurrency model: the reference guards each graph file with
  * readers-writers semaphores (`primary_server.c:138-153`,
  * `secondary_server.c:264-294`). Here a version is immutable once
  * published, so readers take no lock at all:
  *  - A write fills a unique `_staging-<uuid>` directory under the graph
  *    (names starting with `_` are invisible to readers and to Spark), with
  *    no lock held. A payload whose rows are already in driver memory (its
  *    optimized plan is a `LocalRelation` of at most
  *    `spark.sql.autoBroadcastJoinThreshold` bytes, on a catalog that is not
  *    bucketed: every engine add/modify of a matrix) is written by the
  *    driver as ONE parquet file and runs no Spark job, as the reference's
  *    primary server writes a graph from its own memory
  *    (`primary_server.c:139-152`); any other payload runs a Spark write.
  *  - It then publishes under a per-graph writer lock shared by every
  *    catalog in the JVM — the reference's writer semaphore, held only for
  *    one directory listing and one rename. Under it the write's
  *    precondition is checked again (`add`: no version exists; `modify`,
  *    `modifyDelta`: one does), and the staging directory is renamed
  *    without overwrite to the next free number: one past the highest
  *    numbered `v`/`d` directory, complete or not, so full snapshots and
  *    deltas share one number space and a crashed write's leftovers never
  *    block the graph. A rename that finds the number taken (another
  *    process) lists again and retries.
  *  - A loser fails with the same typed exception as the early check, and
  *    its staging directory is deleted.
  *
  * Readers resolve the newest complete version (parquet `_SUCCESS` marker)
  * from one listing, so they see either the previous or the new version,
  * never a partial one, and a concurrent writer never deletes what a reader
  * holds (a plain `mode("overwrite")` deletes-then-writes and does NOT give
  * this). `vacuum()` reclaims superseded versions and staging leftovers when
  * no reader or writer remains (retention is the caller's policy, as in any
  * MVCC table format).
  *
  * Driver-side traversal reads ([[latestForTraversal]]) keep the collected
  * graph of each name's latest version, keyed by its chain's paths and
  * `_SUCCESS` modification times and bounded by Spark's broadcast threshold,
  * so a repeated read of an unchanged version runs no Spark job. A full
  * snapshot written from the driver goes into that cache as it publishes
  * (write-through), so the first read after an engine add/modify runs none
  * either. An entry that lands after a newer version published never
  * serves: its key no longer matches the latest chain.
  *
  * At scale the base dir is any Hadoop-compatible FS (HDFS/S3); edge tables
  * are partitioned data, never driver-resident.
  *
  * `buckets = Some(n)`: snapshots are written `bucketBy(n, "src")` +
  * sorted within buckets — the pre-shuffle lever for the traversal
  * workload. Every BFS/DFS/SSSP round and every degree aggregate keys on
  * `src`, so a bucketed snapshot lets those joins/aggregates read the edge
  * table WITHOUT an Exchange (only the small frontier side shuffles to
  * match) — at 100 TB that deletes a full edge-table shuffle per traversal
  * round. Implemented as external tables over the same versioned
  * directories, registered after publish (bucket metadata lives in the
  * session catalog; the files stay plain parquet, so time travel and
  * non-bucketed readers of the same paths keep working). Table names are
  * namespaced by a base-dir hash — two catalogs holding the same graph name
  * never collide in the shared metastore.
  */
final class GraphCatalog(spark: SparkSession, baseDir: String,
                         buckets: Option[Int] = None) {

  private def fs = new Path(baseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Renames without overwrite on file systems other than the local one. */
  private lazy val files = FileContext.getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)

  /** On the local FS, driver-side file writes and renames go through
    * `java.nio`: Hadoop's local FS forks `chmod` to create a file (~7 ms)
    * and `readlink` to rename one (~14 ms).
    */
  private lazy val onLocalFs = fs.getUri.getScheme == "file"

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri)

  private def graphDir(name: String): Path = fs.makeQualified(new Path(s"$baseDir/$name"))

  private def tableName(name: String, suffix: String): String = {
    val ns = java.lang.Integer.toHexString(baseDir.hashCode)
    val safe = name.toLowerCase.replaceAll("[^a-z0-9]", "_")
    s"graft_${ns}_${safe}_$suffix"
  }

  private def tableName(name: String, version: Long): String = tableName(name, f"v$version%06d")

  /** One numbered on-disk version: `delta = false` is a full snapshot
    * (`v%06d`), `delta = true` holds ONLY the edges added since its
    * predecessor (`d%06d`) — see [[modifyDelta]].
    */
  private[graph] case class VersionEntry(version: Long, path: Path, delta: Boolean)

  /** A complete version and its `_SUCCESS` modification time. */
  private case class Committed(entry: VersionEntry, at: Long)

  /** The graph directory's children, by one listing. */
  private def children(name: String): Seq[FileStatus] =
    try fs.listStatus(graphDir(name)).toSeq
    catch { case _: FileNotFoundException => Seq.empty }

  /** Every numbered version directory, complete or not, oldest first. */
  private def numbered(children: Seq[FileStatus]): Seq[VersionEntry] =
    children.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory && (n.startsWith("v") || n.startsWith("d")))
        n.drop(1).toLongOption.map(VersionEntry(_, s.getPath, n.startsWith("d")))
      else None
    }.sortBy(_.version)

  /** The complete versions among `vs`, newest first; `_SUCCESS` is probed
    * lazily, only as far as the caller reads.
    */
  private def committedNewestFirst(vs: Seq[VersionEntry]): Iterator[Committed] =
    vs.reverseIterator.flatMap { e =>
      try Some(Committed(e, fs.getFileStatus(new Path(e.path, "_SUCCESS")).getModificationTime))
      catch { case _: FileNotFoundException => None }
    }

  /** The chain a read of the first (newest) element must union: it and the
    * older elements down to the first full snapshot, oldest first. A full
    * snapshot is its own one-element chain — the wholesale-replace path pays
    * no union at all. Reads `newestFirst` only that far.
    */
  private def chainOf(newestFirst: Iterator[Committed]): List[Committed] = {
    var chain = List.empty[Committed]
    var base = false
    while (!base && newestFirst.hasNext) {
      val c = newestFirst.next()
      chain = c :: chain
      base = !c.entry.delta
    }
    chain
  }

  /** The latest version's chain, from one listing. */
  private def latestChain(name: String): List[Committed] =
    chainOf(committedNewestFirst(numbered(children(name))))

  /** Writes `edges` to a staging directory with no lock held, then
    * publishes it as the next version if `admit(latest complete version)`
    * holds under the graph's writer lock. Returns the published version, or
    * None when `admit` refused; the staging directory is gone either way.
    */
  private def writeVersion(name: String, edges: DataFrame, delta: Boolean = false)
                          (admit: Option[Long] => Boolean): Option[Long] = {
    val id = UUID.randomUUID().toString.replace("-", "")
    val staging = new Path(graphDir(name), s"${GraphCatalog.StagingPrefix}$id")
    val prefix = if (delta) "d" else "v"
    // one fixed schema for every version: loads pass it to the reader
    // and so run no footer-inference job
    val typed = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
    // the read path's gate: rows already on the driver, small enough to ship whole
    val local = typed.queryExecution.optimizedPlan match {
      case r: LocalRelation if buckets.isEmpty && Materialize.small(typed) =>
        Some(r.data.toArray)
      case _ => None
    }
    try {
      (local, buckets) match {
        case (Some(rows), _) => writeFromDriver(staging, rows)
        case (None, Some(n)) =>
          val t = tableName(name, s"staging_$id")
          try typed.write.option("path", staging.toString)
            .bucketBy(n, "src").sortBy("src")
            .format("parquet").saveAsTable(t)
          finally spark.sql(s"DROP TABLE IF EXISTS $t") // external: the files stay
        case (None, None) =>
          typed.write.mode("errorifexists").parquet(staging.toString)
      }
      val published = publish(name, staging, prefix, admit)
      for (v <- published; n <- buckets) {
        val t = tableName(name, v)
        val at = versionPath(name, prefix, v).toString.replace("'", "\\'")
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"CREATE TABLE $t (src BIGINT, dst BIGINT) USING parquet " +
          s"CLUSTERED BY (src) SORTED BY (src) INTO $n BUCKETS LOCATION '$at'")
      }
      for (v <- published; rows <- local if !delta) writeThrough(name, v, rows)
      published
    } finally fs.delete(staging, true) // a published staging dir no longer exists
  }

  /** Writes `(src, dst)` rows from driver memory as the one parquet file of
    * `dir` (`optional int64` columns, so null endpoints survive), then its
    * `_SUCCESS` marker. Runs no Spark job.
    */
  private def writeFromDriver(dir: Path, rows: Array[InternalRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new Path(dir, GraphCatalog.DriverFile)
    val target =
      if (onLocalFs) { Files.createDirectories(nio(dir)); new LocalOutputFile(nio(file)) }
      else HadoopOutputFile.fromPath(file, conf)
    val schema = GraphCatalog.EdgeFileSchema
    val out = ExampleParquetWriter.builder(target).withConf(conf).withType(schema).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      for (c <- 0 to 1 if !r.isNullAt(c)) g.add(c, r.getLong(c))
      out.write(g)
    } finally out.close()
    val success = new Path(dir, "_SUCCESS")
    if (onLocalFs) Files.createFile(nio(success)) else fs.create(success, false).close()
  }

  /** Puts the published full snapshot `v`, whose rows are `rows`, into the
    * read cache, keyed as a read of it would be and sized by the planner's
    * rule for a file relation: file bytes × `spark.sql.sources.fileCompressionFactor`.
    */
  private def writeThrough(name: String, v: Long, rows: Array[InternalRow]): Unit = {
    val path = versionPath(name, "v", v)
    val at = fs.getFileStatus(new Path(path, "_SUCCESS")).getModificationTime
    val bytes = (fs.getFileStatus(new Path(path, GraphCatalog.DriverFile)).getLen *
      spark.sessionState.conf.fileCompressionFactor).toLong
    if (Materialize.fits(spark, bytes)) {
      val g = GraphOps.LocalGraph(spark, rows.length)(rows(_).isNullAt(_), rows(_).getLong(_))
      put(name, Cached(Seq((path, at)), g, bytes),
        spark.sessionState.conf.autoBroadcastJoinThreshold)
    }
  }

  private def versionPath(name: String, prefix: String, v: Long): Path =
    new Path(graphDir(name), f"$prefix$v%06d")

  private def publish(name: String, staging: Path, prefix: String,
                      admit: Option[Long] => Boolean): Option[Long] = {
    GraphCatalog.writerLock(graphDir(name)).synchronized {
      @annotation.tailrec def attempt(): Option[Long] = {
        val vs = numbered(children(name))
        if (!admit(committedNewestFirst(vs).nextOption().map(_.entry.version))) None
        else {
          val v = vs.lastOption.fold(1L)(_.version + 1)
          if (moveNew(staging, versionPath(name, prefix, v))) Some(v) else attempt()
        }
      }
      attempt()
    }
  }

  /** Renames `src` to `dst` unless `dst` exists; false when it does. On the
    * local FS this is one `rename(2)` (`Files.move` with `ATOMIC_MOVE`).
    * `rename(2)` would replace an EMPTY directory, but a target here is never
    * one: [[publish]] picks a number that no directory had when it listed
    * under the writer lock, and a number is only ever taken by renaming a
    * staging directory, which holds at least `_SUCCESS`. Other schemes
    * rename through `FileContext` without overwrite, which `FileSystem.rename`
    * cannot promise (it may move the source INTO an existing directory).
    */
  private[graft] def moveNew(src: Path, dst: Path): Boolean =
    if (onLocalFs) {
      val to = nio(dst)
      // FileAlreadyExists, DirectoryNotEmpty, or rename(2)'s ENOTEMPTY
      try { Files.move(nio(src), to, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: FileSystemException if Files.exists(to) => false }
    } else
      try { files.rename(src, dst, Options.Rename.NONE); true }
      catch { case _: FileAlreadyExistsException => false }

  /** op 1 — AddGraph (reference `primary_server.c:86-179`). The check
    * before the write fails fast; the one at publish decides.
    */
  def add(name: String, edges: DataFrame): Unit = {
    if (exists(name) || writeVersion(name, edges)(_.isEmpty).isEmpty)
      throw new GraphAlreadyExistsException(name)
  }

  /** op 2 — ModifyGraph: wholesale replace as a new snapshot version;
    * requires prior add (reference `primary_server.c:121-135`,
    * instructions.txt:18-20).
    */
  def modify(name: String, edges: DataFrame): Unit = {
    if (!exists(name) || writeVersion(name, edges)(_.nonEmpty).isEmpty)
      throw new GraphNotFoundException(name)
  }

  /** Opt-in DELTA version (edge additions only): the streaming-ingest
    * layout — a version directory holds just the edges added since the
    * previous version, so per-batch written bytes scale with the DELTA
    * while `load` still serves the full cumulative graph by unioning the
    * chain back to the last full snapshot. Wholesale [[modify]] stays the
    * default (reference op-2 fidelity) and RESETS the chain: the next
    * load reads that single snapshot. Caller contract: deltas are
    * additive and pairwise disjoint (the streaming replays split a
    * distinct edge set) — a delta that re-adds a chain edge would be
    * served TWICE by every subsequent load (the chain union never
    * dedups; that is what keeps the read path a pure concat). Misuse
    * corrupts silently, so callers outside the by-construction-disjoint
    * replays should pass `assertDisjoint = true`: one semi-join count
    * against the current chain, loud failure instead of corrupted reads.
    * `vacuum` never orphans a delta from its base.
    */
  def modifyDelta(name: String, delta: DataFrame,
                  assertDisjoint: Boolean = false): Unit = {
    if (!exists(name)) throw new GraphNotFoundException(name)
    if (assertDisjoint) {
      val dup = delta.select("src", "dst")
        .join(load(name).select("src", "dst"), Seq("src", "dst"), "left_semi")
        .count()
      if (dup > 0) throw new IllegalArgumentException(
        s"modifyDelta('$name'): $dup delta edge(s) already present in the " +
          "current chain — deltas must be additive and pairwise disjoint " +
          "(a duplicate is served twice by every subsequent load)")
    }
    if (writeVersion(name, delta, delta = true)(_.nonEmpty).isEmpty)
      throw new GraphNotFoundException(name)
  }

  /** Rewrite the latest version's delta chain into ONE new full snapshot,
    * then vacuum the superseded versions — the compaction rung of the
    * delta layout. A long-running ingest appends one delta per batch, so
    * an uncompacted `load` unions a chain proportional to batch COUNT
    * (read fan-in grows forever even though each file is small);
    * compacting every k batches bounds the chain length at k while
    * per-batch ingest writes stay delta-scaled — the standard
    * LSM/lakehouse amortization (total rewrite bytes O(E·batches/k)).
    * `load` contents are identical before and after (the chain union is
    * materialized into the new base). No-op when the latest version is
    * already a full snapshot, and when another write lands first (the
    * compacted snapshot publishes only over the chain it read). Like
    * [[vacuum]], run only when no reader may still hold superseded
    * snapshots.
    */
  def compact(name: String): Unit = {
    val chain = latestChain(name).map(_.entry)
    if (chain.isEmpty) throw new GraphNotFoundException(name)
    if (chain.last.delta &&
        writeVersion(name, loadChain(name, chain))(_.contains(chain.last.version)).nonEmpty)
      vacuum(name, keep = 1)
  }

  /** GraphScan of the latest complete snapshot
    * (reference `secondary_server.c:272-286`).
    */
  def load(name: String): DataFrame = {
    val chain = latestChain(name)
    if (chain.isEmpty) throw new GraphNotFoundException(name)
    loadChain(name, chain.map(_.entry))
  }

  /** Path read, upgraded to the catalog-table read (which carries the
    * bucket-layout metadata Catalyst needs to elide the Exchange) when
    * this catalog wrote the version bucketed. Delta chains union their
    * members (base full snapshot + each delta since).
    */
  private def loadChain(name: String, chain: Seq[VersionEntry]): DataFrame = {
    def one(e: VersionEntry): DataFrame = {
      val t = tableName(name, e.version)
      if (buckets.isDefined && spark.catalog.tableExists(t)) spark.table(t)
      else spark.read.schema("src BIGINT, dst BIGINT").parquet(e.path.toString)
    }
    chain.map(one).reduceLeft(_ unionAll _)
  }

  /** Time travel: GraphScan of a SPECIFIC complete version (as listed by
    * [[versions]]). The natural consequence of the MVCC layout — every
    * modify keeps its predecessors until vacuum, so any retained version
    * stays queryable; a delta version resolves to its chain's union.
    */
  def load(name: String, version: Long): DataFrame = {
    val vs = numbered(children(name))
    val chain = chainOf(committedNewestFirst(vs.filter(_.version <= version)))
    if (chain.lastOption.exists(_.entry.version == version)) loadChain(name, chain.map(_.entry))
    else throw GraphNotFoundException.version(name, version,
      committedNewestFirst(vs).map(_.entry.version).toSeq.reverse)
  }

  /** Complete versions of `name` (full and delta), oldest first. */
  def versions(name: String): Seq[Long] =
    committedNewestFirst(numbered(children(name))).map(_.entry.version).toSeq.reverse

  def exists(name: String): Boolean = committedNewestFirst(numbered(children(name))).hasNext

  def list(): Seq[String] = {
    val base = new Path(baseDir)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted.filter(exists)
  }

  /** Delete all versions of `name` except the newest `keep`, and the
    * staging directories of unpublished writes. Run only when no reader may
    * still hold superseded snapshots and no writer is in flight (its
    * staging directory would go).
    */
  def vacuum(name: String, keep: Int = 1): Unit = {
    evict(name)
    val all = children(name)
    all.filter(_.getPath.getName.startsWith(GraphCatalog.StagingPrefix))
      .foreach(s => fs.delete(s.getPath, true))
    val vs = committedNewestFirst(numbered(all)).toSeq.reverse
    if (vs.length <= keep) return
    // never orphan a delta from its base: the cut must not pass the full
    // snapshot anchoring the oldest retained version's chain
    val oldestRetained = vs(vs.length - keep).entry.version
    val cut = chainOf(vs.filter(_.entry.version <= oldestRetained).reverseIterator)
      .head.entry.version
    vs.map(_.entry).filter(_.version < cut).foreach { e =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(name, e.version)}")
      fs.delete(e.path, true)
    }
  }

  /** Migration helper: ingest a directory of reference-format graph files
    * (`G<n>.txt`: first line n, then an n×n adjacency matrix —
    * `primary_server.c:139-152`) as catalog graphs named by file basename.
    * A user of the reference points this at their database directory and
    * every existing graph becomes a queryable snapshot. Existing catalog
    * entries are modified (new version), new ones added.
    * Returns the imported graph names in order.
    */
  def importMatrixDir(dir: String): Seq[String] = {
    val d = new Path(dir)
    val dfs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dfs.exists(d)) throw new GraphNotFoundException(dir)
    val files = dfs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.matches("G\\d+\\.txt"))
      .sortBy(_.getPath.getName)
    files.map { s =>
      val name = s.getPath.getName.stripSuffix(".txt")
      // MatrixCodec reads via java.nio (the format is driver-parsed by
      // design) — hand it the scheme-less local path
      val (_, edges) = graft.model.MatrixCodec.readMatrixFile(spark, s.getPath.toUri.getPath)
      if (exists(name)) modify(name, edges) else add(name, edges)
      name
    }
  }

  /** Terminate analogue (reference `cleanup (1).c`, SURVEY.md A10): drop all
    * registered graphs. Spark's own lifecycle handles in-flight actions.
    */
  def dropAll(): Unit = {
    cache.synchronized { cache.clear(); cachedBytes = 0L }
    for (name <- list(); v <- versions(name))
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(name, v)}")
    val base = new Path(baseDir)
    if (fs.exists(base)) fs.delete(base, true)
    ()
  }

  /** A collected latest version, keyed by its chain's paths and `_SUCCESS`
    * modification times (a path re-created after `dropAll` gets a new
    * time), with the planner's size of its files.
    */
  private case class Cached(key: Seq[(Path, Long)], graph: GraphOps.LocalGraph, bytes: Long)

  /** One entry per graph name, least recently used first. */
  private val cache = new java.util.LinkedHashMap[String, Cached](16, 0.75f, true)
  private var cachedBytes = 0L

  /** The latest version of `name` for a traversal, resolved by one listing:
    * `Right` its [[GraphOps.LocalGraph]] when its files' planner size is at
    * most `spark.sql.autoBroadcastJoinThreshold`, `Left` its edge table
    * otherwise, or always when the threshold is -1. Spark's own rule for
    * "small enough to ship whole" also bounds the cache: the entries' sizes
    * sum to at most the threshold, read on every call, and the least
    * recently used go first. A repeated read of an unchanged version runs no
    * Spark job, nor does the first read of a version written from the
    * driver (write-through); a miss collects exactly the resolved
    * chain (one job). No lock is held across that job, so concurrent misses
    * may both collect.
    */
  def latestForTraversal(name: String): Either[DataFrame, GraphOps.LocalGraph] = {
    val chain = latestChain(name)
    if (chain.isEmpty) throw new GraphNotFoundException(name)
    val key = chain.map(c => (c.entry.path, c.at))
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val hit = cache.synchronized {
      trim(limit)
      Option(cache.get(name)).filter(_.key == key).orElse { evict(name); None }
    }
    hit.map(c => Right(c.graph)).getOrElse {
      val edges = loadChain(name, chain.map(_.entry))
      if (!Materialize.small(edges)) Left(edges)
      else {
        val g = GraphOps.LocalGraph.collect(edges)
        val bytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
        put(name, Cached(key, g, bytes.toLong), limit)
        Right(g)
      }
    }
  }

  private def put(name: String, c: Cached, limit: Long): Unit = cache.synchronized {
    evict(name)
    cache.put(name, c)
    cachedBytes += c.bytes
    trim(limit)
  }

  private def evict(name: String): Unit = cache.synchronized {
    Option(cache.remove(name)).foreach(c => cachedBytes -= c.bytes)
  }

  /** Drops least recently used entries until the sizes sum to `limit`. */
  private def trim(limit: Long): Unit = {
    val lru = cache.values.iterator
    while (cachedBytes > math.max(limit, 0L) && lru.hasNext) {
      cachedBytes -= lru.next().bytes
      lru.remove()
    }
  }
}

object GraphCatalog {
  /** Directory-name prefix of unpublished writes. */
  private val StagingPrefix = "_staging-"

  /** The one data file of a driver-written version. */
  private val DriverFile = "part-00000.parquet"

  /** The parquet schema of a driver-written version: Spark reads it back as
    * `src BIGINT, dst BIGINT`, both nullable.
    */
  private val EdgeFileSchema: MessageType = MessageTypeParser.parseMessageType(
    "message spark_schema { optional int64 src; optional int64 dst; }")

  private val writerLocks = new ConcurrentHashMap[String, AnyRef]()

  /** The writer lock of one graph directory, shared by every catalog of
    * this JVM.
    */
  private def writerLock(graphDir: Path): AnyRef =
    writerLocks.computeIfAbsent(graphDir.toString, _ => new AnyRef)
}
