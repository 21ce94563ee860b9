package graft.graph

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
  * `secondary_server.c:264-294`). Here every write creates a NEW versioned
  * snapshot directory (`<base>/<name>/v<NNNNNN>`) and readers resolve the
  * highest complete version at load time — old snapshots are never deleted
  * by a write, so an in-flight read keeps its files and a concurrent reader
  * sees either the previous or the new version, never a half-deleted
  * directory (a plain `mode("overwrite")` deletes-then-writes and does NOT
  * give this). `vacuum()` reclaims superseded versions when no readers
  * remain (retention is the caller's policy, as in any MVCC table format).
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
  * directories (bucket metadata lives in the session catalog; the files
  * stay plain parquet, so time travel and non-bucketed readers of the same
  * paths keep working). Table names are namespaced by a base-dir hash —
  * two catalogs holding the same graph name never collide in the shared
  * metastore.
  */
final class GraphCatalog(spark: SparkSession, baseDir: String,
                         buckets: Option[Int] = None) {

  private def fs = new Path(baseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def graphDir(name: String): Path = new Path(s"$baseDir/$name")

  private def tableName(name: String, version: Long): String = {
    val ns = java.lang.Integer.toHexString(baseDir.hashCode)
    val safe = name.toLowerCase.replaceAll("[^a-z0-9]", "_")
    f"graft_${ns}_${safe}_v$version%06d"
  }

  /** One complete on-disk version: `delta = false` is a full snapshot
    * (`v%06d`), `delta = true` holds ONLY the edges added since its
    * predecessor (`d%06d`) — see [[modifyDelta]].
    */
  private[graph] case class VersionEntry(version: Long, path: Path, delta: Boolean)

  private def versionsOf(name: String): Seq[VersionEntry] = {
    val dir = graphDir(name)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory && (n.startsWith("v") || n.startsWith("d"))
      }
      .flatMap(s => s.getPath.getName.drop(1).toLongOption
        .map(v => VersionEntry(v, s.getPath, s.getPath.getName.startsWith("d"))))
      // only complete snapshots (parquet commit marker present)
      .filter(e => fs.exists(new Path(e.path, "_SUCCESS")))
      .sortBy(_.version)
  }

  private def writeVersion(name: String, edges: DataFrame,
                           delta: Boolean = false): Unit = {
    val next = versionsOf(name).lastOption.map(_.version + 1).getOrElse(1L)
    val prefix = if (delta) "d" else "v"
    val target = new Path(graphDir(name), f"$prefix$next%06d")
    // one fixed schema for every version: loads pass it to the reader
    // and so run no footer-inference job
    val typed = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
    buckets match {
      case Some(n) =>
        typed.write
          .option("path", target.toString)
          .bucketBy(n, "src").sortBy("src")
          .format("parquet").saveAsTable(tableName(name, next))
      case None =>
        typed.write.mode("errorifexists")
          .parquet(target.toString)
    }
  }

  /** The version chain a read of `version` must union: the latest FULL
    * snapshot at or below it, plus every delta between the two. A full
    * snapshot is its own one-element chain — the wholesale-replace path
    * pays no union at all.
    */
  private def chainTo(name: String, version: Long): Seq[VersionEntry] = {
    val upTo = versionsOf(name).filter(_.version <= version)
    val baseIdx = upTo.lastIndexWhere(!_.delta)
    if (baseIdx < 0) upTo else upTo.drop(baseIdx)
  }

  /** op 1 — AddGraph (reference `primary_server.c:86-179`). */
  def add(name: String, edges: DataFrame): Unit = {
    if (exists(name)) throw new GraphAlreadyExistsException(name)
    writeVersion(name, edges)
  }

  /** op 2 — ModifyGraph: wholesale replace as a new snapshot version;
    * requires prior add (reference `primary_server.c:121-135`,
    * instructions.txt:18-20).
    */
  def modify(name: String, edges: DataFrame): Unit = {
    if (!exists(name)) throw new GraphNotFoundException(name)
    writeVersion(name, edges)
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
    writeVersion(name, delta, delta = true)
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
    * already a full snapshot. Like [[vacuum]], run only when no reader
    * may still hold superseded snapshots.
    */
  def compact(name: String): Unit = {
    val vs = versionsOf(name)
    if (vs.isEmpty) throw new GraphNotFoundException(name)
    val chain = chainTo(name, vs.last.version)
    if (!chain.last.delta) return // latest is already a full snapshot
    writeVersion(name, loadChain(name, chain))
    vacuum(name, keep = 1)
  }

  /** GraphScan of the latest complete snapshot
    * (reference `secondary_server.c:272-286`).
    */
  def load(name: String): DataFrame = {
    val vs = versionsOf(name)
    if (vs.isEmpty) throw new GraphNotFoundException(name)
    loadChain(name, chainTo(name, vs.last.version))
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
    val vs = versionsOf(name)
    vs.find(_.version == version) match {
      case Some(_) => loadChain(name, chainTo(name, version))
      case None =>
        throw GraphNotFoundException.version(name, version, vs.map(_.version))
    }
  }

  /** Complete versions of `name` (full and delta), oldest first. */
  def versions(name: String): Seq[Long] = versionsOf(name).map(_.version)

  def exists(name: String): Boolean = versionsOf(name).nonEmpty

  def list(): Seq[String] = {
    val base = new Path(baseDir)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted.filter(exists)
  }

  /** Delete all versions of `name` except the newest `keep`. Run only when
    * no reader may still hold superseded snapshots.
    */
  def vacuum(name: String, keep: Int = 1): Unit = {
    val vs = versionsOf(name)
    if (vs.length <= keep) return
    // never orphan a delta from its base: the cut must not pass the full
    // snapshot anchoring the oldest retained version's chain
    val oldestRetained = vs(vs.length - keep).version
    val anchor = chainTo(name, oldestRetained).headOption
      .map(_.version).getOrElse(oldestRetained)
    val cut = math.min(anchor, oldestRetained)
    vs.filter(_.version < cut).foreach { e =>
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
    for (name <- list(); v <- versions(name))
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(name, v)}")
    val base = new Path(baseDir)
    if (fs.exists(base)) fs.delete(base, true)
    ()
  }
}
