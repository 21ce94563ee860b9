package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._
import SparkTestSession._

class StreamSpec extends AnyFunSuite {
  import spark.implicits._

  /** Parquet data-file names of a FLAT append-only tiered store. */
  private def flatFileSet(stateDir: String): Set[String] = {
    val root = new java.io.File(stateDir)
    if (!root.exists()) Set.empty
    else root.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).toSet
  }

  /** Append-only tiered-store invariant (r20 — the counter twins' state
    * layout): between consecutive per-batch snapshots an existing data
    * file may only DISAPPEAR by compacting one tier up (a new `tier*`
    * file must appear in the same step); otherwise the file set only
    * grows — no batch rewrites stored counter state in place.
    */
  private def assertAppendOnlyStore(files: Seq[Set[String]]): Unit =
    files.sliding(2).foreach {
      case Seq(prev, cur) =>
        val vanished = prev -- cur
        if (vanished.nonEmpty) {
          val newTiers = (cur -- prev).filter(_.startsWith("tier"))
          assert(newTiers.nonEmpty,
            s"files $vanished vanished without a tier compaction")
        }
      case _ => ()
    }

  /** Did a tier merge run between two per-batch file snapshots (relative
    * or absolute path -> size)? [[StreamOps.tieredCompactStore]] names
    * every merge output `tier<L>-<gen>-<i>.parquet` with a fresh gen, so
    * a merge shows as a `tier*` file the previous snapshot lacked.
    */
  private def tierMerged(prev: Map[String, Long], cur: Map[String, Long]): Boolean =
    (cur.keySet -- prev.keySet)
      .exists(f => java.nio.file.Paths.get(f).getFileName.toString.startsWith("tier"))

  /** Per-batch folded counter snapshots must be monotone: a maintained
    * count never decreases, and no key vanishes once counted. */
  private def assertMonotoneCounts(states: Seq[Map[Long, Long]]): Unit =
    states.sliding(2).foreach {
      case Seq(prev, cur) =>
        prev.foreach { case (k, v) =>
          assert(cur.getOrElse(k, 0L) >= v,
            s"count of $k decreased: $v -> ${cur.get(k)}")
        }
      case _ => ()
    }

  /** Parquet file names per bucket dir of a bucketed serving store —
    * rewrites always produce fresh part-file names, so set equality means
    * the bucket's files were not touched.
    */
  private def bucketFileSets(stateDir: String): Map[String, Set[String]] = {
    val root = new java.io.File(stateDir)
    if (!root.exists()) Map.empty
    else root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
      .toMap
  }

  /** Assert the r13-#2 fix on a maintainer's bucketed derived state: for
    * every consecutive pair of per-batch snapshots, a bucket holding NO
    * key whose value changed that batch keeps byte-identical files (same
    * part-file names). Returns how many (batch, bucket) pairs were proven
    * untouched so callers on hand-sized graphs can also assert the check
    * bit on something.
    */
  private def assertUntouchedBuckets(
      files: Seq[Map[String, Set[String]]],
      states: Seq[Map[Long, Long]], nBuckets: Int = 16): Int = {
    var untouched = 0
    files.zip(states).sliding(2).foreach {
      case Seq((prevF, prevS), (curF, curS)) =>
        val changed = curS.collect {
          case (k, v) if !prevS.get(k).contains(v) => k
        }.toSet
        val touchedBuckets = changed.map(k => s"bucket=${k % nBuckets}")
        (prevF.keySet -- touchedBuckets).foreach { b =>
          assert(curF.get(b).contains(prevF(b)),
            s"bucket $b held no changed key this batch but was rewritten: " +
              s"${prevF(b)} -> ${curF.get(b)}")
          untouched += 1
        }
      case _ => ()
    }
    untouched
  }

  test("mergeAdditiveIntoBucketedServing sums into touched buckets only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_add_").toString
    val target = s"$dir/serving"
    // seed: 64 keys -> all 16 buckets populated
    StreamOps.mergeAdditiveIntoBucketedServing(
      (0L until 64L).map(k => (k, k)).toDF("vertex", "n_triangles"),
      target, "vertex")
    val before = bucketFileSets(target)
    assert(before.keySet.size == 16, s"expected 16 bucket dirs, got ${before.keySet}")
    // additive batch: an existing key (5 -> +10) and a NEW key (69 -> 7),
    // both in bucket=5
    StreamOps.mergeAdditiveIntoBucketedServing(
      Seq((5L, 10L), (69L, 7L)).toDF("vertex", "n_triangles"),
      target, "vertex")
    val after = bucketFileSets(target)
    assert(after("bucket=5") != before("bucket=5"), "changed bucket was not rewritten")
    (before.keySet - "bucket=5").foreach { b =>
      assert(after(b) == before(b), s"untouched $b was rewritten")
    }
    // additive semantics: existing key summed, new key inserted, rest intact
    val got = spark.read.parquet(target).select("vertex", "n_triangles")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 64L).filterNot(_ == 5L).map(k => (k, k)).toSet +
      ((5L, 15L)) + ((69L, 7L))
    assert(got == expected)
  }

  test("parseRequests routes well-formed lines and quarantines garbage") {
    val df = Seq("1 1 G1.txt", "2 4 G1.txt", "5 3 G2.txt", "bogus line", "9 7 G1.txt")
      .toDF("value")
    val out = StreamOps.parseRequests(df).collect()
      .map(r => (Option(r.get(0)), r.getString(3))).toSeq
    assert(out(0) == (Some(1L), "primary"))
    assert(out(1) == (Some(2L), "secondary_1"))
    assert(out(2) == (Some(5L), "secondary_2"))
    assert(out(3)._2 == "invalid")
    assert(out(4)._2 == "invalid") // op 7 out of range
  }

  test("routeReplayBatch: streamed parse/route lands batch-identical rows") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.routeReplayBatch(spark, s"$dir/orders.parquet")
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("parse_requests")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // parse_requests lacks the worker column; compare the shared columns
    // (req_id, seq_no, op_no, filename, resp_mtype) row by row
    assert(streamed.size == batch.size)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(Seq(s(0), s(1), s(2), s(3), s(5)) == b, s"row mismatch: $s vs $b")
    }
    // and the router agrees with the batch routing rule on every row
    streamed.foreach { s =>
      val (seq, op, worker) = (s(1).asInstanceOf[Long], s(2).asInstanceOf[Long],
        s(4).asInstanceOf[String])
      val expected = if (op == 1 || op == 2) "primary"
        else if (seq % 2 == 0) "secondary_1" else "secondary_2"
      assert(worker == expected)
    }
  }

  test("graphMaintainReplayBatch: incremental labeling equals recompute after EVERY batch") {
    val dir = "/root/testdata/sf0.001"
    var batches = 0
    var merged = false
    var stateDir = ""
    val fileSnaps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Set[String]]]
    val stateSnaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val got = StreamOps.graphMaintainReplayBatch(spark, dir,
      stateDirProbe = p => { stateDir = p },
      batchProbe = Some((labels, snapshot) => {
        batches += 1
        // the incremental contraction must equal a from-scratch CC on the
        // MVCC snapshot at every intermediate state, not just the last
        val snap = snapshot.localCheckpoint(true)
        val verts = snap.select(org.apache.spark.sql.functions.col("src").as("vertex"))
          .unionAll(snap.select(org.apache.spark.sql.functions.col("dst").as("vertex")))
          .distinct()
        val expected = graft.graph.GraphOps.connectedComponents(
            graft.graph.GraphOps.symmetrize(snap), verts)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val gotLabels = labels.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotLabels == expected,
          s"batch $batches: incremental labels diverge from snapshot recompute")
        // at least one intermediate state must contain a component that a
        // LATER batch fuses (otherwise the merge path went unexercised):
        // any non-region label means an orphan subtree is still detached
        if (gotLabels.exists { case (_, comp) => comp > 5L }) merged = true
        fileSnaps += bucketFileSets(stateDir)
        stateSnaps += gotLabels.toMap
      }))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batches >= 2, s"only $batches micro-batches — need cross-batch maintenance")
    assert(merged,
      "no intermediate batch held a detached component; cross-batch merge unexercised")
    // final state: every vertex labeled with its region tree root (1..5)
    assert(got.values.toSet.subsetOf((1L to 5L).toSet))
    // spot lineage: nation vertices carry 1 + their region key
    val nations = spark.read.parquet(s"$dir/nation.parquet")
      .collect().map(r => (10L + r.getAs[Number]("n_nationkey").longValue(),
        1L + r.getAs[Number]("n_regionkey").longValue())).toMap
    nations.foreach { case (v, comp) => assert(got(v) == comp, s"nation vertex $v") }
    // r13 #2: the label state is bucketed — a bucket with no changed label
    // this batch must keep byte-identical files (never a wholesale rewrite)
    assertUntouchedBuckets(fileSnaps.toSeq, stateSnaps.toSeq)
  }

  test("dedupReplayBatch drops the planted duplicate sends exactly") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.dedupReplayBatch(spark, s"$dir/events.parquet", dupMaxId = 100L)
      .collect()
    val base = spark.read.parquet(s"$dir/events.parquet").count()
    // resent rows (event_id < 100) must be dropped: survivors = base table,
    // one row per event_id
    assert(out.length.toLong == base)
    assert(out.map(_.getLong(0)).distinct.length.toLong == base)
  }

  test("mergeIntoBucketedServing rewrites ONLY buckets containing changed keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_merge_").toString
    val target = s"$dir/serving"
    def bucketFiles(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(target)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    }
    // seed: 64 keys -> all 16 buckets populated
    StreamOps.mergeIntoBucketedServing(
      (0L until 64L).map(k => (k, 1L, k.toDouble)).toDF("user_id", "n_events", "sum_value"),
      target, "user_id")
    val before = bucketFiles()
    assert(before.keySet.size == 16, s"expected 16 bucket dirs, got ${before.keySet}")
    // incremental batch touching TWO keys in the same bucket (5 and 21 -> bucket=5)
    StreamOps.mergeIntoBucketedServing(
      Seq((5L, 9L, 99.0), (21L, 9L, 99.0)).toDF("user_id", "n_events", "sum_value"),
      target, "user_id")
    val after = bucketFiles()
    assert(after("bucket=5") != before("bucket=5"), "changed bucket was not rewritten")
    (before.keySet - "bucket=5").foreach { b =>
      assert(after(b) == before(b), s"untouched $b was rewritten: ${before(b)} -> ${after(b)}")
    }
    // upsert semantics: changed keys replaced, all 62 others intact
    val got = spark.read.parquet(target)
      .select("user_id", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = (0L until 64L).filterNot(k => k == 5L || k == 21L)
      .map(k => (k, 1L, k.toDouble)).toSet + ((5L, 9L, 99.0)) + ((21L, 9L, 99.0))
    assert(got == expected)
  }

  test("sampledQuantilesReplayBatch: every batch prunes at ingest; end state equals the batch kernel") {
    val dir = "/root/testdata/sf0.001"
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val streamed = StreamOps.sampledQuantilesReplayBatch(spark,
        s"$dir/events.parquet",
        batchProbe = Some((s, b) => { probes += ((s, b)); () }))
      .collect().map(_.toSeq).toSeq
    assert(probes.length >= 2, s"need >=2 probed batches, got $probes")
    // the ingest prune is REAL in every batch: sampled < batch rows
    probes.foreach { case (s, b) =>
      assert(s < b, s"batch landed $s of $b rows — no ingest prune")
    }
    // ~1/8 sample overall (loose band: md5 is uniform)
    val (sTot, bTot) = (probes.map(_._1).sum, probes.map(_._2).sum)
    assert(sTot * 4 < bTot && sTot * 20 > bTot, s"sample ratio off: $sTot/$bTot")
    val batch = graft.pipeline.Events.sampledValueQuantiles(
        spark.read.parquet(s"$dir/events.parquet"))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, "stream end state must equal the batch kernel")
  }

  test("delta-version catalog layout: per-batch written bytes scale with the delta, not the graph") {
    // the streaming-ingest pattern graphMaintainReplayBatch now uses:
    // batch 1 = add (full), batches 2..n = modifyDelta. Each version dir
    // must hold ONLY its delta (near-constant bytes for equal batches)
    // while load() serves the growing cumulative edge set.
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_cat_").toString
    val cat = new graft.graph.GraphCatalog(spark, s"$dir/graphs")
    def batchEdges(i: Long) =
      (0L until 500L).map(j => (i * 1000L + j, i * 1000L + j + 1))
        .toDF("src", "dst")
    cat.add("D", batchEdges(0))
    (1L to 3L).foreach(i => cat.modifyDelta("D", batchEdges(i)))
    def dirBytes(p: java.io.File): Long =
      p.listFiles().filter(_.isFile).map(_.length()).sum
    val versionDirs = new java.io.File(s"$dir/graphs/D").listFiles()
      .filter(_.isDirectory).sortBy(_.getName)
    assert(versionDirs.map(_.getName).toSeq == Seq("d000002", "d000003", "d000004", "v000001"
      ).sorted, s"unexpected layout: ${versionDirs.map(_.getName).toSeq}")
    val sizes = versionDirs.sortBy(_.getName.drop(1)).map(dirBytes)
    // equal 500-edge batches: every delta dir within 2x of the base dir
    // (a cumulative-rewrite layout would grow 2x/3x/4x)
    sizes.tail.foreach(s =>
      assert(s <= sizes.head * 2, s"delta version not delta-sized: ${sizes.toSeq}"))
    // load() = union of the chain: all 2000 edges
    assert(cat.load("D").count() == 2000L)
    // time travel to a delta version = chain up to it
    assert(cat.load("D", 2L).count() == 1000L)
    // a wholesale modify RESETS the chain; load reads only the snapshot
    cat.modify("D", batchEdges(9))
    assert(cat.load("D").count() == 500L)
    assert(cat.versions("D") == Seq(1L, 2L, 3L, 4L, 5L))
    // vacuum keeps the full chain a retained delta needs: retaining the
    // last 2 versions (d4 chain-anchored at v1... then v5 full) — after
    // the reset, keep=1 retains only v5
    cat.vacuum("D", keep = 1)
    assert(cat.versions("D") == Seq(5L))
    assert(cat.load("D").count() == 500L)
  }

  test("delta-version vacuum never orphans a retained delta from its base") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_vac_").toString
    val cat = new graft.graph.GraphCatalog(spark, s"$dir/graphs")
    def e(i: Long) = Seq((i, i + 1)).toDF("src", "dst")
    cat.add("V", e(1)) // v1 full
    cat.modifyDelta("V", e(2)) // d2
    cat.modifyDelta("V", e(3)) // d3
    // keep=1 would naively retain only d3 — but d3's chain needs v1 and
    // d2, so the cut must not delete them
    cat.vacuum("V", keep = 1)
    assert(cat.versions("V") == Seq(1L, 2L, 3L), "vacuum broke the delta chain")
    assert(cat.load("V").count() == 3L)
  }

  test("triangleMaintainReplayBatch: per-batch deltas sum to the batch census; >=2 live batches") {
    // K5 on {1..5} (10 triangles) + a pendant triangle {5,6,7} + a
    // triangle-free tail: 11 triangles total, scattered across batches
    // by the 4-way round-robin split so every delta class (T1/T2/T3)
    // can fire
    val pairs = ((for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L), (8L, 9L))).toDF("a", "b")
    val probed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var stateDir = ""
    val fileSnaps = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val stateSnaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val out = StreamOps.triangleMaintainReplayBatch(spark, pairs,
      batchProbe = Some((n, state) => {
        probed += n
        fileSnaps += flatFileSet(stateDir)
        stateSnaps += state.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        ()
      }),
      stateDirProbe = p => { stateDir = p })
    assert(probed.length >= 2, s"expected >=2 probed batches, got $probed")
    assert(probed.sum == 11L, s"per-batch new-triangle counts $probed must sum to 11")
    // r20: the counter state is an append-only tiered store — no batch
    // rewrites existing files in place, and the per-batch folded view
    // only ever grows
    assertAppendOnlyStore(fileSnaps.toSeq)
    assertMonotoneCounts(stateSnaps.toSeq)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.graph.GraphOps.triangleCounts(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"streamed end state $got != batch census $batch")
    assert(!got.contains(8L) && !got.contains(9L), "triangle-free tail must be absent")
  }

  test("fourcliqueMaintainReplayBatch: per-batch deltas sum to the K4 census; end state equals batch") {
    // K5 on {1..5} (C(5,4) = 5 cliques) + a K4 on {4,5,6,7} sharing edge
    // (4,5) (1 more) + a clique-free tail: 6 cliques total, scattered
    // across batches by the 4-way round-robin split so cliques complete
    // in different batches with varying delta-edge multiplicity (the
    // rank-attribution must count each exactly once)
    val pairs = ((for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((4L, 6L), (4L, 7L), (5L, 6L), (5L, 7L), (6L, 7L),
        (7L, 8L), (8L, 9L))).toDF("a", "b")
    val probed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var stateDir = ""
    val fileSnaps = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val stateSnaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val out = StreamOps.fourcliqueMaintainReplayBatch(spark, pairs,
      batchProbe = Some((n, state) => {
        probed += n
        fileSnaps += flatFileSet(stateDir)
        stateSnaps += state.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        ()
      }),
      stateDirProbe = p => { stateDir = p })
    assert(probed.length >= 2, s"expected >=2 probed batches, got $probed")
    assert(probed.sum == 6L, s"per-batch new-clique counts $probed must sum to 6")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.graph.GraphOps.fourCliqueCounts(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"streamed end state $got != batch census $batch")
    assert(!got.contains(8L) && !got.contains(9L), "clique-free tail must be absent")
    // vertex 1 is in the 4 K5-cliques that include it; vertex 6 only in the K4
    assert(got(1L) == 4L && got(6L) == 1L && got(4L) == 5L, s"corner counts off: $got")
    // r20: the counter state is an append-only tiered store — no batch
    // rewrites existing files; the folded per-batch view is monotone
    assertAppendOnlyStore(fileSnaps.toSeq)
    assertMonotoneCounts(stateSnaps.toSeq)
  }

  test("fourcliqueMaintainReplayBatch: non-canonical pair orientation returns all 6 cliques") {
    // K5 + a K4 on {4,5,6,7}; the same undirected edges with a seeded half
    // written (b, a) must be staged canonical — the rank attribution and
    // the closing-edge probe assume a < b
    val canonical = (for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((4L, 6L), (4L, 7L), (5L, 6L), (5L, 7L), (6L, 7L))
    val rnd = new scala.util.Random(7)
    val flip = rnd.shuffle(canonical.indices.toList).take(canonical.size / 2).toSet
    val mixed = canonical.zipWithIndex.map { case ((a, b), i) =>
      if (flip(i)) (b, a) else (a, b) }
    assert(mixed.count { case (a, b) => a > b } == canonical.size / 2)
    val got = StreamOps.fourcliqueMaintainReplayBatch(spark, mixed.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.graph.GraphOps.fourCliqueCounts(canonical.toDF("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // each clique has 4 vertices: the per-vertex counts sum to 4 × 6
    assert(batch.values.sum == 24L, s"canonical census $batch")
    assert(got == batch, s"mixed-orientation end state $got != batch census $batch")
  }

  test("fourcliqueMaintainReplayBatch: Bloom-pruned shuffle path equals the broadcast path") {
    // threshold -1 forces the past-the-gate geometry (shuffled existence
    // probes pre-pruned by the broadcast edge Bloom) on the same hand
    // graph — the Bloom only ever shrinks the exact join's input, so
    // every count must match the broadcast-path census bit-for-bit
    val pairs = ((for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((4L, 6L), (4L, 7L), (5L, 6L), (5L, 7L), (6L, 7L),
        (7L, 8L), (8L, 9L))).toDF("a", "b")
    val batch = graft.graph.GraphOps.fourCliqueCounts(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = withBroadcastThreshold(-1) {
      StreamOps.fourcliqueMaintainReplayBatch(spark, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(got == batch, s"Bloom-path end state $got != batch census $batch")
  }

  test("fourcliqueMaintainReplayBatch: the Bloom path leaves the runtime Bloom filter confs as they were") {
    // the edge Bloom is sized within the session's maxNumItems/maxNumBits;
    // writing those confs would make later census sizing depend on which
    // query ran first
    val pairs = (for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)).toDF("a", "b")
    val keys = Seq("maxNumItems", "maxNumBits")
      .map(k => s"spark.sql.optimizer.runtime.bloomFilter.$k")
    val before = keys.map(spark.conf.get)
    val got = withBroadcastThreshold(-1) {
      StreamOps.fourcliqueMaintainReplayBatch(spark, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(got == (1L to 5L).map(_ -> 4L).toMap, s"K5 census off: $got")
    assert(keys.map(spark.conf.get) == before, "the replay changed the Bloom filter confs")
  }

  test("mergeMapCC: driver union-find equals the distributed kernel bit-for-bit") {
    // two chains that fuse through a shared spine + an isolated pair —
    // exercises multi-hop unions, out-of-order arrivals, and min-id
    // labels across both paths
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 2L), (14L, 15L), (15L, 2L),
        (40L, 41L), (100L, 7L), (7L, 6L))
      .toDF("src", "dst")
    val e = graft.plans.Materialize(edges)
    def isLocal(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val localDf = StreamOps.mergeMapCC(spark, e)
    assert(isLocal(localDf), "within the threshold the merge map is computed on the driver")
    val local = localDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = withBroadcastThreshold(-1) { // force the GraphX path
      val df = StreamOps.mergeMapCC(spark, e)
      assert(!isLocal(df), "at threshold -1 the merge map runs the GraphX kernel")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(local == dist, s"local $local != distributed $dist")
    // min-id labels: the fused chain {2,3,5,9,14,15} labels 2
    assert(local.contains((5L, 2L)) && local.contains((14L, 2L)) &&
      local.contains((40L, 40L)) && local.contains((41L, 40L)))
  }

  test("assocRulesReplayBatch: basket-whole batches; end rules equal the batch expression") {
    // hand baskets with known rules: {1,2} co-occur 3x, {1,3} 2x, {2,3} 2x
    val basket = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 2L), (13L, 3L),
      (14L, 4L), (14L, 5L),
      (15L, 4L), (15L, 5L),
      (16L, 6L)).toDF("okey", "part")
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = StreamOps.assocRulesReplayBatch(spark, basket,
        batchProbe = Some((p, b) => { probes += ((p, b)); () }))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(probes.length >= 2, s"need >=2 probed batches, got $probes")
    // basket-whole disjoint batching: per-batch distinct-basket counts
    // must sum to the total (a straddling basket would double-count)
    assert(probes.map(_._2).sum == 7L, s"basket counts $probes must sum to 7")
    // expected = the batch query's expression over the full basket
    import org.apache.spark.sql.functions.{broadcast, count, countDistinct, lit}
    val a = basket.select($"okey", $"part".as("ante"))
    val c = basket.select($"okey", $"part".as("cons"))
    val itemN = basket.groupBy("part").agg(count(lit(1)).cast("long").as("cnt"))
    val tot = basket.agg(countDistinct("okey").cast("long").as("n_b"))
    val expected = a.join(c, Seq("okey")).filter($"ante" =!= $"cons")
      .groupBy("ante", "cons").agg(count(lit(1)).cast("long").as("n_ab"))
      .filter($"n_ab" >= 2)
      .join(itemN.select($"part".as("ante"), $"cnt".as("n_a")), "ante")
      .join(itemN.select($"part".as("cons"), $"cnt".as("n_c")), "cons")
      .crossJoin(broadcast(tot))
      .select($"ante", $"cons", $"n_ab",
        ($"n_ab".cast("double") / $"n_a".cast("double")).as("confidence"),
        (($"n_ab".cast("double") * $"n_b".cast("double")) /
          ($"n_a".cast("double") * $"n_c".cast("double"))).as("lift"))
      .orderBy($"lift".desc, $"ante", $"cons").limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected, s"streamed rules $got != batch rules $expected")
    // the planted strong rule survives: {4,5} always co-occur -> lift tops
    assert(got.head._4 == 1.0, s"head rule confidence should be 1.0: ${got.head}")
  }

  test("hllReplayBatch: register-bounded state; end estimate equals the batch kernel") {
    val dir = "/root/testdata/sf0.001"
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = StreamOps.hllReplayBatch(spark, s"$dir/events.parquet",
        batchProbe = Some((b, s) => { probes += ((b, s)); () }))
      .collect()(0)
    assert(probes.length >= 2, s"need >=2 probed batches, got $probes")
    // the defining property: state never exceeds the register count
    probes.foreach { case (b, s) =>
      assert(b <= 256L && s <= 256L, s"state grew past the sketch: $probes")
    }
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val batch = graft.pipeline.Hll.estimate(
        graft.pipeline.Hll.registers(ev, "user_id"),
        ev.agg(org.apache.spark.sql.functions.countDistinct($"user_id")
          .cast("long").as("exact_users")))
      .collect()(0)
    assert(got.toSeq == batch.toSeq,
      s"streamed estimate ${got.toSeq} != batch ${batch.toSeq}")
  }

  /** Jobs of the bare K9 triangle replay below. */
  private val TriangleReplayJobs = 113

  test("serve twins do no probe-only work without a probe: hll and triangle replays run fewer jobs") {
    // a probe's arguments (counts, state folds) are built only when a
    // caller passes one, so the bare replay launches strictly fewer jobs
    val events = java.nio.file.Files.createTempDirectory("graft_probe_jobs_")
      .resolve("events.parquet").toString
    (0L until 2000L).map(i => i % 300L).toDF("user_id").write.parquet(events)
    def hll(probe: Option[(Long, Long) => Unit]): Unit = {
      StreamOps.hllReplayBatch(spark, events, batchProbe = probe).collect(); ()
    }
    val hllBare = jobsIn("hll-bare")(hll(None))
    val hllProbed = jobsIn("hll-probed")(hll(Some((_, _) => ())))
    // K9 over 8 micro-batches: the probed replay folds the state once per
    // batch after the first append. Staging orders the batches by file
    // name, so the bare replay's job train is the same on every run: an
    // exact budget, with no job spent sizing a join
    val pairs = (for { a <- 1L to 9L; b <- a + 1 to 9L } yield (a, b)).toDF("a", "b")
    def tri(probe: Option[(Long, org.apache.spark.sql.DataFrame) => Unit]): Unit = {
      StreamOps.triangleMaintainReplayBatch(spark, pairs, batchProbe = probe, splits = 8)
        .collect(); ()
    }
    val triBare = jobsIn("tri-bare")(tri(None))
    val triProbed = jobsIn("tri-probed")(tri(Some((_, _) => ())))
    info(s"jobs bare/probed: hll $hllBare/$hllProbed, triangle $triBare/$triProbed")
    assert(hllBare < hllProbed, s"hll jobs: bare $hllBare vs probed $hllProbed")
    assert(triBare == TriangleReplayJobs, s"triangle bare replay ran $triBare jobs")
    assert(triBare < triProbed, s"triangle jobs: bare $triBare vs probed $triProbed")
  }

  test("triangleMaintainReplayBatch: non-canonical pair orientation gives the canonical input's rows") {
    // K5 + a pendant triangle (11 triangles); the same undirected edges
    // with a seeded half written (b, a) must be staged canonical — T1's
    // closing probe keys the stored chain as (least, greatest)
    val canonical = (for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L))
    val rnd = new scala.util.Random(7)
    val flip = rnd.shuffle(canonical.indices.toList).take(canonical.size / 2).toSet
    val mixed = canonical.zipWithIndex.map { case ((a, b), i) =>
      if (flip(i)) (b, a) else (a, b) }
    assert(mixed.count { case (a, b) => a > b } == canonical.size / 2)
    def rows(ps: Seq[(Long, Long)]) =
      StreamOps.triangleMaintainReplayBatch(spark, ps.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = rows(canonical)
    assert(expected.map(_._2).sum == 33L, s"canonical census $expected")
    assert(rows(mixed) == expected)
  }

  test("triangleMaintainReplayBatch: catalog writes are delta-scaled and the chain stays bounded") {
    // r12 finding #1: the first landing of this op rebuilt a WHOLESALE
    // snapshot per batch (O(batches × E) write amplification) next to a
    // duplicate edgeDir. This pins the fix: under a many-batch replay the
    // ONE edge store is the catalog's delta chain, compacted every
    // compactEvery batches so retained versions never exceed compactEvery.
    val pairs = ((for { a <- 1L to 6L; b <- a + 1 to 6L } yield (a, b)) ++
      (10L until 40L).map(i => (i, i + 1))).toDF("a", "b")
    val chainLens = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = StreamOps.triangleMaintainReplayBatch(spark, pairs,
      splits = 8, compactEvery = 3,
      catalogProbe = Some(cat => { chainLens += cat.versions("T").length; () }))
    assert(chainLens.length >= 6, s"want a many-batch replay, got $chainLens")
    assert(chainLens.forall(_ <= 3),
      s"retained chain must stay bounded by compactEvery: $chainLens")
    // compaction must be a pure re-layout: end state still the batch census
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.graph.GraphOps.triangleCounts(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"compacted streamed end state $got != batch census $batch")
  }

  test("GraphCatalog.compact folds the delta chain into one base; load contents unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val cat = new graft.graph.GraphCatalog(spark, s"$dir/graphs")
    def batchEdges(i: Long) =
      (0L until 50L).map(j => (i * 100L + j, i * 100L + j + 1)).toDF("src", "dst")
    cat.add("C", batchEdges(0))
    // 12 ingest batches, compact every 4: chain length (and read fan-in)
    // bounded at 4 while the cumulative content keeps growing
    (1L to 12L).foreach { i =>
      cat.modifyDelta("C", batchEdges(i))
      if (i % 4 == 0) cat.compact("C")
      assert(cat.versions("C").length <= 4,
        s"batch $i: chain ${cat.versions("C")} exceeds the compaction bound")
      assert(cat.load("C").count() == (i + 1) * 50L,
        s"batch $i: compaction changed load() contents")
    }
    // after a compact, the single retained version is a FULL snapshot
    assert(cat.versions("C").length == 1)
    val vdirs = new java.io.File(s"$dir/graphs/C").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(vdirs.length == 1 && vdirs.head.startsWith("v"),
      s"compact must leave one full snapshot, got $vdirs")
    // exact content: all 13 batches' edges, each exactly once
    assert(cat.load("C").select("src").distinct().count() == 13L * 50L)
    // compact on an already-full head is a no-op
    val before = cat.versions("C")
    cat.compact("C")
    assert(cat.versions("C") == before)
  }

  test("modifyDelta(assertDisjoint = true) rejects a delta that re-adds a chain edge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_disjoint_").toString
    val cat = new graft.graph.GraphCatalog(spark, s"$dir/graphs")
    cat.add("A", Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    cat.modifyDelta("A", Seq((3L, 4L)).toDF("src", "dst"), assertDisjoint = true)
    assert(cat.load("A").count() == 3L)
    // a duplicate would be served TWICE by every load (the chain union
    // never dedups) — opt-in check fails loudly instead
    val e = intercept[IllegalArgumentException] {
      cat.modifyDelta("A", Seq((4L, 5L), (2L, 3L)).toDF("src", "dst"),
        assertDisjoint = true)
    }
    assert(e.getMessage.contains("disjoint"))
    assert(cat.load("A").count() == 3L, "rejected delta must not land")
  }

  test("histQuantilesReplayBatch: streamed sketch equals the batch estimate; bins-bound state; >=2 batches") {
    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
    val maxState = events.select("event_type").distinct().count() *
      events.selectExpr("count(DISTINCT CAST(floor(value / 10.0) AS LONG))")
        .collect()(0).getLong(0)
    val probed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = StreamOps.histQuantilesReplayBatch(spark, s"$dir/events.parquet",
        batchProbe = Some((state, rows) => { probed += ((state, rows)); () }))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(probed.length >= 2, s"expected >=2 probed batches, got ${probed.length}")
    probed.foreach { case (state, rows) =>
      assert(rows >= 1L)
      assert(state <= maxState,
        s"sketch state $state exceeds the types×bins bound $maxState")
    }
    val batch = graft.pipeline.Events.histQuantiles(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(got == batch, s"streamed sketch $got != batch estimate $batch")
  }

  test("psiReplayBatch: streamed PSI equals the batch score; state stays parameter-scale; >=2 batches") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the state bound: sources × bins, independent of document volume
    val maxState = docs.select("source").distinct().count() *
      docs.selectExpr("count(DISTINCT n_chars div 50)").collect()(0).getLong(0)
    val probed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = StreamOps.psiReplayBatch(spark, s"$dir/documents.parquet",
        batchProbe = Some((state, rows) => { probed += ((state, rows)); () }))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probed.length >= 2, s"expected >=2 probed batches, got ${probed.length}")
    probed.foreach { case (state, rows) =>
      assert(rows >= 1L)
      assert(state <= maxState,
        s"monitor state $state exceeds the sources×bins bound $maxState")
    }
    // integer counts are additive, so the twin equals the batch bit-for-bit
    val batch = graft.pipeline.Drift.psiPerSource(docs,
        org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == batch, s"streamed PSI $got != batch PSI $batch")
  }

  test("bm25ReplayBatch: streamed serving equals the batch ranking; index stays text-free; >=2 batches") {
    val dir = "/root/testdata/sf0.001"
    val probed = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val got = StreamOps.bm25ReplayBatch(spark, s"$dir/documents.parquet",
        batchProbe = Some((docs, cols) => { probed += ((docs, cols)); () }))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed.length >= 2, s"expected >=2 probed batches, got ${probed.length}")
    probed.foreach { case (docs, cols) =>
      assert(docs >= 1L)
      // the maintained index is the INTEGER projection — the text never
      // lands in the serving store
      assert(cols.toSet == Set("doc_id", "dl", "tf0", "tf1", "tf2"),
        s"index frame must be the narrow projection, got $cols")
    }
    // integer stats are additive, so the twin must equal the batch
    // ranking EXACTLY (same score bits, same rounding)
    val batch = graft.pipeline.Search.bm25TopDocs(
        spark.read.parquet(s"$dir/documents.parquet"),
        graft.pipeline.Search.QueryTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == batch, s"streamed serving $got != batch ranking $batch")
  }

  test("embeddingTopKReplayBatch: streamed ANN equals the batch IVF query; cell-local appends; >=2 batches") {
    val dir = "/root/testdata/sf0.001"
    val probed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = StreamOps.embeddingTopKReplayBatch(spark,
        s"$dir/embeddings.parquet",
        batchProbe = Some((cells, rows) => { probed += ((cells, rows)); () }))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed.length >= 2, s"expected >=2 probed batches, got $probed")
    // each batch touches only its own cells (10 labels exist; a batch
    // can touch at most all of them, and every batch carries rows)
    probed.foreach { case (cells, rows) =>
      assert(cells >= 1L && cells <= 10L && rows >= 1L, s"batch probe $probed")
    }
    // the twin must equal the batch kernel on the full snapshot — same
    // probe kernel, same relation, so it INHERITS the batch recall floor
    val batch = graft.pipeline.Similarity.cosineTopKIvf(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        queryId = graft.pipeline.IvfParams.QueryVecId,
        k = graft.pipeline.IvfParams.K,
        nprobe = graft.pipeline.IvfParams.Label.Nprobe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == batch, s"streamed ANN $got != batch IVF $batch")
  }

  test("ivfAdcTopKReplayBatch: streamed ADC serving equals batch IVFADC; appends never rewrite cell files; refit happens; >=2 batches") {
    val dir = "/root/testdata/sf0.001"
    var store = ""
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // post-batch snapshot of the store's parquet files: on a NON-refit
    // batch every pre-existing file must survive at its size (append-only
    // cells); a refit batch rewrites wholesale (the compaction)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    def fileMap(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(store)
      if (!java.nio.file.Files.exists(base)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(base)
        try walk.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p)))
          .toMap
        finally walk.close()
      }
    }
    val got = StreamOps.ivfAdcTopKReplayBatch(spark, s"$dir/embeddings.parquet",
        batchProbe = Some((rows, refit) => {
          probes += ((rows, refit)); snaps += fileMap(); ()
        }),
        stateDirProbe = p => { store = p })
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probes.length >= 2, s"expected >=2 probed batches, got $probes")
    probes.foreach { case (rows, _) => assert(rows >= 1L, s"empty batch: $probes") }
    // at least one MID-STREAM refit (the drift policy fires the
    // first-epoch refit on the batch that completes the 16 anchor rows —
    // uncoded pq=NULL rows are in the store until then)
    assert(probes.exists(_._2 == 1L), s"no mid-stream refit fired: $probes")
    // append-only between refits, tier merges excepted: on a plain
    // append batch every pre-existing file survives at its size; a
    // compact batch merges one level's fan-in (never the whole store)
    for (i <- 1 until snaps.length
         if probes(i)._2 == 0L && !tierMerged(snaps(i - 1), snaps(i))) {
      val prev = snaps(i - 1); val cur = snaps(i)
      val lost = prev.filterNot { case (f, sz) => cur.get(f).contains(sz) }
      assert(lost.isEmpty,
        s"non-refit batch ${i + 1} rewrote pre-existing cell files: ${lost.keys}")
    }
    // the end state must equal the batch IVFADC rung bit-for-bit: the
    // final refit pins the stored assignments to the full-corpus codebook,
    // so the twin INHERITS the batch recall floor (PropertyOracleSpec)
    val batch = graft.pipeline.Similarity.ivfAdcTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        queryId = graft.pipeline.IvfParams.QueryVecId,
        k = graft.pipeline.IvfParams.K,
        nprobe = graft.pipeline.IvfParams.Label.Nprobe,
        m = graft.pipeline.IvfParams.Pq.M,
        nCentroids = graft.pipeline.IvfParams.Pq.NCentroids,
        rerankN = graft.pipeline.IvfParams.IvfAdc.RerankN)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == batch, s"streamed ADC serving $got != batch IVFADC $batch")
  }

  test("ivfAdcTopKReplayBatch: drift policy — a no-drift replay does exactly ONE store rewrite (first-epoch fit) and skips the final parity refit") {
    // Lattice-valued embeddings: every dim's global min/max is attained
    // inside EVERY micro-batch (value depends only on t mod 12 where
    // t = position/4, and repartition(4) of a single input partition is
    // round-robin, so each batch's t values cover all residues mod 12).
    // The additive stats are therefore already the full-corpus stats at
    // the first-epoch fit and every later batch has drift == 0.0
    // exactly: the policy must not rewrite again, and the final parity
    // refit must be skipped as byte-identical (r15 verdict #3 — the old
    // compactEvery=2 schedule rewrote this corpus twice mid-stream plus
    // had the final-refit question; the policy does ONE rewrite total).
    val n = 480; val dims = 16
    // all 16 anchors (vec_id < nCentroids) at positions ≡ 0 (mod 4) so
    // they land in a single micro-batch and the first epoch can start
    // before the last batch
    val anchorPos = (0 until 16).map(_ * 4)
    val posToVec: Map[Int, Long] = {
      val anchors = anchorPos.zipWithIndex.map { case (p, a) => p -> a.toLong }
      var next = 16L
      val rest = (0 until n).filterNot(anchorPos.contains).map { p =>
        val id = next; next += 1; p -> id
      }
      (anchors ++ rest).toMap
    }
    val data = (0 until n).map { j =>
      val t = j / 4
      val label = t % 4
      val emb = (0 until dims).map { i =>
        ((((label * 7 + i) % 5) * 0.2) + (((t + i) % 3 - 1) * 0.1)).toFloat
      }
      (posToVec(j), emb, label)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc_nodrift_").toString
    data.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    var store = ""
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    def fileMap(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(store)
      if (!java.nio.file.Files.exists(base)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(base)
        try walk.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p)))
          .toMap
        finally walk.close()
      }
    }
    val got = StreamOps.ivfAdcTopKReplayBatch(spark, s"$dir/embeddings.parquet",
        batchProbe = Some((rows, refit) => {
          probes += ((rows, refit)); snaps += fileMap(); ()
        }),
        stateDirProbe = p => { store = p })
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probes.count(_._2 == 1L) == 1,
      s"no-drift replay must rewrite exactly once (first-epoch fit): $probes")
    // every batch after the fit appended only (tier merges excepted,
    // r18: a compact batch merges one level's fan-in, never a drift
    // rewrite) — on plain append batches pre-existing cell files survive
    // at their size
    for (i <- 1 until snaps.length
         if probes(i)._2 == 0L && !tierMerged(snaps(i - 1), snaps(i))) {
      val prev = snaps(i - 1); val cur = snaps(i)
      val lost = prev.filterNot { case (f, sz) => cur.get(f).contains(sz) }
      assert(lost.isEmpty,
        s"non-refit batch ${i + 1} rewrote pre-existing cell files: ${lost.keys}")
    }
    // the final parity refit was SKIPPED: the on-disk store is bitwise
    // the state the last micro-batch left behind
    assert(fileMap() == snaps.last,
      "final parity refit ran on a no-drift replay (store rewritten after the last batch)")
    // …and skipping it is still oracle-exact: bit-equality with the
    // batch IVFADC rung on the same corpus (nprobe=4 over 4 labels makes
    // the probe set insensitive to centroid FP summation order here)
    val batch = graft.pipeline.Similarity.ivfAdcTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        queryId = graft.pipeline.IvfParams.QueryVecId,
        k = graft.pipeline.IvfParams.K,
        nprobe = 4,
        m = graft.pipeline.IvfParams.Pq.M,
        nCentroids = graft.pipeline.IvfParams.Pq.NCentroids,
        rerankN = graft.pipeline.IvfParams.IvfAdc.RerankN)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == batch, s"no-drift streamed ADC $got != batch IVFADC $batch")
  }

  test("mergeBatchIntoBucketedStore: a batch deleting EVERY row of a bucket removes its directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_empty_").toString
    val target = s"$dir/target"
    val nBuckets = 4
    // seed: keys 0..7 -> buckets 0..3, two keys each (4 and 5 land in
    // bucket 0 and 1 etc.); bucket b holds keys {b, b+4}
    import org.apache.spark.sql.functions.{lit, pmod}
    val base = (0L until 8L).map(k => (k, k * 10.0)).toDF("k", "v")
    base.withColumn("bucket", pmod($"k", lit(nBuckets.toLong)).cast("int"))
      .write.partitionBy("bucket").parquet(target)
    // batch: delete BOTH rows of bucket 2 (keys 2 and 6) and upsert key 1.
    // Dynamic overwrite alone would leave bucket=2's directory (and the
    // two deleted rows) untouched because the merged output has no rows
    // for it — the explicit emptied-bucket cleanup is what this pins.
    val batch = Seq((2L, "D", 0.0), (6L, "D", 0.0), (1L, "U", 111.0))
      .toDF("k", "op", "v")
    StreamOps.mergeBatchIntoBucketedStore(spark, batch, target, nBuckets, "k")
    val got = spark.read.parquet(target).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = Set((0L, 0.0), (4L, 40.0), (1L, 111.0), (5L, 50.0),
      (3L, 30.0), (7L, 70.0))
    assert(got == expected, s"deleted-bucket rows survived: $got")
    assert(!new java.io.File(s"$target/bucket=2").exists(),
      "emptied bucket directory not removed")
    assert(!new java.io.File(s"$target/_graft_emptied_tombstone").exists(),
      "tombstone must be cleared after a successful delete")
  }

  test("mergeBatchIntoBucketedStore: crash between overwrite and emptied-bucket delete converges on retry") {
    // r13 #3: the overwrite and the emptied-bucket delete are two FS
    // steps; the tombstone redo log must make a crash between them
    // recoverable by the foreachBatch retry of the SAME batch.
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_crash_").toString
    val target = s"$dir/target"
    val nBuckets = 4
    import org.apache.spark.sql.functions.{lit, pmod}
    val base = (0L until 8L).map(k => (k, k * 10.0)).toDF("k", "v")
    base.withColumn("bucket", pmod($"k", lit(nBuckets.toLong)).cast("int"))
      .write.partitionBy("bucket").parquet(target)
    val batch = Seq((2L, "D", 0.0), (6L, "D", 0.0), (1L, "U", 111.0))
      .toDF("k", "op", "v")
    // attempt 1: kill the writer in the r13-documented window
    val boom = intercept[RuntimeException] {
      StreamOps.mergeBatchIntoBucketedStore(spark, batch, target, nBuckets, "k",
        failpoint = stage =>
          if (stage == "post-overwrite") throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")
    // the crash left the resurrected rows AND the durable tombstone
    assert(new java.io.File(s"$target/bucket=2").exists(),
      "precondition: the crash window must leave the emptied bucket behind")
    assert(new java.io.File(s"$target/_graft_emptied_tombstone").exists(),
      "tombstone must be on disk BEFORE the overwrite")
    val resurrected = spark.read.parquet(target).select("k", "v")
      .collect().map(r => r.getLong(0)).toSet
    assert(resurrected.contains(2L) && resurrected.contains(6L),
      "precondition: deleted rows are visible in the crash window")
    // attempt 2 = the retry of the SAME batch: entry replays the tombstone
    StreamOps.mergeBatchIntoBucketedStore(spark, batch, target, nBuckets, "k")
    val got = spark.read.parquet(target).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = Set((0L, 0.0), (4L, 40.0), (1L, 111.0), (5L, 50.0),
      (3L, 30.0), (7L, 70.0))
    assert(got == expected, s"retry did not converge: $got")
    assert(!new java.io.File(s"$target/bucket=2").exists(),
      "emptied bucket must be gone after the retry")
    assert(!new java.io.File(s"$target/_graft_emptied_tombstone").exists(),
      "tombstone must be cleared after the retry")
  }

  test("decontaminateReplayBatch: multi-batch stream flags equal the batch operator") {
    val dir = "/root/testdata/sf0.001"
    val res = StreamOps.decontaminateReplayBatch(spark, s"$dir/documents.parquet")
    // the staged 4-file split + maxFilesPerTrigger=1 must yield REAL
    // multi-batch execution (each non-empty micro-batch appends its own
    // part files) — a single-batch run would prove nothing cross-batch
    assert(res.inputFiles.length >= 2,
      s"only ${res.inputFiles.length} output parts — stream collapsed to one micro-batch")
    val streamed = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = graft.pipeline.Curation.decontaminate(
        spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("nearDupIngestReplayBatch: multi-batch stream near-dup flags equal the batch twin") {
    val dir = "/root/testdata/sf0.001"
    val res = StreamOps.nearDupIngestReplayBatch(spark, s"$dir/documents.parquet")
    assert(res.inputFiles.length >= 2,
      s"only ${res.inputFiles.length} output parts — stream collapsed to one micro-batch")
    val streamed = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.pipeline.Dedup.nearDupIngest(
        spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty, "planted near-dups must be flagged")
    // every flagged doc is an ARRIVING doc — corpus docs never self-flag
    assert(streamed.forall(_._1 >= graft.pipeline.Dedup.DefaultCorpusMaxId))
  }

  test("tieredCompactStore: merges fire per level at fan-in, cascade, preserve rows, and leave sibling tiers/buckets untouched") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tier_test_")
    val flat = s"$root/flat"
    def ls(p: String): Seq[String] = {
      val d = new java.io.File(p)
      Option(d.listFiles()).toSeq.flatten.map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
    }
    def append(store: String, i: Int): Unit =
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(store)
    // below fan-in: nothing merges
    (1 to 3).foreach(append(flat, _))
    assert(!StreamOps.tieredCompactStore(spark, flat, 4))
    assert(ls(flat).size == 3 && !ls(flat).exists(_.startsWith("tier")))
    // at fan-in: the 4 level-0 files merge into exactly ONE tier1 file
    append(flat, 4)
    assert(StreamOps.tieredCompactStore(spark, flat, 4))
    val afterFirst = ls(flat)
    assert(afterFirst.size == 1 && afterFirst.head.startsWith("tier1-"),
      s"expected one tier1 file, got $afterFirst")
    val tier1a = afterFirst.head
    assert(spark.read.parquet(flat).as[(Long, String)].collect().sorted
      .toSeq == (1 to 4).map(i => (i.toLong, s"v$i")))
    // appends 5..15 with per-batch maintenance: tier1 merges at 8 and 12,
    // and the FIRST tier1 file is never rewritten by them (same name) —
    // a level-0 merge touches level-0 files only, never the store
    (5 to 15).foreach { i =>
      append(flat, i); StreamOps.tieredCompactStore(spark, flat, 4); ()
    }
    assert(ls(flat).contains(tier1a),
      "a level-0 merge rewrote an existing tier1 file — maintenance is " +
        "not tiered")
    assert(ls(flat).count(_.startsWith("tier1-")) == 3)
    // the 16th append fills level 0 AND (after its promotion) level 1 —
    // but cascades are DEFERRED (r18 verdict #3: one merge per dir per
    // call, so a micro-batch never stacks a full cascade of merge jobs):
    // this call merges ONLY level 0, leaving 4 tier1 files awaiting the
    // next call
    append(flat, 16)
    assert(StreamOps.tieredCompactStore(spark, flat, 4))
    val afterL0 = ls(flat)
    assert(afterL0.size == 4 && afterL0.forall(_.startsWith("tier1-")),
      s"expected 4 tier1 files (cascade deferred), got $afterL0")
    assert(spark.read.parquet(flat).count() == 16L)
    // the deferred cascade completes on the NEXT call (no append needed)
    assert(StreamOps.tieredCompactStore(spark, flat, 4))
    val afterCascade = ls(flat)
    assert(afterCascade.size == 1 && afterCascade.head.startsWith("tier2-"),
      s"expected the deferred cascade to leave one tier2 file, got $afterCascade")
    assert(spark.read.parquet(flat).count() == 16L)
    // bucketed store: each bucket dir maintains independently — the
    // bucket past fan-in merges, its under-threshold sibling keeps its
    // level-0 files byte-for-byte (same names)
    val bkt = s"$root/bkt"
    (1 to 4).foreach { i =>
      val rows = if (i <= 2) Seq((i.toLong, 0), (100L + i, 1)) else Seq((i.toLong, 0))
      rows.toDF("k", "bucket").repartition(2, org.apache.spark.sql.functions.col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(bkt)
    }
    val b1Before = ls(s"$bkt/bucket=1")
    assert(StreamOps.tieredCompactStore(spark, bkt, 4))
    assert(ls(s"$bkt/bucket=0").size == 1 &&
      ls(s"$bkt/bucket=0").head.startsWith("tier1-"))
    assert(ls(s"$bkt/bucket=1") == b1Before,
      "an under-threshold bucket was rewritten by its sibling's merge")
    // bucket partition column survives the merge (derived from the dir)
    assert(spark.read.parquet(bkt).filter($"bucket" === 0).count() == 4L)
    assert(spark.read.parquet(bkt).filter($"bucket" === 1).count() == 2L)
  }

  test("tieredCompactStore: a size-targeted merge emits >1 bounded part; readers see identical rows") {
    // r18 verdict #4: a top-tier merge of a deployment-sized generation
    // must not be a single-task single-file writer — with a (tiny, for
    // the test) targetFileBytes the merged level splits into several
    // parts, all carrying the same tier level, and read-back is unchanged
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tier_size_")
    val flat = s"$root/flat"
    (1 to 4).foreach { i =>
      (1 to 200).map(j => (i.toLong * 1000 + j, s"v$i-$j"))
        .toDF("k", "v").coalesce(1).write.mode("append").parquet(flat)
    }
    val before = spark.read.parquet(flat).as[(Long, String)]
      .collect().sorted.toSeq
    assert(StreamOps.tieredCompactStore(spark, flat, 4,
      targetFileBytes = 1024L))
    val files = Option(new java.io.File(flat).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith("."))
    assert(files.size > 1 && files.forall(_.startsWith("tier1-")),
      s"expected >1 size-bounded tier1 parts, got $files")
    val after = spark.read.parquet(flat).as[(Long, String)]
      .collect().sorted.toSeq
    assert(after == before, "size-targeted merge changed the rows")
  }

  test("curationReplayBatch: incremental survivor maintenance equals the composed batch pipeline") {
    val dir = "/root/testdata/sf0.001"
    var batches = 0
    var admitted = 0L
    var stateRoot = ""
    def parquetFiles(p: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      val d = new java.io.File(p)
      if (!d.exists()) Seq.empty
      else walk(d).filter(_.getName.endsWith(".parquet"))
    }
    val stores = Seq("shingles", "bands", "docs")
    // post-batch snapshot of the tiered stores' files (path -> size)
    val snaps = scala.collection.mutable.ArrayBuffer(Map.empty[String, Long])
    val res = StreamOps.curationReplayBatch(spark, s"$dir/documents.parquet",
      batchProbe = Some((a, _) => {
        batches += 1; admitted += a
        snaps += stores.flatMap(st => parquetFiles(s"$stateRoot/$st"))
          .map(f => (f.getPath, f.length)).toMap
        ()
      }),
      stateDirProbe = p => { stateRoot = p })
    val streamed = res.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(batches >= 2, s"need >=2 probed micro-batches, got $batches")
    assert(admitted > 0L)
    // bounded read fan-in, size-tiered since r18: some batches run a
    // level merge (a new tier<L>- file appears) and some only append,
    // and each DIR's file count stays <= fanIn per tier level (level-0
    // appends waiting for a merge plus at most fanIn-1 files per higher
    // tier) — never O(batches) files, never an O(store) wholesale rewrite
    val merged = snaps.sliding(2).map(w => tierMerged(w(0), w(1))).toSeq
    assert(merged.contains(true) && merged.contains(false),
      s"expected both compact and append batches, got $merged")
    // the tiered invariant, asserted per DIR per LEVEL (r18 advice #3:
    // the old exact fully-merged counts assumed every bucket receives
    // exactly fanIn level-0 appends — a distribution where a bucket
    // misses a batch legitimately leaves unmerged level-0 files; the
    // actual contract is <= fanIn files per level per dir)
    val tierRe = "^tier(\\d+)-".r
    def levelOf(n: String): Int =
      tierRe.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(0)
    stores.foreach { store =>
      val byDirLevel = parquetFiles(s"$stateRoot/$store")
        .groupBy(f => (f.getParent, levelOf(f.getName)))
      byDirLevel.foreach { case ((dir, lvl), fs) =>
        assert(fs.size <= 4,
          s"$store $dir level $lvl holds ${fs.size} files > fanIn(4) — " +
            "the tiered maintenance bound is broken")
      }
    }
    assert(parquetFiles(s"$stateRoot/docs")
        .exists(_.getName.startsWith("tier1-")),
      "doc store holds no tier1 file — the level merge never fired")
    val batch = graft.pipeline.Curation.curationPipelineE2e(
        spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(streamed.toSeq == batch.toSeq,
      "incrementally maintained final state must equal the batch pipeline")
    assert(streamed.nonEmpty)
  }

  test("curationReplayBatch: a later smaller doc_id REVISES the keeper across batches; final state still matches the batch pipeline") {
    import graft.pipeline.Curation
    val tmpd = java.nio.file.Files.createTempDirectory("graft_cur_rev_").toString
    // texts engineered to clear the gopher gates: 40 tokens, 2 stopwords,
    // 5-char words (mean chars/word 197/40 = 4.93 ∈ [4.5, 5]), all-distinct
    // tokens (max repetition 1)
    val stop = Seq("the", "that")
    def words(seed: Int, n: Int): Seq[String] =
      (0 until n).map(i => f"w$seed%02d$i%02d")
    def doc(seed: Int): String = (stop ++ words(seed, 38)).mkString(" ")
    val benchText = doc(90)
    val rows = Seq(
      (0L, benchText), (5L, doc(91)), // benchmark docs (input, never data)
      // exact-dup group spanning the id extremes: the DESCENDING replay
      // admits 19999 first, then 101 must supersede it in a later batch
      (19999L, doc(1)), (101L, doc(1)),
      // near-dup pair (trigram Jaccard 35/41 ≈ 0.854): cluster rep = min id
      (150L, (stop ++ words(2, 38)).mkString(" ")),
      (19950L, (stop ++ words(2, 37) :+ "zzzzz").mkString(" ")),
      // contaminated: shares the benchmark doc's 5-grams
      (200L, benchText),
      // clean survivors spread over the id range
      (300L, doc(3)), (400L, doc(4)), (19900L, doc(5)), (19800L, doc(6)))
    import spark.implicits._
    val docsPath = s"$tmpd/documents.parquet"
    rows.toDF("doc_id", "text").write.parquet(docsPath)
    var batches = 0
    var superseded = 0L
    val res = StreamOps.curationReplayBatch(spark, docsPath,
      batchProbe = Some((_, s) => { batches += 1; superseded += s }))
    val streamed = res.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(batches >= 2, s"need >=2 probed micro-batches, got $batches")
    assert(superseded >= 1L,
      "the descending replay must revise at least one stored keeper")
    val batch = Curation.curationPipelineE2e(spark.read.parquet(docsPath))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(streamed.toSeq == batch.toSeq)
    // the revised group survives as its SMALLER id; the superseded keeper
    // and the contaminated doc are gone; the near-dup pair keeps min only
    val ids = streamed.map(_._1).toSet
    assert(ids.contains(101L) && !ids.contains(19999L))
    assert(!ids.contains(200L))
    assert(ids.contains(150L) && !ids.contains(19950L))
  }

  test("mediaDupReplayBatch: additive (SUM, MIN) group folds equal the batch media_dup_groups") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val res = StreamOps.mediaDupReplayBatch(spark, s"$dir/documents.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val planted = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val batch = graft.multimodal.Media.perceptualHash(
        graft.multimodal.Media.mediaFromDocuments(docs.unionByName(planted)),
        realCodecs = false)
      .toDF()
      .groupBy("phash_hi", "phash_lo")
      .agg(count(lit(1)).cast("long").as("n_media"), min("media_id").as("keep_id"))
      .filter(col("n_media") > 1)
      .orderBy("keep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(res.toSeq == batch.toSeq)
    // every planted re-crawl copy groups with its original, keeper = original
    assert(res.nonEmpty && res.forall { case (_, _, n, keep) => n >= 2 && keep < 50 })
  }

  test("cmsReplayBatch: cross-batch cell-wise merge equals the batch sketch (linearity)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{PortableHash, Sketches}
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = StreamOps.cmsReplayBatch(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // batch twin: ONE CountMinAgg over the whole input, identical reads —
    // linearity says the micro-batch-merged sketch must equal it exactly
    val ev = spark.read.parquet(path)
    val sk = ev.agg(Sketches.count_min_agg(col("event_type"), 4, 256).as("sk"))
    val tru = ev.groupBy("event_type").agg(count(lit(1)).cast("long").as("true_n"))
    val reads = (0 until 4).map { j =>
      element_at(col("sk"),
        (PortableHash.md5Bits60(concat(col("event_type"), lit(s":$j"))) % 256
          + lit(j * 256) + 1).cast("int"))
    }
    val batch = tru.crossJoin(broadcast(sk))
      .select(col("event_type"), least(reads: _*).as("est_n"), col("true_n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    streamed.foreach { case (et, est, tru0) =>
      assert(est >= tru0, s"CMS one-sided bound violated for $et: $est < $tru0")
    }
  }

  test("mergeUpsertReplayBatch: micro-batched CDC apply equals the one-shot batch merge") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/orders.parquet"
    val streamed = StreamOps.mergeUpsertReplayBatch(spark, path)
      .collect().map(_.toSeq).toSeq
    val base = spark.read.parquet(path)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"), col("o_totalprice"))
    val batch = graft.pipeline.Cdc.applyChanges(
        base, graft.pipeline.Cdc.demoChanges(base), "o_orderkey")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // deletes really happened (%10==7 keys absent), inserts landed
    val keys = streamed.map(_.head.asInstanceOf[Long])
    assert(!keys.exists(_ % 10 == 7) && keys.exists(_ > 100000000L))
  }

  test("changePointReplayBatch: hour state accumulated across batches equals the batch kernel") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = StreamOps.changePointReplayBatch(spark, path)
      .collect().map(_.toSeq).toSeq
    val batch = graft.pipeline.Events.hourlyChangePoint(spark.read.parquet(path))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the replay's 4-way round-robin split scatters every hour across
    // micro-batches, so equality here proves the additive hour state
    // composed across batches — not a single-batch degenerate run
    assert(streamed.nonEmpty && streamed.head.length == 7)
  }

  test("windowedAggReplayBatch: final complete-mode state equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.windowedAggReplayBatch(spark, s"$dir/events.parquet")
      .collect().map(_.toSeq).toSeq
    val batchSrc = spark.read.parquet(s"$dir/events.parquet")
    val batch = batchSrc
      .select(graft.TsCompat.msOf(batchSrc).as("ms"), col("event_type"), col("value"))
      .groupBy((col("ms") - col("ms") % 21600000L).as("window_ms"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("window_ms", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("sessionReplayBatch: native session_window replay equals batch sessionize, gap boundary included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted boundary corpus: user 1 has gaps of EXACTLY 30 min (same
    // session under the batch `diff > gap` rule — the case the streaming
    // side's gap+1 alignment exists for) and one gap of 30 min + 1 ms
    // (new session in both models); user 2 is a single event
    val gap = 1800000L
    val t0 = 1700000000000L
    val rows = Seq(
      (1L, t0, 1.0), (1L, t0 + gap, 2.0), (1L, t0 + 2 * gap, 3.0),
      (1L, t0 + 3 * gap + 1, 4.0),
      (2L, t0, 5.0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sess_fixture_").toString
    rows.toDF("user_id", "ms", "value")
      .select(col("user_id"), (col("ms") * 1000000L).as("ts"), col("value"))
      .write.mode("overwrite").parquet(s"$tmp/events")
    val streamed = StreamOps.sessionReplayBatch(spark, s"$tmp/events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq == Seq(
      (1L, 1L, t0, 3L),             // three events chained at exactly-gap
      (1L, 2L, t0 + 3 * gap + 1, 1L), // gap+1 ms starts session 2
      (2L, 1L, t0, 1L)))
    // and the replay equals the batch sessionize relation on the fixture
    val batch = graft.pipeline.Events.sessionize(
        spark.read.parquet(s"$tmp/events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("intervalJoinReplayBatch: streaming interval join equals the batch range join") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.intervalJoinReplayBatch(spark, s"$dir/events.parquet")
      .collect().map(_.toSeq).toSeq
    val evSrc = spark.read.parquet(s"$dir/events.parquet")
    val ev = evSrc.select(col("event_id"), graft.TsCompat.msOf(evSrc).as("ms"))
    val batch = graft.pipeline.RangeJoin.selfWithin(ev, "event_id", "ms", 5000L)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("request stream: memory source → parse → windowed rates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val base = 1700000000000L
    mem.addData(
      (new java.sql.Timestamp(base), "1 1 G1.txt"),
      (new java.sql.Timestamp(base + 1000), "2 4 G1.txt"),
      (new java.sql.Timestamp(base + 2000), "3 3 G1.txt"),
      (new java.sql.Timestamp(base + 61000), "4 4 G1.txt"))
    val parsed = StreamOps.parseRequests(mem.toDF().toDF("ts", "value"))
    val rates = StreamOps.requestRates(parsed)
    val q = rates.writeStream.format("memory").queryName("req_rates")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT worker, n FROM req_rates ORDER BY window_start, worker")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows.contains(("primary", 1L)))
      assert(rows.contains(("secondary_1", 1L)))
      assert(rows.contains(("secondary_2", 1L)))
    } finally q.stop()
  }

  test("windowed event rates over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val base = 1700000000000L
    mem.addData(
      (new java.sql.Timestamp(base), "click", 1.0),
      (new java.sql.Timestamp(base + 1000), "click", 2.0),
      (new java.sql.Timestamp(base + 2000), "view", 3.0))
    val rates = StreamOps.eventRates(mem.toDF().toDF("ts", "event_type", "value"))
    val q = rates.writeStream.format("memory").queryName("ev_rates")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n, sum_value FROM ev_rates ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("stream-stream interval self-join pairs events within the window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val joined = StreamOps.selfWithinStream(
      mem.toDF().toDF("ts", "event_id"), withinMs = 5000L)
    val q = joined.writeStream.format("memory").queryName("ss_within")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), 1L), (ts(3000), 2L), (ts(10000), 3L))
      q.processAllAvailable()
      mem.addData((ts(12000), 4L)) // within 5s of event 3, across batches
      q.processAllAvailable()
      val pairs = spark.sql("SELECT id_a, id_b FROM ss_within")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming dedup drops watermark-window duplicates, keeps first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val deduped = StreamOps.dedupStream(
      mem.toDF().toDF("ts", "doc_id", "text"), watermark = "10 seconds")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), 1L, "alpha"), (ts(1000), 2L, "alpha"), (ts(2000), 3L, "beta"))
      q.processAllAvailable()
      // a second batch inside the watermark window: 'alpha' is still a dup
      mem.addData((ts(3000), 4L, "alpha"), (ts(4000), 5L, "gamma"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_stream")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("event-time sessionization closes sessions when the watermark passes end+gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val sessions = StreamOps.sessionizeStreamEventTime(
      mem.toDF().toDF("ts", "user_id", "value"),
      gapMs = 5000L, watermarkDelay = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("et_sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 1s apart = one session
      mem.addData((ts(1000), 1L, 1.0), (ts(2000), 1L, 2.0))
      q.processAllAvailable()
      // later traffic pushes the watermark past 2000+5000
      mem.addData((ts(60000), 2L, 9.0))
      q.processAllAvailable()
      // one more batch so the timeout fires against the advanced watermark
      mem.addData((ts(61000), 2L, 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_start_ms, n_events, sum_value FROM et_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(rows.contains((1L, base + 1000, 2L, 3.0)),
        s"user 1's session not closed by watermark: $rows")
    } finally q.stop()
  }

  test("funnelStream: chain follows event time, not arrival order, across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Int)]
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val funnels = StreamOps.funnelStream(
      mem.toDF().toDF("ts", "user_id", "code"), watermarkDelay = "10 seconds")
    val q = funnels.toDF().writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // user 1's click arrives BEFORE its view in the same batch; the
      // purchase lands in a LATER batch — event-time order must win
      mem.addData((ts(2000), 1L, 1), (ts(1000), 1L, 0), (ts(5000), 2L, 0))
      q.processAllAvailable()
      mem.addData((ts(3000), 1L, 2), (ts(100000), 3L, 0))
      q.processAllAvailable()
      // watermark now passes user 1's buffer; a further batch fires timeouts
      mem.addData((ts(200000), 3L, 1))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, view_ms, click_ms, purchase_ms FROM funnel_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows == Seq((1L, base + 1000, base + 2000, base + 3000)),
        s"expected exactly user 1's chain, got $rows")
    } finally q.stop()
  }

  test("funnelStream: out-of-order stages never complete; one emission per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Int)]
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val funnels = StreamOps.funnelStream(
      mem.toDF().toDF("ts", "user_id", "code"), watermarkDelay = "0 seconds")
    val q = funnels.toDF().writeStream.format("memory").queryName("funnel_stream2")
      .outputMode("append").start()
    try {
      // user 1: purchase precedes click in EVENT time → never completes;
      // user 2: two full chains → only the first emits
      mem.addData((ts(1000), 1L, 0), (ts(2000), 1L, 2), (ts(3000), 1L, 1),
        (ts(1000), 2L, 0), (ts(2000), 2L, 1), (ts(3000), 2L, 2),
        (ts(4000), 2L, 0), (ts(5000), 2L, 1), (ts(6000), 2L, 2))
      q.processAllAvailable()
      mem.addData((ts(50000), 9L, 0))
      q.processAllAvailable()
      mem.addData((ts(60000), 9L, 1))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, view_ms, click_ms, purchase_ms FROM funnel_stream2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows == Seq((2L, base + 1000, base + 2000, base + 3000)),
        s"expected only user 2's FIRST chain, got $rows")
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions (batch-mode parity)") {
    val evs = Seq(
      UserEvent(1, 0, 1.0), UserEvent(1, 1000, 2.0),        // session 1
      UserEvent(1, 10000000, 5.0),                          // session 2 (open)
      UserEvent(2, 0, 1.0)).toDS()                          // open
    val out = StreamOps.sessionizeStream(evs).collect()
    // batch mode: only sessions closed by a later gap are emitted
    assert(out.toSeq == Seq(SessionOut(1, 0, 2, 3.0)))
  }
}
