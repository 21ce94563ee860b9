package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Census mass-vs-time adjudication (round-12 task #4): the K4 census
  * soaks super-2× at 10× data, and the docstring claims the
  * superlinearity is output MASS (C(s,4) growth on dense baskets), not
  * plan. This tool MEASURES it: total K4 and triangle mass (distinct
  * cliques = Σ per-vertex counts / clique size) at sf0.1 and in the 10×
  * soak replica, printed as one JSON line for SOAK_ADJUDICATION.json —
  * time-ratio ≤ mass-ratio means enumeration work tracks the output, the
  * plan is sound. The 10× replica is disjoint referentially intact
  * copies, so the EXPECTED mass ratio is exactly 10 (same density per
  * copy, no cross-copy cliques); a measured ratio ≠ 10 would itself flag
  * a replica defect. Usage:
  * `sbt "runMain graft.CensusMass [sf0.1Dir] [soakWorkDir]"` — run
  * `graft.Soak` first so the replica exists and is fingerprint-fresh.
  */
object CensusMass {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_soak_sf1")
    require(new java.io.File(s"$workDir/lineitem.parquet").exists(),
      s"soak replica missing at $workDir — run graft.Soak first")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def massOf(dir: String): (Long, Long) = {
      val k4 = SparkEntry.queries("fourclique_counts")(spark, dir)
        .agg(sum("n_cliques4").as("s")).collect()(0).getLong(0) / 4L
      val tri = SparkEntry.queries("triangle_counts")(spark, dir)
        .agg(sum("n_triangles").as("s")).collect()(0).getLong(0) / 3L
      (k4, tri)
    }
    val (k4Base, triBase) = massOf(srcDir)
    val (k4Scaled, triScaled) = massOf(workDir)
    val json =
      f"""{"src":"$srcDir","work":"$workDir","k4_base":$k4Base,"k4_scaled":$k4Scaled,""" +
        f""""k4_mass_ratio":${k4Scaled.toDouble / k4Base}%.2f,""" +
        f""""tri_base":$triBase,"tri_scaled":$triScaled,""" +
        f""""tri_mass_ratio":${triScaled.toDouble / triBase}%.2f}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_MASS_OUT", "/tmp/census_mass.json")), json)
    spark.stop()
  }
}

/** sf1 scale soak: replicate the sf0.1 testdata 10× into DISJOINT key
  * spaces under a scratch dir, then time the slowest headline queries at
  * both scales in one session — evidence that fixpoint round counts and
  * candidate-join caps scale as designed (a 10× input should cost ≈ 10×,
  * never blow up). Usage: `sbt "runMain graft.Soak [sf0.1Dir] [workDir]"`;
  * writes `SOAK_sf1.json` (override with SPARK_GRAFT_SOAK_OUT).
  *
  * What "×10" must MEAN per table — naive row duplication would change
  * the workload's shape, not just its size:
  * - Relational keys offset by copy × 4e9: each copy is a referentially
  *   intact replica in its own id range, so joins and derived graphs
  *   become 10 disjoint copies — same diameter/depth (same number of
  *   fixpoint rounds), 10× the width per round. The stride clears every
  *   vertex-namespace base in [[graft.graph.DerivedGraphs]].
  * - documents: every token is salted with the copy tag, so cross-copy
  *   text similarity is ZERO and near-dup candidate joins scale linearly.
  *   Exact text copies would instead multiply near-dup PAIRS
  *   quadratically in the copy count — a semantically different (and
  *   unrepresentative) workload.
  * - events: ts shifted one year per copy, so the time-proximity interval
  *   join finds no cross-copy pairs (it matches on time alone); ids
  *   offset like relational keys.
  */
object Soak {

  /** The slowest queries of the recent benches: the round-6 list, round
    * 7's five heavies (bootstrap, MIS, SCC, Katz, random walks — the new
    * fixpoint/explode shapes whose scaling is exactly what a soak must
    * witness), plus round 8's betweenness (bench worst-2 since).
    */
  val SlowQueries: Seq[String] = Seq(
    // round-16 additions FIRST: the per-batch refit/append record for the
    // IVFADC twin (r15 verdict #5) and the composed curation chain's
    // handoff scaling are this round's soak evidence — front-running them
    // means a budget-truncated soak still captures the new claims
    "stream_ivfadc_topk", "pipeline_curation_e2e", "stream_curation_e2e",
    "curation_funnel", "stream_media_dup",
    // r18 additions: the two serve-store twins that gained size-tiered
    // maintenance (their stores previously accrued O(batches) files)
    "stream_bm25_serving", "stream_quantiles_sampled",
    "bootstrap_ci_mean", "graph_mis", "scc_components", "katz_top20",
    "graph_random_walks", "betweenness_top50",
    "wpagerank_top20", "subtree_sizes", "label_propagation",
    "stream_interval_join", "ngram_containment", "bfs_bipartite",
    "hits_top20", "pagerank_top20", "clustering_coeff", "link_prediction",
    "ngram_jaccard",
    // round-11 heavies: the K4 census (the bench worst — 15.5 s isolated
    // r11), the ExactSubstr cut, biased walks, and the Louvain move rounds
    "fourclique_counts", "dup_span_clean", "node2vec_walks",
    "louvain_moves",
    // round-11 second half: walk-window PMI (rides the walks), the
    // packed-register HyperBall, densest-subgraph peeling, and the
    // degree-threshold census — the four new super-2s shapes
    "walk_pmi", "hyperball_nf", "densest_bounded", "rich_club",
    // round-13: the delta-ingest streaming flagships — the whole point
    // of the delta/compaction layout is that 10× data costs ≈10× ingest,
    // never a per-batch snapshot blowup; soak them like the batch shapes
    "stream_graph_maintain", "stream_triangle_maintain",
    "stream_embedding_topk",
    // round-14: the K4 delta maintainer (the new bench worst — its
    // |Δ|-scaled claim is exactly what the 10× soak tests), the two
    // additive serving twins, and the composed ANN rung
    "stream_fourclique_maintain", "stream_assoc_rules", "stream_hll_users",
    "embedding_topk_ivfadc")

  val Copies = 10
  val Stride = 4000000000L // > SupplierBase + any key: copies stay disjoint

  /** Standing adjudications for ratios that drew scrutiny, emitted into
    * the artifact so the measurement note travels with the number.
    * Method (round 10, SOAK_ADJUDICATION.json): re-measure at 32 vs 128
    * shuffle partitions at the 10× scale — a ratio that melts with more
    * partitions is "fixed partition count too small for 10× data" (fix:
    * size partitions with data, per the deployment guidance); one that
    * doesn't is the shape itself.
    */
  val Adjudications: Map[String, String] = Map(
    "scc_components" -> ("sub-1.0 ratio is the DERIVED INPUT, not the " +
      "plan, and not measurement order (r19 order-swap: 0.48 " +
      "scaled-first vs 0.43 base-first - persists under both orders, " +
      "flat probes). The query derives its graph as v->7v,13v mod n " +
      "with n = supplier COUNT: at 1x ids are 0..n-1 and gcd(7,n)=" +
      "gcd(13,n)=1, so the edges are a union of two PERMUTATIONS of " +
      "Z_n - cycle-rich, deep peel rounds; at 10x the replica stride " +
      "(4e9, divisible by n=10000) makes 9 of 10 copies' ids " +
      "source-only (they never appear as a dst), a near-DAG that " +
      "peels in a fraction of the rounds. The disjoint-copy " +
      "construction does not commute with this query's input " +
      "derivation; the rounds-dominated runtime tracks the easier " +
      "derived graph"),
    "stream_interval_join" -> ("sub-1.0 ratio is FIRST-MEASURED-LEG " +
      "JIT warmth, proven by the r19 order-swap: base-first measures " +
      "0.70 (base 18.6s/scaled 13.0s), scaled-first measures 2.30 " +
      "(scaled 17.2s/base 7.5s) - whichever leg runs first in the " +
      "fresh JVM pays ~2x while C2 compiles the streaming machinery, " +
      "and the 3-rep median does not wash it out because warmth keeps " +
      "accruing across the leg's reps. Steady-state ratio from the " +
      "warm legs of both orders: ~1.7 at 10x data"),
    "stream_embedding_topk" -> ("sub-1.0 ratio is FIRST-MEASURED-LEG " +
      "JIT warmth, same class as stream_interval_join and proven the " +
      "same way (r19 order-swap, flat probes both runs): base-first " +
      "0.59 (base 17.5s/scaled 10.4s), scaled-first 1.15 (scaled " +
      "9.3s/base 8.1s) - the ratio crosses 1.0 when the order flips. " +
      "Steady-state from the warm legs: ~1.3 at 10x vectors - the " +
      "per-batch fixed cost (8 Spark jobs + state machinery per " +
      "micro-batch) dominates the 0.5->5 MB data term"),
    "dup_span_clean" -> ("NOT partition-starved (round-16 sweep): 128 " +
      "partitions at 10x data is SLOWER (6.2s -> 8.4s; the per-doc span " +
      "windows multiply task overhead with partition count); the 2.8 " +
      "ratio is the per-doc k-gram island scan over 10x docs plus the " +
      "fixed Spark overhead a 2.2s base cannot amortize"),
    "subtree_sizes" -> ("irreducible two-pass shape, NOT partition-starved: " +
      "128 partitions at 10x data is SLOWER (16.1s -> 20.9s; per-partition " +
      "offset rows grow with partition count); the ratio is the second " +
      "full pass over 10x data"),
    "bootstrap_ci_mean" -> ("refreshed round 14 (SOAK_ADJUDICATION" +
      ".json round14): the 10x run at p32 (27.8s) already matches r10's " +
      "best p128 time and p128 no longer improves it - the partition-" +
      "count component is gone; the elevated ratio is a 2x faster base " +
      "on unchanged 10x absolute cost"),
    "link_prediction" -> ("partially partition-count: 10x run 32.2s -> " +
      "26.3s at 128 partitions; remainder is the guardedBasket-capped " +
      "candidate-pair build, linear in baskets by construction"),
    // round-13 adjudications (SOAK_ADJUDICATION.json round13):
    "hits_top20" -> ("NOT partition-starved: 128 partitions at 10x is " +
      "SLOWER (19.9s -> 28.8s; two aggregates per round x fixed round " +
      "budget multiplies per-round task overhead); the ratio is genuine " +
      "per-round width growth, sublinear vs 10x input"),
    "pagerank_top20" -> ("mildly partition-count: 10x run 16.3s -> 14.6s " +
      "at 128 partitions; remainder is one join + one agg per round over " +
      "10x edge width with a constant round count"),
    "fourclique_counts" -> ("mass-adjudicated (graft.CensusMass): K4 " +
      "output mass scales exactly 10.00x on the disjoint-copy replica " +
      "(1.61M -> 16.08M cliques) while same-session time scales 9.09x - " +
      "enumeration work tracks the output census, the plan is sound"),
    // round-14 adjudications:
    "stream_fourclique_maintain" -> ("mass-driven like its batch twin " +
      "(K4 output mass scales exactly 10.00x, CensusMass) AND " +
      "geometry-shifted at 10x: the replica's 12M edges cross the 4M " +
      "exact-broadcast gate after batch 1, so the existence probes run " +
      "as shuffle joins with the |delta|*deg fan-out pre-pruned " +
      "map-side by a broadcast edge Bloom (r19: the unpruned shuffle " +
      "put the cn stage at 84% of the scaled replay, 191s in the last " +
      "batch; Bloom pruning cut it to 39s and the full-replay ratio " +
      "from 13.79 to 3.04 - sublinear vs the 10x output mass). The " +
      "twin's claim is per-BATCH delta cost; a 10x replay processes " +
      "10x total delta by construction"),
    // round-15 adjudications (SOAK_ADJUDICATION.json round15):
    "louvain_moves" -> ("NOT partition-starved: the 10x run at p128 is " +
      "2.8x SLOWER (10.7s -> 29.6s; move rounds x per-round task overhead " +
      "scale with partition count); the ratio is genuine per-round width " +
      "growth over 10x edges with a constant round budget - sublinear"),
    "label_propagation" -> ("NOT partition-starved: the 10x run at p128 " +
      "is 1.9x SLOWER (9.2s -> 17.7s; same per-round-overhead mechanism " +
      "as the other fixpoints); the ratio is per-round width growth over " +
      "10x edges, sublinear"),
    "stream_assoc_rules" -> ("replay-mass adjudicated: the 10x replica " +
      "holds 10x disjoint baskets, so a full replay processes 10x " +
      "pair/item/total delta by construction across the same 4 batches; " +
      "3.7x wall for 10x processed delta is sublinear - per-batch cost " +
      "is the guarded pair build plus delta-scaled bucketed merges"),
    "stream_curation_e2e" -> ("amortized stage RESHAPED in r18: store " +
      "maintenance is size-tiered (tieredCompactStore - a merge touches " +
      "one level's fanIn=4 files, so per-compact cost is bounded by the " +
      "tier being merged, never the accumulated store; the r17 policy's " +
      "every-4th-batch wholesale fold grew with the corpus, 6.7s -> " +
      "11.1s at 10x, the O(B*store) class r17 verdict #3 flagged); " +
      "a 12-batch 3x-length curation replay was the bounded " +
      "witness (flat compact-batch costs first->last, " +
      "SOAK_ADJUDICATION round18); the append-class batches remain the " +
      "|delta|-scaled claim's witness - keeper/label upserts are " +
      "bucketed, no row is ever rewritten outside a tier merge"),
    "stream_graph_maintain" -> ("per-batch adjudicated (r15 " +
      "instrumentation): batch cost is FLAT within a replay (first->last " +
      "3.23->3.25s base, 7.80->7.39s scaled) while the accumulated graph " +
      "grows 4x across it - the |delta|-scaled claim witnessed directly; " +
      "per-batch cost rises 2.4x for 10x per-batch delta and the " +
      "full-replay ratio is that sublinearity plus fixed stream overhead"))

  private def offset(c: String, i: Int): Column =
    (col(c) + lit(i.toLong * Stride)).cast("long").as(c)

  /** One scaled copy of a source table. Tables not listed are dimensions
    * shared across copies (region, nation) and are written once as-is.
    */
  private def copyOf(name: String, df: DataFrame, i: Int): DataFrame = name match {
    case "customer" => df.withColumn("c_custkey", offset("c_custkey", i))
    case "orders" => df
      .withColumn("o_orderkey", offset("o_orderkey", i))
      .withColumn("o_custkey", offset("o_custkey", i))
    case "lineitem" => df
      .withColumn("l_orderkey", offset("l_orderkey", i))
      .withColumn("l_partkey", offset("l_partkey", i))
      .withColumn("l_suppkey", offset("l_suppkey", i))
    // part/supplier replicate WITH the same key offsets lineitem uses, so
    // every copy's l_partkey/l_suppkey FKs resolve inside that copy —
    // without this, copies 1..9 would dangle and any part/supplier join
    // would quietly match only copy 0, skewing the 10× ratio
    case "part" => df.withColumn("p_partkey", offset("p_partkey", i))
    case "supplier" => df.withColumn("s_suppkey", offset("s_suppkey", i))
    case "documents" => df
      .withColumn("doc_id", offset("doc_id", i))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), x => concat(lit(s"c${i}_"), x))))
    case "events" => df
      .withColumn("event_id", offset("event_id", i))
      .withColumn("user_id", offset("user_id", i))
      // one year per copy, in the source's own ts flavor (TsCompat)
      .withColumn("ts", TsCompat.plusDays(df.schema("ts").dataType, i.toLong * 365L)
        .cast(df.schema("ts").dataType))
    // embeddings: ids offset, vectors/labels as-is — 10× vectors per cell
    // at the same cell density (a timing replica; the soak counts rows,
    // it does not re-verify ANN contents). The declared query vector
    // vec_id=0 stays unique (copies 1..9 hold only offset ids).
    case "embeddings" => df.withColumn("vec_id", offset("vec_id", i))
    case _ => df
  }

  private val ScaledTables =
    Seq("customer", "orders", "lineitem", "part", "supplier",
      "documents", "events", "embeddings")
  private val SharedTables = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    // `--list` prints the query set and exits (no Spark session): the
    // per-query-JVM driver (tools/soak_all.sh) reads it from here instead
    // of regex-scraping this source file, which silently truncated at the
    // first ')' inside the Seq block.
    if (args.contains("--list")) { println("SOAK_QUERIES: " + SlowQueries.mkString(" ")); return }
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_soak_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Override for partition-count experiments: the artifact's ratios are
    // measured with partitions = cpus at BOTH scales, the per-SF tuning a
    // real deployment would set; raising this at 10× data tests whether a
    // high ratio is a fixed-partition-count artifact or genuine work.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SOAK_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf: every session, including the `newSession()` ones the
      // stream twins run in, gets its own listener instance
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[BatchDurationListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    new java.io.File(workDir).mkdirs()
    // Stale-replica guard: the replica build is skipped when workDir files
    // exist, so a testdata REGENERATION (the driver rewrites
    // /root/testdata with changed physical types between rounds) would
    // silently leave a /tmp replica built from the OLD data — base
    // timings on new data, scaled timings on old, and TsCompat makes the
    // mismatch run without error. Fingerprint the source (file name +
    // size + mtime per table) and wipe the replica when it changes.
    locally {
      val fp = (SharedTables ++ ScaledTables).map { name =>
        val dir = new java.io.File(s"$srcDir/$name.parquet")
        val files = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        s"$name=[${files.mkString(",")}]"
      }.mkString("\n") + s"\ncopies=$Copies\n"
      val fpFile = java.nio.file.Paths.get(workDir, ".src_fingerprint")
      val stale = !java.nio.file.Files.exists(fpFile) ||
        java.nio.file.Files.readString(fpFile) != fp
      if (stale) {
        (SharedTables ++ ScaledTables).foreach { name =>
          val d = new java.io.File(s"$workDir/$name.parquet")
          if (d.exists()) {
            System.err.println(s"[soak] source fingerprint changed — rebuilding replica $name")
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
              f.delete(); ()
            }
            rm(d)
          }
        }
        java.nio.file.Files.writeString(fpFile, fp)
      }
    }
    for (name <- SharedTables ++ ScaledTables) {
      val out = s"$workDir/$name.parquet"
      if (!new java.io.File(out).exists()) {
        val df = spark.read.parquet(s"$srcDir/$name.parquet")
        val scaled =
          if (SharedTables.contains(name)) df
          else (0 until Copies).map(copyOf(name, df, _)).reduce(_ unionByName _)
        scaled.write.mode("overwrite").parquet(out)
      }
    }

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // Median of reps isolated runs (the Bench discipline): single-shot
    // ratios carried JIT/GC jitter. NOTE in-session isolation is NOT
    // enough across MANY queries — a 16-query soak session measured
    // round 10 inflated late queries up to 6× (codegen/metaspace growth
    // survives clearCache+gc); `tools/soak_all.sh` runs one JVM per
    // query and merges, which is how the committed artifact is built.
    val reps = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_SOAK_REPS=$reps must be >= 1")
    def time(name: String, dir: String): Double = {
      val times = (1 to reps).map { _ =>
        isolate()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // true median: upper-middle alone would bias even rep counts to
      // the worse observation (reps=2 would report the max)
      val s = times.sorted
      (s(s.size / 2) + s((s.size - 1) / 2)) / 2
    }
    // JVM/codegen warm-up so the first timed pair is comparable
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // probe-gated basis (r18 verdict #2): pre/post host-noise probes are
    // embedded in the artifact and the writer self-rejects (rc 3) when
    // either leaves the idle band — a cross-window 0.64-ratio entry like
    // r18's stream_embedding_topk can no longer land silently
    val probeScratch = graft.TmpDirs.create("graft_soak_probe_")
    val preProbe = NoiseProbe.full(probeScratch)

    // Per-batch cost record for the maintain twins (r14 verdict #7): a
    // 10× replay processes 10× total delta by construction, so the
    // full-replay ratio alone cannot separate |Δ|-scaled per-batch cost
    // (the twins' claim) from accumulated-graph cost. Each micro-batch's
    // `batchDuration` comes from [[BatchDurationListener]], drained per
    // timing; next to the replay ratio the soak emits (a) the per-batch
    // median at both scales and (b) the first-vs-last batch medians
    // WITHIN a replay — flat first→last while the accumulated graph
    // grows 4× across the replay is the |Δ|-scaling witness.
    def perBatchStats(durations: Seq[Double]): Option[String] = {
      if (durations.isEmpty) None
      else if (durations.size % reps != 0) {
        // replay boundaries are inferred by dividing the drained records
        // into `reps` equal groups; a retried/extra micro-batch would
        // silently shift every boundary and skew the first/last medians,
        // so refuse to emit rather than emit wrong numbers (r15 advice)
        System.err.println(s"[soak] ${durations.size} per-batch records not a " +
          s"multiple of reps=$reps (retried micro-batch?) — per-batch " +
          "stats suppressed for this timing")
        None
      } else {
        val perRep = durations.size / reps
        def med(xs: Seq[Double]): Double = {
          val s = xs.sorted; (s(s.size / 2) + s((s.size - 1) / 2)) / 2
        }
        val firsts = durations.grouped(perRep).map(_.head).toSeq
        val lasts = durations.grouped(perRep).map(_.last).toSeq
        Some(
          f""""median_sec":${med(durations)}%.3f,"batches_per_replay":$perRep,""" +
          f""""first_batch_median_sec":${med(firsts)}%.3f,"last_batch_median_sec":${med(lasts)}%.3f""")
      }
    }
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY").map(_.split(",").toSet)
    // Order-swap adjudication knob: a sub-1.0 ratio under FLAT noise
    // probes (10× data "faster" than 1×) is physically suspect. The
    // mechanical suspect is measurement ORDER — base runs first in the
    // fresh JVM, and iteration-dominated shapes (SCC: hundreds of
    // sub-second jobs) track C2-JIT warmth more than data size at this
    // scale, warmth that keeps accruing past the 3-rep median. Running
    // the SAME pair scaled-first isolates the effect: if the ratio
    // crosses 1.0 on swap, the anomaly is ordering, not the plan.
    val scaledFirst =
      sys.env.get("SPARK_GRAFT_SOAK_ORDER").contains("scaled_first")
    val rows = SlowQueries.filter(n => only.forall(_.contains(n))).map { name =>
      BatchDurationListener.drain()
      def leg(dir: String) = {
        val t = time(name, dir)
        (t, perBatchStats(BatchDurationListener.drain()))
      }
      val ((base, pbBase), (scaled, pbScaled)) =
        if (scaledFirst) { val s = leg(workDir); val b = leg(srcDir); (b, s) }
        else { val b = leg(srcDir); val s = leg(workDir); (b, s) }
      val ratio = scaled / base
      System.err.println(f"[soak] $name%-22s base=$base%6.2fs scaled=$scaled%7.2fs ratio=$ratio%5.2f")
      val pb = (pbBase, pbScaled) match {
        case (Some(b), Some(s)) =>
          s""","per_batch_base":{$b},"per_batch_scaled":{$s}"""
        case _ => ""
      }
      (name, base, scaled, ratio, pb)
    }
    require(rows.nonEmpty, "SPARK_GRAFT_SOAK_ONLY matched no SlowQueries " +
      "entry — add the query to Soak.SlowQueries before soaking it")
    val maxRatio = rows.map(_._4).max
    val postProbe = NoiseProbe.full(probeScratch)
    val noiseOk = preProbe.withinIdleBand && postProbe.withinIdleBand
    val qs = rows.map { case (n, b, s, r, pb) =>
      f"""\"$n\":{\"base_sec\":$b%.3f,\"scaled_sec\":$s%.3f,\"ratio\":$r%.2f$pb}"""
    }.mkString("{", ",", "}")
    val notes = rows.flatMap { case (n, _, _, _, _) =>
      Adjudications.get(n).map(a => s""""$n":"$a"""")
    }.mkString("{", ",", "}")
    // a swapped run self-labels so it can never silently merge into the
    // committed artifact as a normal part (soak_all.sh checks the field)
    val orderTag = if (scaledFirst) """"order":"scaled_first",""" else ""
    val json =
      f"""{"copies":$Copies,"src":"$srcDir","shuffle_partitions":$shufflePartitions,$orderTag"queries":$qs,"notes":$notes,"max_ratio":$maxRatio%.2f,""" +
        f""""noise_control":{"pre":${preProbe.json},"post":${postProbe.json}},"noise_ok":$noiseOk}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_sf1.json")), json)
    spark.stop()
    if (!noiseOk) {
      System.err.println("[soak] NOISE GATE: probes left the idle band — " +
        "basis rejected (rc 3); re-run in an idle window")
      sys.exit(3)
    }
  }
}

/** Micro-batch wall times (`StreamingQueryProgress.batchDuration`) of
  * every streaming query in the JVM, for the soak's per-batch record.
  * Registered through the static `spark.sql.streaming.streamingQueryListeners`
  * conf, so each session (the twins' `newSession()` ones included) gets
  * an instance; all instances feed the companion's queue.
  */
class BatchDurationListener extends StreamingQueryListener {
  import BatchDurationListener._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.add(e.runId); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    durations.add(e.progress.batchDuration / 1e3); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.add(e.runId); ()
  }
}

object BatchDurationListener {
  private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

  /** Batch durations (seconds) recorded since the last drain, in arrival
    * order. Started events reach the listener synchronously, progress
    * and termination through the asynchronous listener bus; a query's
    * termination follows its last progress event there, so waiting
    * until every started query has terminated makes the record complete.
    */
  def drain(): Seq[Double] = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!terminated.containsAll(started) && System.nanoTime() < deadline)
      Thread.sleep(10)
    val b = Seq.newBuilder[Double]
    var x = durations.poll()
    while (x != null) { b += x.doubleValue; x = durations.poll() }
    b.result()
  }
}
