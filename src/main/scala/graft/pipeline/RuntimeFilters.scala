package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.Bridge

/** Runtime Bloom-filter join pruning — the explicit, user-directed form of
  * the shuffle-reduction Spark's own `InjectRuntimeFilter` rule applies when
  * it can prove selectivity. The engine exposes it as an operator because at
  * the 100 TB fact-table scale the decisive cost is the SHUFFLE of fact rows
  * that will be discarded by a selective dimension semi-join: a few-MB Bloom
  * filter built over the dimension keys broadcasts to every fact partition
  * and drops non-qualifying rows AT THE SCAN, before a single byte of them
  * crosses the wire. The exact semi-join still runs afterwards — the Bloom
  * admits false positives, so it can only ever shrink the work, never change
  * the answer — which is also what makes the operator fully oracle-checkable
  * against the plain semi-join SQL.
  *
  * Built on Spark's own `BloomFilterAggregate` / `BloomFilterMightContain`
  * (the machinery behind spark.sql.optimizer.runtime.bloomFilter), attached
  * to the public Column API through the graftbridge — no reimplementation of
  * the sketch, byte-compatible with what AQE itself would inject.
  */
object RuntimeFilters {

  /** Aggregate a key column into a Bloom filter (binary). `numBits` at the
    * default 8 bits/item puts the false-positive rate ~2-3%; the result is
    * one binary blob of numBits/8 bytes, independent of input row count —
    * broadcastable at any fact-table scale as long as the DIMENSION side's
    * distinct-key count is bounded.
    */
  def bloomAgg(key: Column, expectedItems: Long,
               numBits: Long): Column =
    Bridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe-side membership test — same xxhash64 keying as [[bloomAgg]].
    * The Bloom blob arrives as a SCALAR SUBQUERY over the 1-row aggregate
    * (`BloomFilterMightContain` requires a constant or scalar-subquery
    * filter side — the same wiring `InjectRuntimeFilter` emits): the
    * subquery executes once, and the result broadcasts to every probe
    * task as a literal, never through a join.
    */
  def mightContain(bloomDf: DataFrame, key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      new XxHash64(Seq(Bridge.expression(key)))))

  /** Bloom pre-filter for a fan-out that meets an exact existence probe
    * against `probeRel`, a frame returned by [[graft.plans.Materialize]],
    * on its `keys`. Within the broadcast threshold the probe joins
    * broadcast and the fan-out never crosses an exchange, so the prune is
    * identity. Past it the fan-out shuffles to meet the probe, and at
    * cluster scale most of it does not survive: a Bloom filter over the
    * probe keys, built once and shipped to every task as a scalar, drops
    * non-members map-side before the exchange. The exact join still runs
    * on the survivors, so results do not change.
    *
    * Sized from `probeRel`'s observed row count at 8 bits per item, with
    * items and bits capped at the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (the caps `BloomFilterAggregate` applies anyway, read here so the
    * size asked for is the size built). Past the caps the false-positive
    * rate grows, never the answer. No conf is written.
    * Returns: fan-out keys → fan-out frame → pruned frame.
    */
  def bloomPrune(probeRel: DataFrame, keys: Seq[Column])
      : Seq[Column] => DataFrame => DataFrame =
    if (graft.plans.Materialize.small(probeRel)) _ => identity
    else {
      val conf = probeRel.sparkSession.conf
      def cap(name: String) = conf.get(s"spark.sql.optimizer.runtime.bloomFilter.$name").toLong
      val items = math.min(math.max(graft.plans.Materialize.rowCount(probeRel), 1L),
        cap("maxNumItems"))
      val bits = math.min(math.max(items * 8L, 64L * 8L), cap("maxNumBits"))
      val bf = probeRel.agg(bloomAgg(struct(keys: _*), items, bits).as("bf"))
        .localCheckpoint(true) // built once, probed by every prune site
      ks => df => df.filter(coalesce(mightContain(bf, struct(ks: _*)), lit(true)))
    }

  /** Revenue by order priority for one customer segment, with the fact scan
    * pruned by a runtime Bloom filter BEFORE the exact semi-join:
    *
    *   1. dimension pass: segment customers → one-row Bloom binary;
    *   2. fact scan: broadcast the blob, keep rows whose custkey might be
    *      a member (false positives pass, ~2-3%);
    *   3. exact broadcast semi-join removes the false positives;
    *   4. per-row integer-cents revenue, one aggregate.
    *
    * At sf0.01 the BUILDING segment keeps ~1/5 of customers, so ~80% of
    * order rows die at the scan instead of crossing the semi-join. The
    * answer is identical to the plain semi-join (step 3 guarantees it);
    * PlanSpec pins that `might_contain` sits below the join in the plan.
    */
  def bloomSemiJoinRevenue(orders: DataFrame, customer: DataFrame,
                           segment: String = "BUILDING"): DataFrame = {
    val dimKeys = customer
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val bloom = dimKeys.agg(
      bloomAgg(col("c_custkey"), expectedItems = 1000000L,
        numBits = 8L * 1000000L).as("bf"))
    val pruned = orders
      .select(col("o_custkey"), col("o_orderpriority"),
        round(col("o_totalprice") * lit(10000)).cast("long").as("rev_c4"))
      .filter(mightContain(bloom, col("o_custkey")))
    pruned
      .join(broadcast(dimKeys), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sum("rev_c4").cast("double") / 10000d).as("revenue"))
      .orderBy("o_orderpriority")
  }
}
