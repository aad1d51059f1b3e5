package graft.operators

import graft.Materialize.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Stable._
import graft.sources.Tables

/** Aggregation surface beyond the reference's two hash-aggs (SURVEY.md
  * §2.4 "Aggregations"): pivot, CUBE, distinct aggregates (exact + HLL
  * sketch), percentiles, argmax, and ordered collect.
  *
  * Everything stays in `groupBy.agg` / relational form so Catalyst plans
  * partial (map-side) aggregation and the shapes survive a 100 TB input:
  * no collects, no single-partition funnels; the one intentionally global
  * step in `percentileSummary` operates on grouped output, not raw rows.
  */
object Aggregates {

  /** Pivot: quantity sums in a (returnflag × linestatus) grid. The pivot
    * values are passed explicitly — at scale that skips the extra
    * distinct-collect job Spark otherwise runs to discover them, and makes
    * the output schema static for downstream code.
    */
  def pivotQty(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .orderBy(col("l_returnflag"))

  /** CUBE over (status, priority): all four grouping levels in one
    * shuffle, disambiguated by grouping_id — the multi-level rollup
    * surface the dashboard would need for drill-downs.
    */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Arbitrary GROUPING SETS: per-flag totals and per-status totals from
    * ONE scan/shuffle (no self-union of two groupBys); grouping_id tells
    * the levels apart. Completes the multi-level family with
    * [[Analytics.rollupAgg]] and [[cubeOrders]].
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("sum_price"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Exact distinct aggregates per group: distinct suppliers and parts per
    * return flag. Spark expands multi-distinct into a single Expand-based
    * plan — still one pass over the fact table.
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Sketch counterpart of [[distinctAgg]]: HyperLogLog++ distinct
    * estimates. At 100 TB this is the default — fixed-size sketch state,
    * mergeable across partitions, no Expand blow-up. No DuckDB oracle
    * (different sketch), so the driver records a rows-only check; the spec
    * asserts the estimates land within the configured relative error of
    * the exact counts.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_suppkey"), 0.02).as("approx_suppliers"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Heavy-hitter / key-skew report: the top-k join-or-group keys by row
    * count with their share of the table — the diagnostic that decides
    * between a plain shuffle join, AQE skew splitting, and
    * [[Joins.saltedJoin]] before burning a cluster-day discovering the
    * answer empirically. One map-side-combinable count aggregation +
    * TakeOrderedAndProject; the total rides along as a broadcast scalar.
    */
  def keySkewReport(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
      .cutLineage()
    // total from the (tiny) per-key frame — a second full-table
    // aggregation would double the scan I/O for the identical number
    val total = counts.agg(sum(col("n_rows")).as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n_rows").cast("double") / col("total"))
      .select(col("l_suppkey"), col("n_rows"), col("share"))
      .orderBy(col("n_rows").desc, col("l_suppkey"))
      .limit(k)
  }

  /** Mergeable distinct-count rollup — the re-aggregation pattern
    * [[approxDistinct]]'s scalar estimate can't give you: stage 1 builds
    * an HLL SKETCH per fine-grained cell (status × order-year — the
    * "daily partial" a 100 TB warehouse materializes incrementally);
    * stage 2 answers the coarser question (distinct customers per
    * status) by `hll_union_agg` over the stored sketches — WITHOUT
    * rescanning the fact table. Sketch build and merge are register-max
    * operations: associative, commutative, order-independent — the
    * estimate is deterministic under any partitioning, retry, or merge
    * tree, which is what makes sketches storable artifacts rather than
    * query-local state. No DuckDB twin (datasketches binary format) —
    * golden-pinned; the spec proves merge ≡ direct-build exactly.
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val partials = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("o_year"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
        count(lit(1)).as("n_rows"))
    partials.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_partials"),
        sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("approx_customers"))
      .orderBy(col("o_orderstatus"))
  }

  /** Exact interpolated percentiles of order value per status (median and
    * p90). Exact percentile sorts per group — fine grouped; at raw-table
    * scale swap in `approx_percentile` (t-digest) the same way
    * [[approxDistinct]] relieves [[distinctAgg]].
    */
  def percentileSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Quantile outlier filter: orders strictly above their status class's
    * p99 price — the data-curation step that drops (or quarantines)
    * distribution tails before training. Two-pass shape by design: a
    * tiny per-group quantile aggregate (rows = #groups), broadcast back
    * onto the fact scan — the second pass is a narrow filtered scan, so
    * the cost at corpus scale is one aggregation plus one map, never a
    * sort of the full data. Spark `percentile` is exact interpolated
    * (matches DuckDB `quantile_cont` bit-for-bit), keeping the cut
    * reproducible.
    */
  def priceOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cuts = o.groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.99)").as("p99"))
    o.join(broadcast(cuts), "o_orderstatus")
      .filter(col("o_totalprice") > col("p99"))
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        col("p99"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  /** Typed-Aggregator surface: revenue-weighted mean discount per return
    * flag via [[graft.functions.WeightedMean]] (`functions.udaf` over a
    * typed `Aggregator` with decimal buffer state — partial-aggregates
    * and merges like any builtin). Inputs are pre-filtered non-null, the
    * Aggregator's encoding contract.
    */
  def weightedDiscount(spark: SparkSession, dir: String): DataFrame = {
    val wmean = udaf(graft.functions.WeightedMean)
    Tables.lineitem(spark, dir)
      .filter(col("l_discount").isNotNull && col("l_extendedprice").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(wmean(col("l_discount"), col("l_extendedprice"))
          .as("wavg_discount"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Argmax without a window: the customer's single most expensive order
    * via `max(struct(price, key))` — one hash aggregation, no per-group
    * sort. Struct comparison is lexicographic, so ties on price break to
    * the larger order key, deterministically.
    */
  def argmaxOrder(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("top"))
      .select(col("o_custkey"), col("top.o_totalprice").as("top_price"),
        col("top.o_orderkey").as("top_order"))
      .orderBy(col("o_custkey"))

  /** Value-distribution histogram: orders bucketed into equal-width bins
    * (floor arithmetic, identical text in the oracle — DuckDB has no
    * width_bucket) — one pass, one tiny aggregate; the distribution
    * companion to [[Relational.profileNumeric]].
    */
  def priceHistogram(spark: SparkSession, dir: String,
      bucketWidth: Double = 60000.0): DataFrame =
    Tables.orders(spark, dir)
      .groupBy((floor(col("o_totalprice") / bucketWidth) + 1).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bucket"))

  /** Equi-depth histogram — [[priceHistogram]]'s complement: bins hold
    * ~equal ROW COUNTS with data-driven edges (the quartile cut points)
    * instead of equal widths with data-driven counts. One exact
    * percentile aggregation broadcasts three cuts back over the scan;
    * same no-global-sort shape as `quartileBuckets`/`rfmSegments`.
    * Exposes both the edges and the realized counts — the skew-aware
    * summary an optimizer's column statistics are built from.
    */
  def priceHistogramEqDepth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cuts = o.agg(
      expr("percentile(o_totalprice, 0.25)").as("q1"),
      expr("percentile(o_totalprice, 0.50)").as("q2"),
      expr("percentile(o_totalprice, 0.75)").as("q3"))
    o.crossJoin(broadcast(cuts))
      .withColumn("bin",
        when(col("o_totalprice") <= col("q1"), 1)
          .when(col("o_totalprice") <= col("q2"), 2)
          .when(col("o_totalprice") <= col("q3"), 3)
          .otherwise(4))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bin"))
  }

  /** Pearson correlation of quantity vs. extended price, spelled out from
    * exact decimal power sums rather than the `corr` aggregate: corr's
    * internal running-moment merges are float-order-dependent and differ
    * engine to engine, while five exact sums + one double-arithmetic
    * formula are deterministic and bit-reproducible anywhere (the oracle
    * runs the identical formula text).
    */
  def qtyPriceCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_extendedprice")).as("sy"),
        sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
  }

  /** Ordered collect: each customer's order keys as a sorted CSV string.
    * `collect_list` order is partition-dependent, so the sort happens
    * inside the row (`sort_array`) — deterministic regardless of task
    * scheduling — and the array serializes to a string for stable
    * comparison.
    */
  def ordersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(collect_list(col("o_orderkey")).as("keys"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
        array_join(transform(sort_array(col("keys")), _.cast("string")), ",")
          .as("order_keys"),
        col("n_orders"))
      .orderBy(col("o_custkey"))

  /** RFM customer segmentation: recency (days since epoch of the last
    * order), frequency (order count), monetary (exact-decimal spend) per
    * customer, each scored into quartiles against GLOBAL cuts, combined
    * into the classic three-digit segment code.
    *
    * Scale shape mirrors [[graft.operators.Analytics.quartileBuckets]]:
    * the cuts are ONE tiny aggregate over the per-customer frame (nine
    * exact interpolated percentiles in one row), broadcast back over a
    * narrow scoring map — no ntile, so no single-reducer sort of the
    * customer universe at any size. Recency scores on a date image
    * (days), not a timestamp, so the result is timezone-stable.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(datediff(max(col("o_orderdate")),
          to_date(lit("1970-01-01"))).as("recency_days"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val cuts = base.agg(
      expr("percentile(recency_days, array(0.25, 0.5, 0.75))").as("rc"),
      expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("fc"),
      expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("mc"))
    def score(x: Column, c: Column): Column =
      lit(1) + (0 until 3).map(i =>
        when(x > element_at(c, i + 1), 1).otherwise(0)).reduce(_ + _)
    base.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        score(col("recency_days"), col("rc")).as("r_score"),
        score(col("frequency"), col("fc")).as("f_score"),
        score(col("monetary"), col("mc")).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("o_custkey"))
  }

  /** Count-Min frequency sketch over part keys, two-stage like
    * [[hllRollup]]: stage 1 builds a mergeable sketch per returnflag cell
    * (the incrementally-materialized partial); stage 2 rolls the stored
    * partials up to one corpus sketch by pure counter addition — no
    * second scan of the fact table. The output audits the sketch against
    * ground truth: the exact top-k keys with their estimates and
    * overcounts (always ≥ 0 — CM never undercounts; `CountMinSpec`
    * proves the merge law, the overestimate invariant, and the
    * JVM-kernel ≡ Column-expression hash parity). No DuckDB twin for the
    * wrapping 64-bit mix — golden-pinned.
    *
    * At 100 TB: the sketch is 32 KB per cell regardless of key
    * cardinality, the build is one map-side-combinable aggregation, and
    * the estimate join touches only the k candidate rows — the
    * "approximate frequencies without a 10-billion-key exact groupBy"
    * path; exact counts here exist purely as the audit column.
    */
  def cmsTopkAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import graft.functions.{CountMin, CountMinBuild, CountMinMerge}
    val cmsBuild = udaf(CountMinBuild)
    val cmsMerge = udaf(CountMinMerge)
    val li = Tables.lineitem(spark, dir)
    val partials = li.groupBy(col("l_returnflag"))
      .agg(cmsBuild(col("l_partkey")).as("sk"))
    val global = partials.agg(cmsMerge(col("sk")).as("sk"))
    val top = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey")).limit(k)
    top.crossJoin(broadcast(global))
      .select(col("l_partkey"), col("n_exact"),
        CountMin.estimate(col("sk"), col("l_partkey")).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey"))
  }

  /** Exact half of [[cmsTopkAudit]], split out so it is oracle-checkable:
    * the top-k part keys by exact count. The sketch estimate columns have
    * no SQL twin and stay golden-pinned in q_cms_topk; this query puts the
    * ground-truth side under the DuckDB hash gate.
    */
  def cmsTopkExact(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.lineitem(spark, dir).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey")).limit(k)

  /** Exact half of [[hllRollup]], split out so it is oracle-checkable:
    * per-status exact distinct customers and row counts. The rollup keeps
    * the mergeable-sketch path for 100 TB (a `count(DISTINCT)` shuffles
    * every key; the sketch moves 32 KB per cell) — this is the
    * ground-truth image the estimate is audited against at test SF.
    */
  def hllRollupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .orderBy(col("o_orderstatus"))

  /** Exact WEIGHTED median per group — the order statistic where half
    * the WEIGHT (not half the rows) lies on each side: the median price
    * per returnflag weighted by quantity, the median quality score
    * weighted by token count. The unweighted `percentile` family cannot
    * express this. One ordered window per group: cumulative weight on
    * the DECIMAL image (order-exact), the answer is the first row whose
    * doubled running weight reaches the group total — found with a
    * map-side-combinable `min(struct(rn, …))` over the qualifying rows,
    * not a second sort. Total order (value, then keys) makes the
    * crossing row unique, so the result is hash-checkable.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedMedianOn(Tables.lineitem(spark, dir))

  /** Same, over any lineitem-shaped frame. Weights run in exact long
    * micro-units (the subsampleCI idiom): the cumulative/total window
    * sums codegen to integer adds instead of BigDecimal accumulation,
    * and the crossing test `2·cw ≥ total` is scale-invariant.
    *
    * The cumulative walk runs over each group's DISTINCT prices, not
    * its rows: per-price weights pre-aggregate map-side (combinable
    * long sums), so the window sorts the price domain, and the median
    * is the smallest price whose through-price cumulative crosses
    * half the total — identical to walking rows in (price, order,
    * line) order and taking the first crossing ROW's price, because a
    * row-level crossing inside price p's run implies p's full
    * cumulative crosses and no smaller price's does. Same answer, but
    * the per-group window volume is the value domain (bounded) instead
    * of the corpus (unbounded) — the [[quantileSketchOn]] exact-audit
    * shape, and the difference between a 3-task sort of the corpus and
    * a 3-task sort of a dictionary at 100 TB.
    */
  def weightedMedianOn(li: DataFrame): DataFrame = {
    val byPrice = li
      .select(col("l_returnflag"), col("l_extendedprice"),
        (dec(col("l_quantity")) * 1000000).cast("long").as("qw"))
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("qw")).as("w"))
    val ord = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("l_returnflag"))
    byPrice
      .withColumn("cw", sum(col("w")).over(cum))
      .withColumn("total", sum(col("w")).over(all))
      .filter(col("cw") * 2 >= col("total"))
      .groupBy(col("l_returnflag"))
      // nulls-first argmin (a bare min() would skip a null crossing
      // price, where the row walk kept it): the null-price group sorts
      // first in the window, so it wins the struct min iff it crossed
      .agg(min(struct(when(col("l_extendedprice").isNull, 0).otherwise(1)
          .as("nn"), col("l_extendedprice").as("p"))).as("best"),
        max(col("total")).as("tw"))
      .select(col("l_returnflag"),
        (col("tw").cast("double") / 1e6).as("total_weight"),
        col("best.p").as("weighted_median_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Deterministic subsampling error bars for a corpus mean — the
    * missing piece under every corpus metric this engine reports: is
    * 0.82 ± 0.001 or ± 0.05? Classic half-sampling (delete-half
    * jackknife): replicate `r` keeps every row whose bit `r` of
    * md5(key) is set — 32 independent deterministic halves from ONE
    * digest per row (no rand(), so the whole estimate is
    * hash-reproducible and oracle-checkable, unlike any RNG bootstrap);
    * the spread of replicate means estimates the sampling error of the
    * full mean: Var(mean_full) = σ²/n = Var(half-mean)/2, so
    * se = sd(replica means)/√2 and the 95% band is ±1.96·se.
    *
    * Shape: ONE corpus scan, one md5 per ROW (key only — not per
    * (row, rep) pair), the `reps` replicate memberships decoded as
    * distinct bits of the single 128-bit digest, and `reps` conditional
    * decimal sums in a single map-side-combinable aggregation. No
    * crossJoin expansion: hashing volume is |fact|, not reps·|fact|.
    * The final moment pass runs over `reps` values of a one-row frame.
    * Error bars at 100 TB cost one extra column per pass regardless of
    * reps.
    */
  def subsampleCI(spark: SparkSession, dir: String,
      reps: Int = 32): DataFrame =
    subsampleCIOn(Tables.lineitem(spark, dir), reps)

  /** Same, over any lineitem-shaped frame. */
  def subsampleCIOn(lineitem: DataFrame, reps: Int = 32): DataFrame = {
    require(reps >= 2 && reps <= 32,
      "memberships decode from the first 8 hex digits (32 bits)")
    // Replicate sums run in LONG micro-units (quantity × 10⁶, exact for
    // the scale-6 decimal image): 32 conditional LONG sums codegen to
    // plain integer adds, where 32 DECIMAL(18,6) sums promote to the
    // non-compact accumulator and dominate the scan. The served value
    // is bit-identical to the decimal path while Σ < 2⁵³ (the long is
    // exact, and IEEE division by 10⁶ correctly rounds the same exact
    // rational the decimal cast would); past 2⁵³ aggregate micro-units
    // (≈ corpus quantity sums beyond 9·10⁹) the last ulp may differ —
    // an error bar does not care.
    val li = lineitem
      .select((dec(col("l_quantity")) * lit(1000000)).cast("long").as("qm"),
        col("l_quantity"),
        conv(substring(md5(concat_ws("-", col("l_orderkey"),
          col("l_linenumber")).cast("binary")), 1, 8), 16, 10)
          .cast("long").as("v"))
    def memb(r: Int): Column =
      shiftright(col("v"), r).bitwiseAND(lit(1L)) === 1
    val condAggs = (0 until reps).flatMap { r =>
      Seq(sum(when(memb(r), col("qm"))).as(s"s$r"),
        count(when(memb(r), col("qm"))).as(s"c$r"))
    } ++ Seq(count(lit(1)).as("n"), davg(col("l_quantity")).as("mean_full"))
    val one = li.agg(condAggs.head, condAggs.tail: _*)
    val ms = (0 until reps).map(r =>
      when(col(s"c$r") > 0,
        col(s"s$r").cast("double") / lit(1e6) / col(s"c$r")))
    one
      .select(col("n"), col("mean_full"), explode(array(ms: _*)).as("m"))
      .groupBy(col("n"), col("mean_full"))
      .agg(count(col("m")).as("n_reps"),
        dsum(col("m")).as("sm"),
        sum(dec(col("m")) * dec(col("m"))).cast("double").as("smm"))
      .select(col("n"), col("mean_full"), col("n_reps"),
        sqrt(((col("smm") - col("sm") * col("sm") / col("n_reps"))
          / (col("n_reps") - 1)) / 2.0).as("se"))
      .select(col("n"), col("mean_full"), col("n_reps"), col("se"),
        (col("mean_full") - lit(1.96) * col("se")).as("ci_lo"),
        (col("mean_full") + lit(1.96) * col("se")).as("ci_hi"))
  }

  /** 2⁻⁵² as an exact double: the scale that turns the first 13 hex
    * digits of an md5 (52 bits) into a uniform fraction in [0, 1).
    */
  private val HexFracScale = 4503599627370496.0

  /** First-13-hex-digits fraction of an md5 hex string. 52 bits fit a
    * double exactly, so the value is bit-identical to DuckDB's
    * `CAST('0x'||substr(h,1,13) AS BIGINT) / 2^52` — no float rounding
    * anywhere, which is what lets a KMV ESTIMATE be oracle-checked.
    */
  private[graft] def hexFrac(h: Column): Column =
    conv(substring(h, 1, 13), 16, 10).cast("double") / lit(HexFracScale)

  /** Distinct (source, shingle, md5-hash) universe of the documents
    * table — the frame both KMV queries sketch. One explode + one
    * distinct shuffle; at 100 TB this is the same frame the MinHash
    * family already materializes per batch.
    */
  private[graft] def shingleHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(Dedup.shingles(col("text"))).as("s"))
      .distinct()
      .select(col("source"), col("s"), md5(col("s").cast("binary")).as("h"))

  /** The bare KMV sketch of a (source, text) frame: the ≤k smallest
    * distinct shingle hashes per source — the mergeable artifact
    * ([[kmvDistinct]] reports estimates from it; the streaming
    * maintainer unions and re-takes it per batch, exact by the order-
    * statistic merge law bottomₖ(bottomₖ(A) ∪ bottomₖ(B)) = bottomₖ(A∪B)).
    */
  private[graft] def kmvSketchOn(docs: DataFrame, k: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    shingleHashes(docs).select(col("source"), col("h")).distinct()
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("source"), col("h"))
  }

  /** Distinct estimate from a stored (source, h) KMV sketch — the same
    * estimator as [[kmvDistinct]], reading only the ≤k-row artifact.
    */
  private[graft] def kmvEstimateFromSketch(sketch: DataFrame, k: Int = 64): DataFrame =
    sketch.groupBy(col("source"))
      .agg(max(col("h")).as("kth"), count(lit(1)).as("nk"))
      .select(col("source"),
        when(col("nk") < k, col("nk").cast("double"))
          .otherwise(lit(k - 1) / hexFrac(col("kth"))).as("est_kmv"))
      .orderBy(col("source"))

  /** KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-count
    * sketch per source over the 3-shingle universe, next to its exact
    * audit: est = (k−1)/frac(h₍ₖ₎), or the exact size when the universe
    * is smaller than k. Unlike HLL (register max → estimate via float
    * harmonic mean, goldens only), the KMV sketch is just the k
    * smallest md5 hex strings — ORDER STATISTICS, deterministic given
    * the hash, so sketch AND estimate hash-match the DuckDB oracle
    * exactly. The estimate arithmetic is one exact hex→double
    * conversion and one IEEE division, both bit-stable across engines.
    *
    * Scale shape: the bottom-k per source rides a per-source sort of
    * the DISTINCT shingle frame (vocab-bounded, not corpus-bounded);
    * at extreme vocabularies the standard refinement pre-filters on a
    * hash prefix (keep h < 2⁻ᵖ · 2¹²⁸, valid while ≥ k survive) so the
    * ranked frame shrinks 2ᵖ× before the sort — the sketch itself is
    * ≤ k rows per source, mergeable by "union then re-take bottom-k"
    * ([[kmvJaccardPairs]] exercises exactly that merge).
    */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvDistinctOn(Tables.documents(spark, dir), k)

  /** [[kmvDistinct]] over any (source, text) frame. */
  def kmvDistinctOn(docs: DataFrame, k: Int = 64): DataFrame = {
    val hashes = shingleHashes(docs)
    val exact = hashes.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val kth = hashes.select(col("source"), col("h")).distinct()
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .groupBy(col("source"))
      .agg(max(struct(col("r"), col("h"))).as("kth"), count(lit(1)).as("nk"))
    exact.join(kth, "source")
      .select(col("source"), col("n_exact"),
        when(col("nk") < k, col("nk").cast("double"))
          .otherwise(lit(k - 1) / hexFrac(col("kth.h"))).as("est_kmv"))
      .withColumn("rel_err",
        (col("est_kmv") - col("n_exact")) / col("n_exact"))
      .orderBy(col("source"))
  }

  /** Pairwise source-vocabulary Jaccard from MERGED KMV sketches, next
    * to the exact audit: for each source pair, union the two bottom-k
    * sketches, re-take the bottom K = min(k, |union|) of the merged
    * hash set, and estimate J as the fraction of those K order
    * statistics present in BOTH sketches (Beyer et al. 2007) — the
    * sketch-union estimator that needs only the two ≤k-row artifacts,
    * never the underlying sets. Everything is string order statistics
    * and one exact division, so the estimate is oracle-checkable; the
    * exact Jaccard rides the same distinct-shingle frame through one
    * equi-join on shingle.
    *
    * Scale: sketches are ≤k rows per source — the pair frame is
    * #sources² sketch pairs of bounded width, independent of corpus
    * size; the exact audit is the only corpus-sized input and exists
    * for test-SF verification.
    */
  def kmvJaccardPairs(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvJaccardPairsOn(Tables.documents(spark, dir), k)

  /** [[kmvJaccardPairs]] over any (source, text) frame. */
  def kmvJaccardPairsOn(docs: DataFrame, k: Int = 64): DataFrame = {
    val hashes = shingleHashes(docs).cutLineage()
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val sketches = hashes.select(col("source"), col("h")).distinct()
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("sk"),
        count(lit(1)).as("n"))
    val inter = hashes.select(col("source").as("sa"), col("s"))
      .join(hashes.select(col("source").as("sb"), col("s")), "s")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
    val sizes = hashes.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val pairs = sketches.select(col("source").as("sa"), col("sk").as("ska"))
      .crossJoin(broadcast(
        sketches.select(col("source").as("sb"), col("sk").as("skb"))))
      .filter(col("sa") < col("sb"))
      .withColumn("merged",
        slice(array_sort(array_union(col("ska"), col("skb"))), lit(1),
          least(lit(k), size(array_union(col("ska"), col("skb")))).cast("int")))
      .select(col("sa"), col("sb"), size(col("merged")).as("kk"),
        size(array_intersect(col("merged"),
          array_intersect(col("ska"), col("skb")))).as("n_match"))
    pairs
      .join(inter, Seq("sa", "sb"), "left")
      .join(broadcast(sizes.select(col("source").as("sa"), col("nd").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("nd").as("nb"))), "sb")
      .select(col("sa"), col("sb"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))))
          .as("j_exact"),
        (col("n_match").cast("double") / col("kk")).as("j_est"))
      .orderBy(col("sa"), col("sb"))
  }

  /** 52-bit integer from the first 13 hex digits of the md5 of a string
    * image — the integer face of the KMV family's [[hexFrac]]: DuckDB
    * computes the identical value as `CAST('0x'||substr(md5(s),1,13) AS
    * BIGINT)`, so any modular/shift arithmetic downstream replays
    * exactly on both engines.
    */
  private[graft] def hex52(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 13), 16, 10).cast("long")

  /** Cross-engine Count-Min TWIN of [[cmsTopkAudit]]: the full non-zero
    * counter matrix of a depth×width CM sketch over part keys, row
    * hashes drawn from the md5-integer family ([[hex52]] of `"r:key"`)
    * instead of the engine-private wrapping 64-bit mix — every counter
    * is exact integer arithmetic DuckDB replays, so the sketch
    * CONSTRUCTION itself sits under the hash gate. The production
    * `q_cms_topk` keeps the codegen'd JVM kernel (and its golden +
    * `CountMinSpec` laws); this key pins the RULES cross-engine:
    * bucket = h(r,key) mod width per row, counters purely additive.
    *
    * Scale shape: ONE map-side-combinable aggregation collapses the
    * fact table to (key, n) — key-cardinality-sized — before the
    * depth-way explode and a second rollup of ≤ depth·width cells; the
    * fact table is never replicated and the output is sketch-sized
    * regardless of input rows.
    */
  def cmsTwin(spark: SparkSession, dir: String, depth: Int = 4,
      width: Int = 512): DataFrame =
    cmsTwinCounters(Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("n")),
      depth, width)
      .orderBy(col("r"), col("bucket"))

  /** The (r, bucket, counter) cells of the [[cmsTwin]] sketch, from a
    * pre-aggregated (key, n) frame.
    */
  private def cmsTwinCounters(kc: DataFrame, depth: Int,
      width: Int): DataFrame =
    kc.select(col("key"), col("n"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r").cast("long").as("r"),
        (hex52(concat(col("r").cast("string"), lit(":"),
          col("key").cast("string"))) % width).as("bucket"),
        col("n"))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("n")).as("counter"))

  /** Estimate half of [[cmsTwin]]: the top-k exact part keys with their
    * min-over-rows sketch estimate and overcount — the
    * [[cmsTopkAudit]] report shape with BOTH sides cross-engine exact,
    * so the estimate and the (always ≥ 0) overcount hash-match the
    * oracle. The probe side is k·depth rows joined against the
    * broadcast sketch-sized counter frame — never a second fact scan
    * beyond the shared exact-count aggregation.
    */
  def cmsTwinTopk(spark: SparkSession, dir: String, depth: Int = 4,
      width: Int = 512, k: Int = 10): DataFrame = {
    val kc = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("n"))
      .cutLineage() // read by the counter build AND the top-k probe
    val counters = cmsTwinCounters(kc, depth, width)
    val top = kc.select(col("key").as("l_partkey"), col("n").as("n_exact"))
      .orderBy(col("n_exact").desc, col("l_partkey")).limit(k)
    val probes = top
      .select(col("l_partkey"), col("n_exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("l_partkey"), col("n_exact"), col("r").cast("long").as("r"),
        (hex52(concat(col("r").cast("string"), lit(":"),
          col("l_partkey").cast("string"))) % width).as("bucket"))
    probes.join(broadcast(counters), Seq("r", "bucket"))
      .groupBy(col("l_partkey"), col("n_exact"))
      .agg(min(col("counter")).as("n_est"))
      .select(col("l_partkey"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy(col("n_exact").desc, col("l_partkey"))
  }

  /** Cross-engine HyperLogLog TWIN of [[hllRollup]]: the m=64 register
    * array per order status, hash from the md5-integer family — bucket
    * is the low 6 bits of [[hex52]]`("h:custkey")`, rho is 1 + the
    * largest power of two dividing the remaining 46 bits (so the
    * all-zero remainder caps at register 47), register = max rho per
    * bucket. Register-max is associative/commutative/idempotent, which
    * is the whole reason HLL partials are storable artifacts; the twin
    * puts that CONSTRUCTION under the DuckDB hash gate while the
    * production `q_hll_rollup` keeps the DataSketches binary and its
    * golden. Emits non-empty buckets only.
    *
    * Scale shape: the distinct (status, custkey) shuffle IS the
    * dominant cost (same frame `hllRollupExact` audits); everything
    * after is register-sized. The 47-way divisor explode runs on the
    * distinct frame, not raw rows, and collapses map-side.
    */
  def hllTwinRegisters(spark: SparkSession, dir: String): DataFrame =
    hllTwinRegistersOn(Tables.orders(spark, dir))
      .orderBy(col("o_orderstatus"), col("bucket"))

  /** [[hllTwinRegisters]] over any (o_orderstatus, o_custkey) frame. */
  private[graft] def hllTwinRegistersOn(orders: DataFrame): DataFrame =
    orders.select(col("o_orderstatus"), col("o_custkey")).distinct()
      .select(col("o_orderstatus"),
        hex52(concat(lit("h:"), col("o_custkey").cast("string"))).as("h"))
      .select(col("o_orderstatus"),
        col("h").bitwiseAND(lit(63L)).as("bucket"),
        shiftright(col("h"), 6).as("w"))
      .select(col("o_orderstatus"), col("bucket"), col("w"),
        explode(sequence(lit(0), lit(46))).as("i"))
      .filter(col("w") % expr("shiftleft(1L, i)") === 0)
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg((max(col("i")) + lit(1)).cast("long").as("register"))

  /** Estimate half of [[hllTwinRegisters]]: the raw HLL harmonic-mean
    * estimate per status next to its exact audit — and every float in
    * it is bit-stable cross-engine BY CONSTRUCTION: each 2^−register
    * term is an exact power of two, partial sums of 2⁻⁴⁷-granular
    * values below 2⁶ fit binary64's 53-bit mantissa exactly (so the
    * sum is order-independent — retry/partitioning cannot flip a ulp),
    * and the α·m²/S estimate is a single IEEE divide of shared-literal
    * constants. No ln-based small-range correction on purpose: libm
    * logs diverge across engines; n_zero is emitted so a consumer can
    * apply their own correction.
    */
  def hllTwinEstimate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val est = hllEstimateFromRegs(hllTwinRegistersOn(o))
    val exact = o.groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    est.join(exact, "o_orderstatus")
      .select(col("o_orderstatus"), col("n_zero"), col("sum_inv"),
        col("est_hll"), col("exact_customers"),
        ((col("est_hll") - col("exact_customers"))
          / col("exact_customers")).as("rel_err"))
      .orderBy(col("o_orderstatus"))
  }

  /** The estimate tail over any (o_orderstatus, bucket, register)
    * register frame — non-empty buckets in, all-64-bucket harmonic sum
    * out. Shared by the twin query and the streaming-maintained
    * artifact serve path ([[hllEstimateFromArtifact]]); a status with
    * any customer has a non-empty bucket, so the status spine comes
    * from the registers themselves.
    */
  private[graft] def hllEstimateFromRegs(regs: DataFrame): DataFrame =
    regs.select(col("o_orderstatus")).distinct()
      .select(col("o_orderstatus"),
        explode(sequence(lit(0L), lit(63L))).as("bucket"))
      .join(regs, Seq("o_orderstatus", "bucket"), "left")
      .select(col("o_orderstatus"),
        coalesce(col("register"), lit(0L)).as("register"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(when(col("register") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(lit(1.0) / expr("shiftleft(1L, cast(register as int))"))
          .as("sum_inv"))
      .select(col("o_orderstatus"), col("n_zero"), col("sum_inv"),
        (lit(HllTwinAlphaM2) / col("sum_inv")).as("est_hll"))

  /** Serve per-status distinct estimates from a stored
    * [[graft.streaming.EventStream.hllRegMaintain]] register artifact —
    * reads ≤ #statuses·64 rows, never the stream history. Identical
    * estimator to [[hllTwinEstimate]] (shared tail), so estimates over
    * an unbounded ingest stream cost one artifact-sized read.
    */
  def hllEstimateFromArtifact(spark: SparkSession, regPath: String): DataFrame =
    hllEstimateFromRegs(
      spark.read.parquet(regPath)
        .select(col("o_orderstatus"), col("bucket"), col("register")))
      .orderBy(col("o_orderstatus"))

  /** Cross-engine Bloom-filter TWIN — the membership-sketch member of
    * the twin family ([[cmsTwin]], [[hllTwinRegisters]]): the set bit
    * positions of a bits-wide, k-hash Bloom filter over the distinct
    * part-key universe, bit_j(key) = [[hex52]]("j:key") mod bits. The
    * production membership gate ([[graft.operators.Dedup]]
    * `.decontaminateBloomOn`) keeps Spark's own `BloomFilterAggregate`
    * binary (executor-shippable, `might_contain`-codegen'd — no DuckDB
    * twin); this key pins the construction RULES cross-engine: k
    * independent positions per key, the filter is their union.
    *
    * Scale shape: one distinct on the key universe, a k-way explode of
    * that (vocab-sized) frame, one distinct on positions — output ≤
    * bits rows regardless of input. A real deployment sizes
    * bits ≈ −n·ln(p)/ln(2)² and ships the filter as ONE artifact; the
    * row-form here exists to be hash-checkable.
    */
  def bloomTwin(spark: SparkSession, dir: String, bits: Int = 4096,
      k: Int = 3): DataFrame =
    bloomTwinBits(
      Tables.lineitem(spark, dir).select(col("l_partkey").as("key")).distinct(),
      bits, k)
      .orderBy(col("bit"))

  /** bit_j(key) under the md5-integer hash family. */
  private def bloomBit(j: Column, key: Column, bits: Int): Column =
    hex52(concat(j.cast("string"), lit(":"), key.cast("string"))) % bits

  /** Distinct set bit positions of the twin filter over a (key) frame. */
  private[graft] def bloomTwinBits(keys: DataFrame, bits: Int, k: Int): DataFrame =
    keys.select(col("key"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(bloomBit(col("j"), col("key"), bits).as("bit"))
      .distinct()

  /** Membership audit of [[bloomTwin]]: probe the filter with keys
    * known present (the nProbes smallest) and known absent (max+1..
    * max+nProbes) — `positive` iff all k bits are set. Pins the safe
    * error DIRECTION under the hash gate: no false negative is
    * possible by construction (every in-set probe must land
    * positive — the property that makes Bloom gating safe for
    * decontamination, where a false positive only retires a clean
    * document), while absent probes measure the realized FP rate.
    */
  def bloomTwinProbe(spark: SparkSession, dir: String, bits: Int = 4096,
      k: Int = 3, nProbes: Int = 25): DataFrame = {
    val keys = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("key")).distinct()
      .cutLineage() // read by the filter build, the probe set, and max
    bloomProbeAgainst(keys, bloomTwinBits(keys, bits, k), bits, k, nProbes)
  }

  /** Membership probe of a STORED twin-filter artifact — the serve path
    * of [[graft.streaming.EventStream.bloomBitsMaintain]]: probe keys
    * (present/absent, derived from the corpus exactly as
    * [[bloomTwinProbe]] does) are hashed fresh and checked against the
    * ≤ bits-row artifact alone — the stream history is never re-read,
    * and the no-false-negative direction holds for every key the
    * maintainer ever ingested (set-bit union is monotone).
    */
  def bloomProbeFromArtifact(spark: SparkSession, bitsPath: String,
      dir: String, bits: Int = 4096, k: Int = 3,
      nProbes: Int = 25): DataFrame = {
    val keys = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("key")).distinct()
      .cutLineage() // read by the probe set and max
    bloomProbeAgainst(keys,
      spark.read.parquet(bitsPath).select(col("bit")), bits, k, nProbes)
  }

  /** The shared probe tail: nProbes present keys (smallest) + nProbes
    * absent keys (max+1..) against any (bit) set-bit frame.
    */
  private def bloomProbeAgainst(keys: DataFrame, bitsDf: DataFrame,
      bits: Int, k: Int, nProbes: Int): DataFrame = {
    val present = keys.orderBy(col("key")).limit(nProbes)
      .select(col("key"), lit(true).as("in_set"))
    val absent = keys.agg(max(col("key")).as("mx"))
      .select(explode(sequence(lit(1), lit(nProbes))).as("i"), col("mx"))
      .select((col("mx") + col("i")).as("key"), lit(false).as("in_set"))
    present.unionByName(absent)
      .select(col("key"), col("in_set"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("key"), col("in_set"),
        bloomBit(col("j"), col("key"), bits).as("bit"))
      .join(bitsDf.withColumn("hit", lit(1L)), Seq("bit"), "left")
      .groupBy(col("key"), col("in_set"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("key").as("probe_key"), col("in_set"), col("n_hit"),
        (col("n_hit") === k).as("positive"))
      .orderBy(col("probe_key"))
  }

  /** α₆₄·m² for the m=64 HLL estimator (Flajolet et al. 2007):
    * 0.7213/(1+1.079/m)·m². Evaluated once here; the oracle SQL
    * interpolates this exact double (shortest-roundtrip literal), so
    * both engines divide the SAME constant.
    */
  private[graft] val HllTwinAlphaM2: Double =
    0.7213 / (1.0 + 1.079 / 64.0) * 4096.0

  /** Recency-decayed revenue per customer: each order weighted by
    * 2^(−age/halfLife) relative to the newest order — the
    * exponential-decay aggregation every feature store and
    * freshness-weighted training mix wants, made bit-exact WITHOUT
    * `exp`/`ln` (engine-divergent in the last ulp): the decay exponent
    * is the INTEGER `age div halfLife`, 2^−k is an exact power of two
    * in IEEE doubles, and BOTH factors ship as exact integers — price
    * in micro-units (the scale-6 decimal image × 10⁶), weight as
    * ⌊10⁴·2^−k⌋ — so the weighted sum is pure LONG arithmetic:
    * order-independent, and converted to a double exactly ONCE at the
    * end (int64 → double is correctly rounded identically on every
    * engine, where a wide DECIMAL → double conversion rounds twice in
    * engines that go through the scaled integer — a 1-ulp cross-engine
    * trap past 2⁵³). The weight floor retires history older than ~14
    * half-lives (weight 0) — the point of a decay weight anyway; the
    * long sum holds to ~10¹⁸ micro⁴-units ≈ 10⁸ unit-scale rows per
    * customer. That bound is ENFORCED, not just documented: an
    * `assert_true` fence on n_orders·max(term) < 9·10¹⁸ (a sound
    * overestimate of every nonnegative partial sum) fails the job
    * loudly at the group that could wrap, because a non-ANSI long sum
    * would otherwise wrap SILENTLY while the DuckDB twin sums in
    * HUGEINT — a silent cross-engine divergence is the one failure
    * mode a bit-exact operator must never have. Raw revenue rides
    * beside it on the usual DECIMAL image.
    *
    * Shape: one broadcast scalar (the anchor date), one narrow weight
    * map, one map-side-combinable per-customer aggregation — scan-
    * shaped at any size, no windows, no per-customer sorts.
    */
  def decayedRevenue(spark: SparkSession, dir: String,
      halfLifeDays: Int = 30): DataFrame =
    decayedRevenueOn(Tables.orders(spark, dir), halfLifeDays)

  /** [[decayedRevenue]] over any orders-shaped frame. */
  def decayedRevenueOn(o: DataFrame, halfLifeDays: Int = 30): DataFrame = {
    val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
    o.crossJoin(broadcast(anchor))
      .withColumn("k", expr(
        s"datediff(cast(anchor as date), cast(o_orderdate as date)) " +
          s"div $halfLifeDays"))
      .withColumn("w_e4",
        floor(lit(10000.0) / pow(lit(2.0), col("k"))).cast("long"))
      .withColumn("price_micro",
        (dec(col("o_totalprice")) * 1000000).cast("long"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue_raw"),
        (sum(col("price_micro") * col("w_e4")).cast("double")
          / 1e10).as("revenue_decayed"),
        // The fence's max term is computed in DOUBLE from the factors,
        // not from the int64 product: a single row whose product
        // exceeds 2^63 would wrap BEFORE the max, and the wrapped
        // (small or negative) max could then pass the check the sum it
        // guards already broke — the overflow-free image keeps both
        // factors of the proof exact.
        max(col("price_micro").cast("double") * col("w_e4").cast("double"))
          .as("max_term"))
      // Overflow fence (see Scaladoc): every partial sum of the
      // nonnegative terms is <= n_orders * max_term, so the check in
      // DOUBLE (overflow-free) proves the LONG sum above never wrapped.
      // A filter (not an unused column) so Catalyst cannot prune it;
      // assert_true returns NULL on pass, so coalesce keeps every row.
      .filter(coalesce(assert_true(
        col("n_orders").cast("double") * col("max_term")
          < lit(9.0e18),
        concat(lit("decayedRevenue: weighted sum may exceed int64 for " +
          "o_custkey="), col("o_custkey").cast("string"),
          lit(" — rescale micro-units or shard the group"))),
        lit(true)))
      .select(col("o_custkey"), col("n_orders"), col("revenue_raw"),
        col("revenue_decayed"))
      .orderBy(col("o_custkey"))
  }

  /** Benford first-digit audit of order totals: observed leading-digit
    * shares against Benford's law (Newcomb 1881; Benford 1938 —
    * P(d) = log₁₀(1 + 1/d)), with per-digit χ² contributions — the
    * data-quality canary that flags fabricated, truncated, or
    * unit-mangled numeric feeds, where a mean/variance check stays
    * blind (fabricators pick uniform-ish leading digits). `chi2_term`
    * is the COUNTS-based per-digit contribution n·(obs−exp)²/exp, so
    * Σ chi2_term is the Pearson χ² statistic directly comparable to
    * the χ²(8 df) critical values (15.51 at α=.05) — a share-based
    * term would understate by a factor of n and wave fabricated feeds
    * through. The leading
    * digit comes from the INTEGER part's exact string form
    * (floor → bigint → string — no log10 in the extraction, and no
    * double-to-string formatting, both engine-divergent); the nine
    * Benford expectations are pinned literals, identical in the SQL
    * twin, so the whole audit is bit-exact. One narrow scan + a 9-row
    * aggregation + broadcast total — scan-shaped at any size.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordAuditOn(Tables.orders(spark, dir))

  /** [[benfordAudit]] over any orders-shaped frame. */
  def benfordAuditOn(o: DataFrame): DataFrame = {
    val spark = o.sparkSession
    import spark.implicits._
    val expected = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514).toDF("digit", "exp_share")
    val counts = o
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = counts.agg(sum(col("n_obs")).as("n_total"))
    val obsShare =
      coalesce(col("n_obs"), lit(0L)).cast("double") / col("n_total")
    expected.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        obsShare.as("obs_share"), col("exp_share"),
        ((obsShare - col("exp_share")) * (obsShare - col("exp_share"))
          / col("exp_share") * col("n_total")).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** The bare bottom-k-by-hash uniform sample of a (g, h, v) frame — the
    * mergeable quantile-sketch artifact ([[quantileSketchOn]] reports
    * estimates from it; the streaming maintainer unions and re-takes it
    * per batch under the same order-statistic merge law as
    * [[kmvSketchOn]]). Built with [[graft.functions.BottomKSample]], so
    * every map task pre-reduces its rows to ≤k entries before the
    * shuffle — a hot group moves k·#partitions entries, never its row
    * count, where a rank window would single-task the group.
    */
  private[graft] def bottomKSample(base: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val bk = udaf(new graft.functions.BottomKSample(k),
      ExpressionEncoder[(String, Double)]())
    base.groupBy(col("g"))
      .agg(bk(col("h"), col("v")).as("sk"), count(lit(1)).as("n_rows"))
  }

  /** THE discrete sample-quantile estimator — v[⌈q·n⌉] of a sorted
    * value-array column, 1-clamped — shared by [[quantileSketchOn]],
    * [[quantileFromSample]], and the streaming gate's cut computation
    * so the stored-artifact ≡ batch-estimator contract is enforced by
    * one definition, not by parallel copies.
    */
  private[graft] def sampleQuantile(vs: Column, n: Column,
      q: Double): Column =
    element_at(vs, greatest(lit(1), ceil(lit(q) * n).cast("int")))

  /** Serve quantile estimates from a STORED [[graft.streaming
    * .EventStream.quantileMaintain]] sample artifact: zero scans of the
    * underlying data — the ≤k-rows-per-group (g, h, v) parquet is the
    * whole input, so any quantile of everything ever streamed costs a
    * sample-sized read (the batch twin of the streaming
    * `quantileGateSink`; same discrete v[⌈q·n⌉] estimator as
    * [[quantileSketchOn]], spec-proved equal on a shared corpus).
    */
  def quantileFromSample(spark: SparkSession, sketchPath: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad qs: $qs")
    val names = qs.map(q => s"est_p${(q * 100).round}")
    require(names.distinct.size == qs.size,
      s"quantiles $qs collide after percent rounding ($names) — " +
        "distinct integer-percent budgets only")
    val base = spark.read.parquet(sketchPath)
      .groupBy(col("g"))
      .agg(sort_array(collect_list(col("v"))).as("vs"),
        count(lit(1)).as("k_sample"))
    qs.zip(names).foldLeft(base) { case (df, (q, name)) =>
      df.withColumn(name, sampleQuantile(col("vs"), col("k_sample"), q))
    }.drop("vs").orderBy(col("g"))
  }

  /** Mergeable quantile sketch next to its exact audit: per return-flag
    * class, estimate the p50/p90/p99 of extended price from a bottom-k
    * uniform sample (each row tagged with the md5 of its unique
    * (orderkey, linenumber) key; the k smallest tags are a uniform
    * k-sample, Cohen & Kaplan 2007) and report the exact type-1
    * quantiles beside them. Quantiles are DISCRETE throughout — the
    * element at position ⌈q·n⌉ of the sorted multiset, never an
    * interpolated midpoint — so every output value is an actual data
    * element and the whole frame, estimates included, is bit-exact
    * oracle-checkable.
    *
    * Scale: the sample side is one partially-aggregated groupBy whose
    * shuffle carries ≤k entries per (group, partition) — the artifact
    * answers any quantile over an unbounded input at O(k log k) cost,
    * and merges across stores/days without rescanning (the same
    * train-once/serve-from-artifact economics as the KMV family). The
    * exact side is the test-SF audit: its cumulative window ranks the
    * DISTINCT values of each group, acceptable at audit scale but a
    * per-group sort of the value domain at 100 TB — production reads
    * the estimates.
    */
  def quantileSketch(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    quantileSketchOn(Tables.lineitem(spark, dir), k)

  /** [[quantileSketch]] over any lineitem-shaped frame. */
  def quantileSketchOn(li: DataFrame, k: Int = 64): DataFrame = {
    val base = li.select(col("l_returnflag").as("g"),
      col("l_extendedprice").as("v"),
      md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))
        .cast("binary")).as("h"))
    def sampleQ(p: Double): Column =
      sampleQuantile(col("vs"), col("k_sample"), p)
    val est = bottomKSample(base, k)
      .select(col("g"), col("n_rows"), size(col("sk")).as("k_sample"),
        array_sort(col("sk").getField("_2")).as("vs"))
      .select(col("g"), col("n_rows"), col("k_sample"),
        sampleQ(0.5).as("est_p50"), sampleQ(0.9).as("est_p90"),
        sampleQ(0.99).as("est_p99"))
    // exact audit: cumulative counts over each group's distinct values;
    // type-1 quantile = min v with cum ≥ ⌈q·n⌉. The group total rides the
    // same window pass (unframed sum), so the audit is one scan and the
    // sample aggregation above is consumed exactly once.
    val dist = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val cum = dist.select(col("g"), col("v"),
      sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("v")))
        .as("cum"),
      sum(col("c")).over(Window.partitionBy(col("g"))).as("n_tot"))
    def exactQ(p: Double): Column =
      min(when(col("cum") >= ceil(lit(p) * col("n_tot")), col("v")))
    val ex = cum
      .groupBy(col("g"))
      .agg(exactQ(0.5).as("ex_p50"), exactQ(0.9).as("ex_p90"),
        exactQ(0.99).as("ex_p99"))
    est.join(ex, "g")
      .select(col("g").as("l_returnflag"), col("n_rows"), col("k_sample"),
        col("est_p50"), col("est_p90"), col("est_p99"),
        col("ex_p50"), col("ex_p90"), col("ex_p99"))
      .orderBy(col("l_returnflag"))
  }

  /** Winsorized / trimmed price aggregation per return-flag class: clamp
    * every extended price into the [p01, p99] band estimated from the
    * SHARED bottom-k sample ([[bottomKSample]] + [[sampleQuantile]] — the
    * same estimator the quantile sketch, the stored artifact, and the
    * streaming gate serve from) and report the winsorized mean beside the
    * raw mean plus the trimmed sum — the robust-stats twin of
    * [[priceOutliers]]: where the outlier filter QUARANTINES the tail,
    * winsorizing KEEPS the row at the fence value, the estimator a
    * feature pipeline wants when dropping rows would bias the mix.
    *
    * Bit-exactness: the cuts are DATA ELEMENTS (discrete v[⌈q·n⌉] of the
    * sample), the clamp runs on the scale-6 decimal images of raw parquet
    * doubles (order-preserving, the established dec() idiom), and both
    * sums are DECIMAL — order-independent under any partitioning — cast
    * to double exactly once. Scale: the cut side is the ≤k-per-(group,
    * partition) sample aggregation; the second pass is one broadcast join
    * + a map-side-combinable aggregation — two narrow scans, no sorts,
    * no windows (the exact-percentile cut in [[priceOutliers]] would
    * rank full groups at corpus scale; the sample cut is O(k) per group).
    */
  def winsorizedPrices(spark: SparkSession, dir: String, k: Int = 256,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame =
    winsorizedPricesOn(Tables.lineitem(spark, dir), k, pLo, pHi)

  /** [[winsorizedPrices]] over any lineitem-shaped frame. */
  /** Exact heavy hitters via Misra–Gries candidates + verify — terms
    * occupying at least 1/`support` of all corpus tokens, answered
    * EXACTLY in two bounded passes instead of one full term
    * aggregation: (1) a global [[graft.functions.MisraGries]] summary
    * (k counters, map-side partial summaries merged pairwise — moves
    * k·#partitions entries, never the term count) whose guarantee makes
    * the ≤k candidates a provable superset of every term above
    * N/(k+1) ≥ the support threshold (require k+1 > support); (2) an
    * exact count of ONLY the candidates (broadcast semi-join, map-side
    * combinable) with the integer threshold test
    * `support · cnt ≥ n_total`. The final answer is exact and
    * oracle-checkable — the sketch contributes recall guarantees and
    * bounded memory, not approximation. At 100 TB this is the
    * frequent-items shape: the full `groupBy(term)` the naive query
    * pays shuffles the whole vocabulary; this shuffles k counters plus
    * the candidates' rows.
    */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 256,
      support: Int = 100): DataFrame =
    heavyHittersOn(Tables.documents(spark, dir), k, support)

  /** [[heavyHitters]] over any documents-shaped frame. */
  def heavyHittersOn(docs: DataFrame, k: Int = 256,
      support: Int = 100): DataFrame = {
    require(k + 1 > support,
      s"MG guarantee needs k+1 > support for a candidate superset: $k, $support")
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val mg = udaf(new graft.functions.MisraGries(k),
      ExpressionEncoder[String]())
    val terms = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .cutLineage() // read by the summary pass AND the verify pass
    val cand = terms.agg(mg(col("term")).as("mg"))
      .select(explode(map_keys(col("mg"))).as("term"))
    hhVerify(terms, cand, support)
  }

  /** Per-source heavy hitters — [[heavyHitters]] grouped: each source's
    * dominant terms (≥ 1/support of that source's tokens), the
    * boilerplate-vocabulary detector from the frequency side (a source
    * whose top terms are navigation chrome shows it here before any
    * quality gate fires). The MG `Aggregator` runs PER GROUP under
    * plain `groupBy(source)` — partial summaries per (task, source),
    * merged by the same bounded law — so the sketch pass moves
    * ≤ k·#partitions counters per source, and the verify join counts
    * only (source, candidate-term) rows. Same guarantee arithmetic as
    * the global operator: k+1 > support ⇒ candidate superset ⇒ the
    * verified output is exact.
    */
  def heavyHittersBySource(spark: SparkSession, dir: String, k: Int = 64,
      support: Int = 50): DataFrame =
    heavyHittersBySourceOn(Tables.documents(spark, dir), k, support)

  /** [[heavyHittersBySource]] over any documents-shaped frame. */
  def heavyHittersBySourceOn(docs: DataFrame, k: Int = 64,
      support: Int = 50): DataFrame = {
    require(k + 1 > support,
      s"MG guarantee needs k+1 > support per source: $k, $support")
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val mg = udaf(new graft.functions.MisraGries(k),
      ExpressionEncoder[String]())
    val terms = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .cutLineage()
    val cand = terms.groupBy(col("source")).agg(mg(col("term")).as("mg"))
      .select(col("source"), explode(map_keys(col("mg"))).as("term"))
    val totals = terms.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source_tokens"))
    terms.join(broadcast(cand), Seq("source", "term"), "left_semi")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), "source")
      .filter(col("cnt") * support >= col("n_source_tokens"))
      .select(col("source"), col("term"), col("cnt"),
        col("n_source_tokens"),
        (col("cnt").cast("double") / col("n_source_tokens")).as("share"))
      .orderBy(col("source"), col("cnt").desc, col("term"))
  }

  /** The exact-count verify tail [[heavyHittersOn]] and
    * [[heavyHittersFromSummary]] share — one definition, so the
    * in-query and artifact-served answers are the same expression.
    */
  private def hhVerify(terms: DataFrame, cand: DataFrame,
      support: Int): DataFrame = {
    val totals = terms.agg(count(lit(1)).as("n_total"))
    terms.join(broadcast(cand), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * support >= col("n_total"))
      .select(col("term"), col("cnt"), col("n_total"),
        (col("cnt").cast("double") / col("n_total")).as("share"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Heavy hitters with candidates served from a STORED
    * [[graft.streaming.EventStream.mgMaintain]] summary artifact — the
    * streaming-maintained MG summary replaces the in-query sketch pass,
    * so answering "what's frequent in everything ever streamed" costs
    * the verify join only (candidates are a ≤k-row parquet read). The
    * guarantee survives maintenance because the artifact is built by
    * the SAME [[graft.functions.MisraGries]] merge the in-query
    * summary's partial-aggregation tree uses.
    */
  def heavyHittersFromSummary(spark: SparkSession, summaryPath: String,
      docs: DataFrame, support: Int = 100): DataFrame = {
    val summary = spark.read.parquet(summaryPath)
    // the artifact carries the k it was maintained with; a support
    // beyond k+1 would silently void the superset guarantee while the
    // output still claims exactness — fail loudly instead
    val storedK = summary.agg(min(col("k"))).head.getInt(0)
    require(storedK + 1 > support,
      s"stored MG summary was maintained with k=$storedK, which cannot " +
        s"guarantee a candidate superset at support=$support " +
        s"(needs k+1 > support)")
    val cand = summary.select(col("term"))
    val terms = docs.select(explode(split(col("text"), " ")).as("term"))
    hhVerify(terms, cand, support)
  }

  /** Quantile (rank) normalization of a feature — map every value to
    * its empirical CDF position within its group, the standard
    * preprocessing transform that makes a heavy-tailed feature
    * trainable (rank-gauss minus the gauss). The CDF is ESTIMATED from
    * the shared [[bottomKSample]] artifact: `q_norm = #{sample ≤ v}/k`,
    * one broadcast ≤k-array per group and a codegen'd binary-search rank
    * ([[graft.functions.SampleCdfPos]]) per row — O(log k) per row at
    * scan speed inside whole-stage codegen (the interpreted
    * `size(filter(...))` HOF it replaced cost k lambda trips per corpus
    * row and was ~10× the artifact's sibling queries), where the exact
    * transform would be a per-group rank over the corpus (the
    * global-sort shape this engine's house rules exist to avoid).
    * Integer count, one division: oracle-exact, and the kernel ≡ HOF
    * equality is property-pinned in `SortedRankSpec`.
    */
  def quantileNormalize(spark: SparkSession, dir: String,
      k: Int = 256): DataFrame =
    quantileNormalizeOn(Tables.lineitem(spark, dir), k)

  /** [[quantileNormalize]] over any lineitem-shaped frame. */
  def quantileNormalizeOn(li: DataFrame, k: Int = 256): DataFrame = {
    val base = li
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))
          .cast("binary")).as("h"))
    val samples = bottomKSample(base, k)
      .select(col("g"), size(col("sk")).as("k_sample"),
        array_sort(col("sk").getField("_2")).as("vs"))
    li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .join(broadcast(samples), "g")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("g").as("l_returnflag"), col("v"),
        (graft.functions.SortedRank.cdfPos(col("vs"), col("v"))
          .cast("double") / col("k_sample")).as("q_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Robust outlier detection via median absolute deviation — the
    * heavy-tail-safe alternative to z-scores (one corrupt feed distorts
    * a mean/stddev gate; the median/MAD pair shrugs it off). Per group:
    * the sample median, the MAD (median of |v − med| — computed over
    * the SAME ≤k bottom-k sample, so it costs O(k log k) array work per
    * group, never a second corpus ranking), and the count of rows
    * outside `z · 1.4826 · MAD` of the median (1.4826 = 1/Φ⁻¹(3/4),
    * the consistency constant that makes MAD estimate σ under
    * normality — pinned as a double literal in both engines, and the
    * cut product is evaluated in fixed order entirely in doubles).
    *
    * Shape: the shared [[bottomKSample]] pre-reduces each map task to
    * ≤k entries (hot groups move k·#partitions rows, never their row
    * count), cuts broadcast back, and the flagging pass is one
    * map-side-combinable aggregation — the [[winsorizedPricesOn]]
    * scale shape with a robust-location estimator on top.
    */
  def madOutliers(spark: SparkSession, dir: String, k: Int = 256,
      z: Double = 3.0): DataFrame =
    madOutliersOn(Tables.lineitem(spark, dir), k, z)

  /** [[madOutliers]] over any lineitem-shaped frame. */
  def madOutliersOn(li: DataFrame, k: Int = 256,
      z: Double = 3.0): DataFrame = {
    val base = li
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))
          .cast("binary")).as("h"))
    val cuts = bottomKSample(base, k)
      .select(col("g"), size(col("sk")).as("k_sample"),
        array_sort(col("sk").getField("_2")).as("vs"))
      .select(col("g"), col("k_sample"), col("vs"),
        sampleQuantile(col("vs"), col("k_sample"), 0.5).as("med"))
      .select(col("g"), col("med"),
        sampleQuantile(
          array_sort(transform(col("vs"), x => abs(x - col("med")))),
          col("k_sample"), 0.5).as("mad"))
    base.join(broadcast(cuts), "g")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("med")).as("med_est"),
        min(col("mad")).as("mad_est"),
        sum(when(abs(col("v") - col("med"))
            > (lit(z) * lit(1.4826)) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("g").as("l_returnflag"), col("n_rows"), col("med_est"),
        col("mad_est"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_rows"))
          .as("outlier_rate"))
      .orderBy(col("l_returnflag"))
  }

  def winsorizedPricesOn(li: DataFrame, k: Int = 256,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(0 < pLo && pLo <= pHi && pHi <= 1,
      s"winsorizedPrices: need 0 < pLo <= pHi <= 1, got $pLo, $pHi")
    val base = li
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))
          .cast("binary")).as("h"))
    val cuts = bottomKSample(base, k)
      .select(col("g"), size(col("sk")).as("k_sample"),
        array_sort(col("sk").getField("_2")).as("vs"))
      .select(col("g"),
        sampleQuantile(col("vs"), col("k_sample"), pLo).as("lo"),
        sampleQuantile(col("vs"), col("k_sample"), pHi).as("hi"))
    base.join(broadcast(cuts), "g")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        min(col("lo")).as("lo_cut"), min(col("hi")).as("hi_cut"),
        dsum(col("v")).as("sum_raw"),
        // Clamp as a CASE on the raw doubles picking DECIMAL images —
        // NOT least/greatest: DuckDB's least/greatest return DOUBLE for
        // DECIMAL args, which would turn the twin's sum order-dependent.
        sum(when(col("v") < col("lo"), dec(col("lo")))
          .when(col("v") > col("hi"), dec(col("hi")))
          .otherwise(dec(col("v"))))
          .cast("double").as("sum_wins"),
        sum(when(col("v") >= col("lo") && col("v") <= col("hi"),
          dec(col("v")))).cast("double").as("sum_trim"))
      .select(col("g").as("l_returnflag"), col("n_rows"), col("n_lo"),
        col("n_hi"), col("lo_cut"), col("hi_cut"),
        (col("sum_raw") / col("n_rows")).as("mean_raw"),
        (col("sum_wins") / col("n_rows")).as("mean_wins"),
        col("sum_trim"))
      .orderBy(col("l_returnflag"))
  }
}
