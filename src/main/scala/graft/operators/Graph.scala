package graft.operators

import graft.Materialize.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists, sharing the design rules of
  * [[Dedup.clustersFromPairs]]'s pointer-doubling loop: graph data stays
  * on the executors, lineage is truncated per round, and no floating
  * point appears anywhere in the iteration. The one driver-side collect
  * is [[Dedup.clustersFromPairs]]' own, for pair lists under the
  * broadcast threshold, which the loop's joins would ship through the
  * driver anyway.
  */
object Graph {

  /** Fixed-point unit: ranks are stored as integer multiples of 1e-15.
    * 64-bit headroom: rank mass ≤ UNIT, so the largest intermediate
    * (rank·85) is ≤ 8.5e16 ≪ 2⁶³.
    */
  val Unit: Long = 1000000000000000L

  /** Damped PageRank over an UNDIRECTED pair list (each pair becomes two
    * directed edges). Fixed iteration count — the budgeted-rounds
    * contract of production PR jobs, which schedule N rounds rather
    * than poll convergence.
    *
    * Determinism is total: ranks live in LONG fixed-point (1e-15 units)
    * and every step is integer multiply/floor-divide/sum — associative,
    * order-free, and expressible in ANSI SQL, so unlike a double (or
    * even decimal) formulation the whole iteration is DuckDB-oracle-
    * checkable and bit-identical at any parallelism. A double
    * formulation's per-node inflow sum depends on executor merge order;
    * Spark's decimal ops round mid-iteration at data-dependent scales.
    * Floor rounding loses ≤ deg·1e-15 rank mass per node per round —
    * irrelevant at ranking granularity.
    *
    * Scale shape per round: one shuffle keyed by edge destination for
    * the inflow sum (map-side combined), one join back to the node
    * list; `localCheckpoint` truncates the per-round lineage exactly as
    * the CC loop does. Every node of an undirected graph has degree
    * ≥ 1, so there is no dangling-mass correction term.
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .unionByName(pairs.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .distinct()
      .cutLineage()
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .cutLineage()
    val nodes = edges.select(col("src").as("node")).distinct()
      .cutLineage()
    val n = nodes.agg(count(lit(1)).as("n"))

    var state = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(s"${Unit}L div n").as("rank_fp"))
    for (i <- 1 to iters) {
      val contrib = edges
        .join(state.withColumnRenamed("node", "src"), "src")
        .join(degs, "src")
        .select(col("dst"),
          expr("(rank_fp * 85L) div (100L * deg)").as("c"))
      val inflow = contrib.groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
      state = nodes
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"),
          (expr(s"(15L * ${Unit}L) div (100L * n)")
            + coalesce(col("inflow"), lit(0L))).as("rank_fp"))
      // state is consumed ONCE per round, so unlike edges/degs/nodes it
      // needs no per-round checkpoint — only periodic lineage truncation
      // when the budget is deep enough for plan growth to bite
      if (i % 5 == 0) state = state.cutLineage()
    }
    state
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected pair list — the community-structure probe of the dup
    * graph: a template family whose members all match each other (a
    * near-clique, lcc → 1) is one reformatted document, while a hub
    * whose neighbors DON'T match each other (lcc → 0) is a boilerplate
    * attractor stitching unrelated documents together. The two need
    * different curation treatment (keep-one vs strip-the-boilerplate),
    * and degree alone cannot tell them apart.
    *
    * Shape: pairs are canonicalized to a<b, so each triangle {x<y<z} is
    * found exactly once by the two-hop join e1(x,y)⋈e2(y,z) closed by
    * e3(x,z) — three equi-join shuffles on node keys, no enumeration of
    * non-edges. Per-node counts come from exploding each triangle to
    * its three corners and one map-side-combinable count. At 100 TB the
    * standard refinement is orienting edges by (degree, id) instead of
    * id alone, which bounds wedge fan-out per node by O(√|E|) on skewed
    * graphs (the compact-forward algorithm); the triangle SET is
    * identical either way, so the id-oriented form stays the oracle
    * twin. The lcc denominator deg·(deg−1)/2 uses the true undirected
    * degree, counted separately from the oriented edge list.
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = pairs
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cutLineage()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = und.select(col("a").as("x"), col("b").as("y"))
      .join(und.select(col("a").as("y"), col("b").as("z")), "y")
      .join(und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc",
        when(col("deg") >= 2,
          col("tri") * 2.0 / (col("deg") * (col("deg") - 1))).otherwise(0.0))
      .orderBy(col("node"))
  }

  /** Triangle/clustering profile of the MinHash near-dup graph (same
    * exact-verified pair list as [[docPageRank]], so the DuckDB oracle
    * rebuilds it brute-force and closes triangles with the same
    * id-ordered triple join).
    */
  def docTriangles(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    triangleStats(Dedup.minhashNearDup(spark, dir, threshold)
      .select(col("da"), col("db")), "da", "db")

  /** Degree assortativity of an undirected pair list: the Pearson
    * correlation of endpoint degrees over the directed edge list (both
    * orientations, the standard convention) — one scalar separating
    * hub-and-spoke duplication (boilerplate attractors linking low-degree
    * docs, r < 0) from clique-of-clones structure (members of equal
    * degree linking each other, r > 0). Same exact-power-sum Pearson as
    * `Aggregates.qtyPriceCorr`: every sum is an integer on the
    * DECIMAL(38,0) image (degrees are integers; 128-bit-safe at any
    * graph size — a raw BIGINT sum of deg² can overflow at web scale),
    * then one deterministic double evaluation at the end — so the
    * statistic hash-matches ANSI SQL exactly.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = pairs
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val edges = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    edges
      .join(deg.select(col("a"), col("deg").as("ds")), "a")
      .join(deg.select(col("a").as("b"), col("deg").as("dd")), "b")
      .agg(count(lit(1)).as("n"),
        sum(d38(col("ds"))).as("sx"),
        sum(d38(col("ds") * col("ds"))).as("sxx"),
        sum(d38(col("ds") * col("dd"))).as("sxy"))
      // by symmetry of the doubled edge list, Sy = Sx and Syy = Sxx
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("assortativity"))
  }

  /** Degree assortativity of the MinHash near-dup graph. */
  def docAssortativity(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    degreeAssortativity(Dedup.minhashNearDup(spark, dir, threshold)
      .select(col("da"), col("db")), "da", "db")

  /** Hop distance from every node to its cluster's CANONICAL member (the
    * min-label node — the same root [[Dedup.clustersFromPairs]] elects):
    * distance 0 is the canonical itself, 1 its direct near-dups, 2+ the
    * transitive tail that matched nothing the canonical matched. The
    * depth profile tells template families (star around one canonical,
    * all depth 1) from drift chains (A≈B≈C≈D with A≉D, depth grows) —
    * which decides whether keep-one-per-cluster is safe or loses
    * genuinely distinct tail content.
    *
    * Iterative min-distance relaxation: each round every node takes
    * min(own, neighbor+1) — one equi-join + map-side-combinable min per
    * round, lineage lazily checkpointed, early-stop when a round changes
    * nothing (the convergence action doubles as the materializer, one
    * job per round). Rounds = graph diameter ≤ the cluster diameter the
    * CC loop already bounds. The DuckDB twin bounds its recursive CTE at
    * depth 32 — dup-family diameters are single digits; a deeper graph
    * would diverge from the oracle, loudly.
    */
  def bfsDepths(pairs: DataFrame): DataFrame = {
    val p = pairs.cutLineage(eager = true)
    val und = p.select(col("da").as("a"), col("db").as("b"))
      .union(p.select(col("db").as("a"), col("da").as("b")))
      .distinct().cutLineage(eager = true)
    var state = Dedup.clustersFromPairs(p)
      .select(col("doc_id").as("node"), col("cluster_id"),
        when(col("doc_id") === col("cluster_id"), 0L).as("dist"))
      .cutLineage()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      val viaNeighbor = und
        .join(state.select(col("node").as("a"), col("dist").as("sd")), "a")
        .filter(col("sd").isNotNull)
        .groupBy(col("b")).agg(min(col("sd") + 1).as("nd"))
      val next = state
        .join(viaNeighbor.withColumnRenamed("b", "node"), Seq("node"), "left")
        .select(col("node"), col("cluster_id"),
          least(col("dist"), col("nd")).as("dist"),
          (!(col("dist") <=> least(col("dist"), col("nd")))).as("chg"))
        .cutLineage()
      // one RDD fold, one job (as Materialize.count); `agg(sum).head`
      // pays a partial-aggregate map job plus a result job
      changed = next.select(col("chg")).queryExecution.toRdd
        .map(r => if (r.getBoolean(0)) 1L else 0L).fold(0L)(_ + _)
      state = next.drop("chg")
      rounds += 1
    }
    state.select(col("node").as("doc_id"), col("cluster_id"), col("dist"))
      .orderBy(col("doc_id"))
  }

  /** BFS depth profile of the MinHash near-dup graph. */
  def docBfsDepths(spark: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame =
    bfsDepths(Dedup.minhashNearDup(spark, dir, threshold)
      .select(col("da"), col("db")))

  /** PageRank centrality of the MinHash near-dup graph: which documents
    * sit at the center of duplication families (template hubs) vs the
    * periphery — a ranking signal for canonical selection beyond
    * [[Dedup.canonicalPerCluster]]'s length argmax. Top-k by rank with
    * deterministic tie-break; the DuckDB oracle rebuilds the pair graph
    * brute-force (as `q_dedup_minhash`'s does) and chains the same
    * three integer iterations.
    */
  def docPageRank(spark: SparkSession, dir: String, k: Int = 20,
      threshold: Double = 0.7): DataFrame =
    pageRank(Dedup.minhashNearDup(spark, dir, threshold)
        .select(col("da"), col("db")), "da", "db")
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(k)
}
