package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale-up generator: writes an sf-N× replica of a testdata
  * dir (default 10× sf0.1 ≈ sf1) for whole-board scale benching —
  * `SPARK_GRAFT_SF_DIR=<out> runMain graft.Bench`.
  *
  * Replication follows TPC-H's scaling contract: `region`/`nation` are
  * fixed catalogs (copied as-is); every other table grows by `factor`.
  * Replica 0 is the ORIGINAL rows bit-for-bit, so the conventions the
  * query suite pins to concrete ids (vec_id = 0 query vector, the
  * first-16 codebook, doc_id-keyed fixtures) hold unchanged on the
  * scaled dir; replicas 1..N−1 shift every key column by
  * replica × 100,000,000 per keyed table, CONSISTENTLY across tables
  * (l_orderkey moves with o_orderkey, o_custkey with c_custkey, …), so
  * each replica joins within itself and the join graph's shape — fan
  * -outs, match rates, null rates — is exactly the original's at N×
  * the volume.
  *
  * Two tables get per-replica CONTENT perturbation, because replicating
  * them verbatim would not scale the workload — it would densify it:
  * near-dup operators are pair-bound, and 10 verbatim copies of every
  * document manufacture C(10,2) × corpus near-dup pairs (the
  * worst-case clique stress the `contrastive_10x` profile row covers
  * deliberately), which no real 10× corpus exhibits — a real corpus
  * grows with its duplicate RATE roughly constant.
  *  - `documents.text`: replicas ≥ 1 get a replica-tagged marker token
  *    spliced after every 8 words (regexp, one pass). Any 5-word
  *    shingle window crossing a marker is novel, so cross-replica
  *    Jaccard lands far below every dedup threshold while
  *    within-replica duplicate structure (the planted organic dups)
  *    is preserved exactly. `n_chars` is recomputed for the new text.
  *  - `embeddings.embedding`: replicas ≥ 1 flip the sign of a
  *    replica-dependent half of the dimensions
  *    (((i+1)·(2r+1)+r) mod 4 < 2 keeps; else negate) — norms are
  *    untouched, cross-replica cosines collapse toward 0, so
  *    cosine/SemDeDup/ANN workloads see 10× corpus at organic dup
  *    density.
  * `events` replicates with event_id and user_id shifted and
  * timestamps kept: 10× the stream in the same wall window — denser
  * traffic, same per-user sessionization shape.
  */
object ScaleGen {
  private val Shift = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    gen(spark, srcDir, outDir, factor)
    spark.stop()
  }

  def gen(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"scalegen: wrote $t")
    }
    // one scan branch per table: replicate via crossJoin with a
    // factor-row frame (a union of literal-shifted branches would
    // Janino-compile each operator factor times, since each branch's
    // distinct literal defeats the codegen cache)
    val reps = spark.range(factor).toDF("rep")
    def rep(df: DataFrame, keys: String*): DataFrame = {
      val wide = df.crossJoin(broadcast(reps))
      keys.foldLeft(wide) { (d, k) =>
        d.withColumn(k, col(k) + col("rep") * Shift)
      }
    }
    write(src("region"), "region")
    write(src("nation"), "nation")
    write(rep(src("customer"), "c_custkey").drop("rep"), "customer")
    write(rep(src("supplier"), "s_suppkey").drop("rep"), "supplier")
    write(rep(src("part"), "p_partkey").drop("rep"), "part")
    write(rep(src("orders"), "o_orderkey", "o_custkey").drop("rep"),
      "orders")
    write(rep(src("lineitem"), "l_orderkey", "l_partkey", "l_suppkey")
      .drop("rep"), "lineitem")
    write(rep(src("events"), "event_id", "user_id").drop("rep"), "events")
    val docs = rep(src("documents"), "doc_id")
      .withColumn("text", when(col("rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("((?:\\S+ ){8})"),
          concat(lit("$1zq"), col("rep").cast("string"), lit(" ")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep")
    write(docs, "documents")
    val emb = rep(src("embeddings"), "vec_id")
      .withColumn("embedding", when(col("rep") === 0, col("embedding"))
        .otherwise(transform(col("embedding"), (x, i) =>
          when(((i + 1) * (col("rep") * 2 + 1) + col("rep")) % 4 < 2, x)
            .otherwise(-x))))
      .drop("rep")
    write(emb, "embeddings")
  }
}
