package perfbench

import graft.operators.Dedup
import graft.pipeline.{Aggregations, Pipeline, TextCuration, Transforms}
import graft.sources.JdbcSink
import graft.streaming.EventStream
import java.io.File
import java.nio.file.Files
import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, FloatType}
import scala.jdk.CollectionConverters._

/** A benchmark workload. [[setUp]] makes the inputs and prepared state
  * under `dir`; [[warmUp]] runs untimed, checked ops; [[round]] runs the
  * workload's unit of repetition, the same checked ops every time. The
  * timed window runs at least [[minRounds]] rounds.
  */
trait Workload {
  def setUp(dir: File): Unit
  def warmUp(r: Runner): Unit
  def round(r: Runner): Unit
  def minRounds: Int
}

object Workloads {
  val names = Seq("owid_etl", "curation_stream")

  /** OWID input size: locations × days covid rows (28 columns). */
  val OwidLocations = 40
  val OwidDays = 250
  /** Documents per streamed micro-batch (the 2,500 odd-id documents in 8
    * batches).
    */
  val BatchDocs = 312

  /** `docsPath`: the committed documents rows the streaming workload reads. */
  def apply(name: String, spark: SparkSession, seed: Long, docsPath: String): Workload = name match {
    case "owid_etl" => new OwidEtl(spark, seed)
    case "curation_stream" => new CurationStream(spark, docsPath)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  /** Order-independent hash of a frame's rows. Doubles are rounded to 6
    * decimals first: aggregates merge partial sums in shuffle-fetch order,
    * which moves their last bits from run to run.
    */
  def frameHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def dirStats(dirs: File*): (Long, Long) = {
    val files = dirs.filter(_.exists).flatMap { d =>
      val s = Files.walk(d.toPath)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    (files.size.toLong, files.map(Files.size).sum)
  }
}

import Workloads._

/** The reference's daily job: CSV → `Pipeline.run` → Parquet, then the four
  * serving tables into in-memory Derby via `JdbcSink.truncateAndLoad`.
  *
  * Traced ops rebuild `Pipeline.run` from the same public calls so each
  * dataset gets its own span, and must write the same five datasets.
  */
final class OwidEtl(spark: SparkSession, seed: Long) extends Workload {
  private val tables = Seq("covid_full" -> "covid_cases",
    "covid_by_country" -> "aggregated_stats",
    "covid_by_date" -> "global_daily_stats", "vaccinations" -> "vaccinations")
  private var in: OwidInput = _
  private var out = ""
  private val url = "jdbc:derby:memory:perfbench_etl;create=true"
  /** Hashes of the first op's `Pipeline.run` output, the reference for
    * every later op.
    */
  private var ref = Map.empty[String, (Long, Long)]

  def setUp(dir: File): Unit = {
    in = OwidGen.generate(new File(dir, "in"), seed, OwidLocations, OwidDays)
    out = new File(dir, "out").getPath
  }

  def warmUp(r: Runner): Unit = (1 to 2).foreach(_ => round(r))
  def minRounds: Int = 3

  def round(r: Runner): Unit =
    r.op(in.covidRows + in.vaccRows) {
      if (r.tracer.on) tracedRun(r.tracer)
      else Pipeline.run(spark, in.covidCsv, Some(in.vaccCsv), out)
      tables.foreach { case (ds, table) =>
        r.tracer.span(s"sources.jdbc.$table") {
          JdbcSink.truncateAndLoad(spark.read.parquet(s"$out/$ds"), url, table)
        }
      }
    } {
      r.note("stored_bytes_ratio",
        dirStats(new File(out))._2.toDouble / in.inputBytes)
      check(hashAll = r.tracer.on)
    }

  private def datasets = Seq("covid_full", "covid_by_country", "covid_by_date",
    "covid_filtered", "vaccinations")

  /** `Pipeline.run`'s body: a span for building the cached covid frame,
    * then one per saved dataset.
    */
  private def tracedRun(t: Tracer): Unit = {
    def save(name: String)(df: => DataFrame): Unit =
      t.span(s"pipeline.save.$name")(Pipeline.saveParquet(df, s"$out/$name"))
    val covid = t.span("pipeline.transform") {
      Transforms.transformCovid(Pipeline.readCovidCsv(spark, in.covidCsv)).cache()
    }
    try {
      save("covid_full")(covid)
      save("covid_by_country")(Aggregations.byCountry(covid))
      save("covid_by_date")(Aggregations.withGlobalMovingAvg(Aggregations.byDate(covid)))
      save("covid_filtered")(Transforms.filterCountries(covid, Pipeline.defaultCountries))
      save("vaccinations")(Transforms.transformVaccinations(
        Pipeline.readVaccinationsCsv(spark, in.vaccCsv)))
    } finally covid.unpersist()
  }

  private def check(hashAll: Boolean): Boolean = {
    val expected = Map("covid_full" -> in.covidRows,
      "covid_by_country" -> in.locations, "covid_by_date" -> in.dates,
      "covid_filtered" -> in.filteredRows, "vaccinations" -> in.vaccRows)
    val parquetOk = datasets.forall(ds =>
      spark.read.parquet(s"$out/$ds").count() == expected(ds))
    val jdbcOk = {
      val c = DriverManager.getConnection(url)
      try tables.forall { case (ds, table) =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next() && rs.getLong(1) == expected(ds)
      } finally c.close()
    }
    val hashOk = if (ref.isEmpty) {
      ref = datasets.map(ds => ds -> frameHash(spark.read.parquet(s"$out/$ds"))).toMap
      true
    } else (if (hashAll) datasets else Seq("covid_by_country")).forall(ds =>
      frameHash(spark.read.parquet(s"$out/$ds")) == ref(ds))
    parquetOk && jdbcOk && hashOk
  }
}

/** Streaming curation over the committed documents rows: the first 1,872
  * rows, by `doc_id`, of the sf0.1 `documents` table that have an odd id or
  * an eval id (`doc_id % 20 == 0`). The input is fixed, so the seed is not
  * used.
  *
  * One round is one drain of those rows in `doc_id` order
  * through `EventStream.curationSink`: fresh index, output and checkpoint
  * dirs, then one op per micro-batch, each batch added only after the
  * last `processAllAvailable` returned. Every round times the same
  * batches, so how many rounds a run makes does not change which ops its
  * medians see. After each drain the summed ledger must equal
  * `TextCuration.summaryOn` over the rows, or every op of the drain
  * fails.
  */
final class CurationStream(spark: SparkSession, docsPath: String) extends Workload {
  import spark.implicits._
  private type In = (Long, String, String, String)
  private val cols = Seq("doc_id", "text", "source", "lang")
  private var root: File = _
  private var batches = Seq.empty[Seq[In]]
  private var evalSet: DataFrame = _
  /** `TextCuration.summaryOn` over the rows: every drain's ledger total. */
  private var summary = Map.empty[String, Long]
  private var drains = 0

  def setUp(dir: File): Unit = {
    root = dir
    val docs = spark.read.parquet(docsPath).select(cols.map(col): _*).as[In]
      .collect().sortBy(_._1).toSeq
    batches = docs.grouped(BatchDocs).toSeq
    evalSet = docs.filter(_._1 % 20 == 0).toDF(cols: _*)
    summary = ledger(TextCuration.summaryOn(docs.toDF(cols: _*)))
  }

  private def ledger(df: DataFrame): Map[String, Long] =
    df.collect().map(row => row.getString(0) -> row.getLong(1)).toMap

  /** The first two batches of a drain. The ledger check needs a whole
    * drain, so only the per-batch checks run.
    */
  def warmUp(r: Runner): Unit = drain(r, 2)
  def minRounds: Int = 1

  def round(r: Runner): Unit = {
    val (ops, dir) = drain(r, batches.size)
    val streamed = ledger(spark.read.parquet(s"$dir/out/ledger")
      .groupBy(col("stage")).agg(sum(col("n_docs"))))
    if (streamed != summary) {
      System.err.println(s"[perfbench] streamed ledger $streamed != batch summary $summary")
      ops.foreach(_.ok = false)
    }
    Main.deleteTree(dir)
  }

  /** Streams the first `n` batches through a fresh query and dirs. */
  private def drain(r: Runner, n: Int): (Seq[OpStat], File) = {
    drains += 1
    val dir = new File(root, s"drain-$drains")
    val (idx, out) = (new File(dir, "index"), new File(dir, "out"))
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val input = MemoryStream[In]
    val query = EventStream.curationSink(input.toDF().toDF(cols: _*),
      evalSet, idx.getPath, out.getPath, new File(dir, "checkpoint").getPath)
    val ops = try (0 until n).map(i => batch(r, i, input, query, idx, out))
      finally query.stop()
    (ops, dir)
  }

  private def batch(r: Runner, id: Int, input: MemoryStream[In],
      query: StreamingQuery, idx: File, out: File): OpStat = {
    val b = batches(id)
    val (files0, bytes0) = dirStats(idx, out)
    r.op(b.size) {
      val t0 = System.nanoTime()
      input.addData(b)
      query.processAllAvailable()
      if (r.tracer.on) traceProgress(r.tracer, query, id, t0)
    } {
      val (files1, bytes1) = dirStats(idx, out)
      val ledger = spark.read.parquet(s"$out/ledger")
        .filter(col("ingest_batch") === id).collect()
        .map(row => row.getAs[String]("stage") -> row.getAs[Long]("n_docs")).toMap
      r.note("streaming.admitted_ratio", ledger.getOrElse("5_cap", 0L).toDouble / b.size)
      r.note("streaming.files_per_batch", (files1 - files0).toDouble)
      r.note("stored_bytes_ratio",
        (bytes1 - bytes0).toDouble / b.map(_._2.getBytes("UTF-8").length).sum)
      if (r.tracer.on) {
        // the operators layer on its own: the near-dup call the sink makes
        // per batch, run here on the batch's documents, outside the op
        val t = System.nanoTime()
        Dedup.minhashNearDupOn(b.toDF(cols: _*), TextCuration.Config().dedupThreshold)
          .write.format("noop").mode("overwrite").save()
        r.note("operators.near_dup_pairs_s", (System.nanoTime() - t) / 1e9)
      }
      val counts = ledger.toSeq.sortBy(_._1).map(_._2)
      ledger.get("1_input").contains(b.size.toLong) && counts.size == 5 &&
        counts.zip(counts.tail).forall { case (a, c) => a >= c }
    }
  }

  /** Lays the batch's `durationMs` phases out as spans, in the order
    * micro-batch execution runs them, under one `streaming.trigger` span
    * that starts at the trigger's own timestamp. Offset lookup and
    * getBatch (about a millisecond each) stay in the trigger's self time.
    */
  private def traceProgress(t: Tracer, q: StreamingQuery,
      batchId: Int, opStartNs: Long): Unit = {
    // the stream thread records progress just after the batch commits
    val deadline = System.nanoTime() + 5000000000L
    var found = q.recentProgress.find(_.batchId == batchId)
    while (found.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(5)
      found = q.recentProgress.find(_.batchId == batchId)
    }
    val p = found.getOrElse(throw new IllegalStateException(s"no progress for batch $batchId"))
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val start = math.max(opStartNs,
      System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L)
    val trigger = t.addSpan("streaming.trigger", t.current, start,
      start + dur.getOrElse("triggerExecution", 0L) * 1000000L)
    var at = start
    Seq("latestOffset" -> "", "walCommit" -> "streaming.wal_commit", "getBatch" -> "",
      "queryPlanning" -> "streaming.query_planning", "addBatch" -> "streaming.add_batch",
      "commitOffsets" -> "streaming.commit_offsets")
      .foreach { case (k, name) =>
        val ns = dur.getOrElse(k, 0L) * 1000000L
        if (name.nonEmpty) t.addSpan(name, trigger, at, at + ns)
        at += ns
      }
    t.attach(q.runId.toString)
  }
}
