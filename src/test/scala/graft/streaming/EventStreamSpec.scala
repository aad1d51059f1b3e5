package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import EventStream.{Event, Session}

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  test("hourlyCounts over a memory stream matches the batch aggregation") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:55:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 11:05:00"), 1, "view", 3.0))
    val q = EventStream.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
      assert(rows.length == 2)
      val clicks = rows.find(_.getAs[String]("event_type") == "click").get
      assert(clicks.getAs[Long]("n_events") == 2)
      assert(clicks.getAs[Double]("sum_value") == 3.0)
      assert(clicks.getAs[Timestamp]("hour") == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("sessionize emits a closed session once the gap is exceeded") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    // session 1: two events 10 min apart; then a 2h gap opens session 2
    input.addData(
      Event(1, ts("2024-01-01 09:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 09:10:00"), 7, "click", 2.0),
      Event(3, ts("2024-01-01 12:00:00"), 7, "view", 5.0))
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sessions").as[Session].collect()
      assert(rows.length == 1) // first session closed; second still open
      assert(rows.head.n_events == 2)
      assert(rows.head.total_value == 3.0)
      assert(rows.head.started == ts("2024-01-01 09:00:00"))
      assert(rows.head.ended == ts("2024-01-01 09:10:00"))
      // another user's much-later event advances the watermark past the
      // open session's gap deadline -> event-time timeout emits it and
      // reclaims the state (bounded-state guarantee)
      input.addData(Event(4, ts("2024-01-01 15:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      val after = spark.table("sessions").as[Session].collect()
      assert(after.length == 2)
      val expired = after.find(_.started == ts("2024-01-01 12:00:00")).get
      assert(expired.user_id == 7 && expired.n_events == 1
        && expired.total_value == 5.0)
    } finally q.stop()
  }

  test("sessionize merges a late-but-in-watermark event by extending bounds backward") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // watermark is 09:50; a 09:55 event is late but admitted -> must
      // extend the session's start backward, never move `ended` back
      input.addData(Event(2, ts("2024-01-01 09:55:00"), 7, "click", 2.0))
      q.processAllAvailable()
      // distant event advances the watermark -> session times out, emits
      input.addData(Event(3, ts("2024-01-01 15:00:00"), 99, "click", 0.0))
      q.processAllAvailable()
      val s = spark.table("late_sessions").as[Session].collect()
        .find(_.user_id == 7).get
      assert(s.started == ts("2024-01-01 09:55:00"))
      assert(s.ended == ts("2024-01-01 10:00:00"))
      assert(s.n_events == 2 && s.total_value == 3.0)
    } finally q.stop()
  }

  test("sessionize gap-merges disjoint-past late events instead of emitting singletons") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 5 min; first event opens a session at 10:00, watermark -> 09:50
    input.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
    val q = EventStream.sessionize(input.toDS(), gapSec = 300)
      .writeStream.format("memory").queryName("past_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // two admitted-but-disjoint-past events (>= watermark 09:50, but
      // before started - gap = 09:55) within 5 min of each other: they
      // must merge into ONE emitted session, not two singletons
      input.addData(
        Event(2, ts("2024-01-01 09:51:00"), 7, "click", 2.0),
        Event(3, ts("2024-01-01 09:53:00"), 7, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("past_sessions").as[Session].collect()
      assert(rows.length == 1)
      assert(rows.head.started == ts("2024-01-01 09:51:00"))
      assert(rows.head.ended == ts("2024-01-01 09:53:00"))
      assert(rows.head.n_events == 2 && rows.head.total_value == 5.0)
    } finally q.stop()
  }

  test("dedupeStream drops in-watermark duplicate keys across batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, ts("2024-01-01 10:01:00"), 1, "click", 1.0), // dup, same batch
      Event(2, ts("2024-01-01 10:02:00"), 2, "view", 2.0))
    val q = EventStream.dedupeStream(input.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      input.addData( // dup of event 1 in a later micro-batch, in-watermark
        Event(1, ts("2024-01-01 10:03:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:04:00"), 3, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").collect()
        .map(_.getAs[Long]("event_id")).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("stream-stream click attribution joins within the window only") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, ts("2024-01-01 10:00:00"), 2, "click", 0.0))
    purchases.addData(
      Event(10, ts("2024-01-01 10:30:00"), 1, "purchase", 9.99), // in window
      Event(11, ts("2024-01-01 12:30:00"), 2, "purchase", 5.0))  // too late
    val q = EventStream.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("user_id") == 1)
      assert(rows.head.getAs[Long]("purchase_id") == 10)
      assert(rows.head.getAs[Double]("purchase_value") == 9.99)
    } finally q.stop()
  }

  test("outer attribution emits unconverted clicks as NULL rows after " +
      "the watermark proves no match can come") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0), // converts
      Event(2, ts("2024-01-01 10:00:00"), 2, "click", 0.0)) // never does
    purchases.addData(
      Event(10, ts("2024-01-01 10:30:00"), 1, "purchase", 9.99))
    val q = EventStream
      .clickAttributionOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val matched = spark.table("attrib_outer").collect()
      assert(matched.length == 1 && matched.head.getAs[Long]("user_id") == 1,
        "only the converting click can be emitted before expiry")

      // advance BOTH watermarks far past click_ts + window + watermark:
      // the engine can now prove click 2 is unmatchable and release it
      clicks.addData(Event(3, ts("2024-01-01 15:00:00"), 9, "click", 0.0))
      purchases.addData(
        Event(11, ts("2024-01-01 15:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      q.processAllAvailable() // state eviction lands one trigger later
      val rows = spark.table("attrib_outer").collect()
      val nullRow = rows.filter(_.getAs[Long]("user_id") == 2)
      assert(nullRow.length == 1, s"want 1 NULL row, got ${rows.toSeq}")
      assert(nullRow.head.isNullAt(nullRow.head.fieldIndex("purchase_id")))
      assert(nullRow.head.isNullAt(
        nullRow.head.fieldIndex("purchase_value")))
    } finally q.stop()
  }

  test("session_window agg matches the batch gap-island sessionizer on " +
      "real data, and runs incrementally") {
    // parity in batch mode: same (user -> session-size multiset) as
    // Analytics.sessions' island formulation at the same 30-min gap
    val batch = graft.operators.Analytics
      .sessions(spark, "/root/testdata/sf0.001")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list("n_events")).as("sizes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = EventStream.sessionWindowCounts(
        graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list("n_events")).as("sizes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(declarative == batch)

    // and the same expression runs as a streaming aggregation
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // same session
      Event(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0)) // new session
    val q = EventStream.sessionWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      input.addData(Event(4, ts("2024-01-02 00:00:00"), 2, "click", 1.0))
      q.processAllAvailable() // watermark passes; sessions finalize
      val rows = spark.table("sw").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(rows.toSet == Set((1L, 2L), (1L, 1L)))
    } finally q.stop()
  }

  test("stream-static join enriches events with broadcast dim attributes") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0),
      Event(3, ts("2024-01-01 10:02:00"), 9, "click", 3.0)) // no dim row
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventStream.enrichWithDim(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("tier")).toMap
      assert(rows == Map(1L -> "gold", 2L -> "basic", 9L -> null))
    } finally q.stop()
  }

  test("foreachBatch sink upserts touched hour partitions idempotently") {
    implicit val sql = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_hourly").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:06:00"), 2, "view", 7.0), // same hour, other type
      Event(3, ts("2024-01-01 11:05:00"), 2, "view", 2.0))
    val q = EventStream.hourlyToParquet(input.toDF(), out, ckpt)
    try {
      q.processAllAvailable()
      // second batch updates (hour 10, click) only; the (hour 10, view)
      // and (hour 11, view) panes must survive the dynamic overwrite
      input.addData(Event(4, ts("2024-01-01 10:20:00"), 3, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .collect().map(r => (r.getAs[java.sql.Timestamp]("hour").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 10:00:00.0", "view", 1L),
        ("2024-01-01 11:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("cdc sink maintains a parquet table: upsert, stale-reject, delete") {
    implicit val sql = spark.sqlContext
    val table = java.nio.file.Files
      .createTempDirectory("graft_cdc").toString + "/serving"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ck").toString
    val input = MemoryStream[(Long, Long, String, String)]
    def snapshot() = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

    input.addData((1L, 2L, "a1", "U"), (2L, 1L, "b1", "U"))
    val q = EventStream.cdcApplyToParquet(
      input.toDF().toDF("k", "seq", "v", "_op"), table, ckpt, Seq("k"))
    try {
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> ((2L, "a1")), 2L -> ((1L, "b1"))))

      input.addData(
        (1L, 1L, "stale", "U"), // older than table seq 2 -> must NOT apply
        (2L, 5L, "gone", "D"),  // delete k=2
        (3L, 1L, "c1", "U"))    // fresh insert
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> ((2L, "a1")), 3L -> ((1L, "c1"))))

      // an empty micro-batch (no new data) must leave the table intact
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> ((2L, "a1")), 3L -> ((1L, "c1"))))
    } finally q.stop()
  }

  test("pane sink recovers from checkpoint across a query restart, state intact") {
    implicit val sql = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    val input = MemoryStream[Event]
    input.addData(Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
    val q1 = EventStream.hourlyToParquet(input.toDF(), out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    // restart against the SAME checkpoint: the new event lands in the
    // same (hour, click) group, so the recovered aggregation state must
    // produce n_events = 2 — not 1 (state lost) and not 3 (batch replayed)
    input.addData(Event(2, ts("2024-01-01 10:20:00"), 2, "click", 5.0))
    val q2 = EventStream.hourlyToParquet(input.toDF(), out, ckpt)
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))
      assert(rows.toSeq == Seq(("click", 2L, 6.0)))
    } finally q2.stop()
  }

  test("hourlyCounts also runs as a plain batch plan (watermark is a no-op)") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventStream.hourlyCounts(events)
    assert(out.count() > 0)
  }

  test("file stream with AvailableNow drains existing files in rate-bounded batches") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_filestream").toString
    val data = spark.range(30).selectExpr("id", "id % 3 AS k")
    // three single-file commits = three discoverable source files
    (0 until 3).foreach(i => data.filter(col("id") % 3 === i)
      .repartition(1).write.mode("append").parquet(dir))
    val q = spark.readStream.schema("id LONG, k LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .writeStream.format("memory").queryName("filestream")
      .trigger(Trigger.AvailableNow()).outputMode(OutputMode.Append).start()
    try {
      assert(q.awaitTermination(60000), "AvailableNow must self-terminate")
      // every pre-existing file lands exactly once...
      assert(spark.table("filestream").count() == 30)
      // ...and the rate limit held: one file per micro-batch, no gulp
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("maintained stream sketch equals a from-scratch build over full history") {
    import org.apache.spark.sql.functions.{col, udaf}
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val sketchDir = java.nio.file.Files.createTempDirectory("graft_cms").toString + "/sk"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cms_ck").toString
    val batch1 = (1 to 40).map(i => Event(i, t0, i % 7, "click", 1.0))
    val batch2 = (41 to 90).map(i => Event(i, t0, i % 11, "click", 1.0))
    val q = EventStream.cmsMaintain(input.toDF(), "user_id", sketchDir, ckpt)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val maintained = spark.read.parquet(sketchDir).head().getSeq[Long](0)
      val cmsBuild = udaf(graft.functions.CountMinBuild)
      val direct = (batch1 ++ batch2).toDF()
        .agg(cmsBuild(col("user_id")).as("sk"))
        .head().getSeq[Long](0)
      assert(maintained == direct,
        "incrementally-merged sketch must be bit-identical to direct build")
    } finally q.stop()
    // Replay guard: a fresh checkpoint re-delivers the whole stream from
    // batch 0 (foreachBatch is at-least-once); counter addition is not
    // idempotent, so without the stored batch_id gate the counts would
    // double. The sketch must come through unchanged.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cms_ck2").toString
    val q2 = EventStream.cmsMaintain(input.toDF(), "user_id", sketchDir, ckpt2)
    try {
      q2.processAllAvailable()
      val cmsBuild = udaf(graft.functions.CountMinBuild)
      val direct = (batch1 ++ batch2).toDF()
        .agg(cmsBuild(col("user_id")).as("sk")).head().getSeq[Long](0)
      val afterReplay = spark.read.parquet(sketchDir).head().getSeq[Long](0)
      assert(afterReplay == direct,
        "replayed batches must not double-count into the stored sketch")
    } finally q2.stop()
  }

  test("streaming curation gate drops eval-overlap docs and redacts PII") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota"
    input.addData(
      // shares eval words 1..8 -> decontaminated away at ingest
      (1L, "alpha beta gamma delta epsilon zeta eta theta trailer", "s", "en"),
      // clean but carries PII -> kept, redacted
      (2L, "totally unrelated words reach me at bob@mail.com today", "s", "en"),
      // NULL text: the batch twin keeps such docs — so must the gate
      (3L, null: String, "s", "en"))
    val evalSet = Seq((100L, evalText)).toDF("doc_id", "text")
    val q = EventStream.curateDocs(
      input.toDF().toDF("doc_id", "text", "source", "lang"), evalSet)
      .writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("curated").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(rows.keySet == Set(2L, 3L), "overlap dropped, null-text kept")
      assert(rows(2L) == "totally unrelated words reach me at <EMAIL> today")
      assert(rows(3L) == null)
      // stateless gate: no state store rows involved
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("bloom curation gate matches the exact gate on this stream: " +
      "overlap dropped at ingest, clean + null-text docs admitted") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota"
    input.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta trailer", "s", "en"),
      (2L, "totally unrelated words reach me at bob@mail.com today", "s", "en"),
      (3L, null: String, "s", "en"))
    val evalSet = Seq((100L, evalText)).toDF("doc_id", "text")
    val q = EventStream.curateDocsBloom(
      input.toDF().toDF("doc_id", "text", "source", "lang"), evalSet)
      .writeStream.format("memory").queryName("curated_bloom")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("curated_bloom").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      // no false negatives: the contaminated doc can never be admitted;
      // on this fixture there are no false positives either, so the
      // output equals the exact gate's
      assert(rows.keySet == Set(2L, 3L), "overlap dropped, null-text kept")
      assert(rows(2L) == "totally unrelated words reach me at <EMAIL> today")
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
  }

  test("streaming near-dup gate drops indexed near-dups, admits novel docs") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_ndgate")
    val idxDir = base.resolve("idx").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    graft.operators.Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 10 =!= 7), idxDir)
    val copyText = docs.filter(col("doc_id") === 0)
      .head.getAs[String]("text")
    val input = MemoryStream[(Long, String)]
    input.addData(
      (1000001L, copyText), // exact copy of an indexed doc -> dropped
      (1000002L, "entirely novel words nobody wrote before zxq wvu paq"))
    val q = EventStream.nearDupGate(
      input.toDF().toDF("doc_id", "text"), idxDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1000002L),
        "stored near-dup must be gated out, novel doc admitted")
      // stateless on the stream side: corpus state lives in the index
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming ppjoin exact gate: streamed admission equals the batch " +
    "index probe, and a replayed batch re-lands its partition without " +
    "duplicates") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_ppjgate")
    val idxDir = base.resolve("idx").toString
    val outDir = base.resolve("out").toString
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    graft.operators.Dedup.writePpjoinIndex(corpus, idxDir)
    // the natural admission split: held-out docs, some of which are
    // exact-similar to indexed ones, plus one guaranteed exact copy
    val copyText = docs.filter(col("doc_id") === 0)
      .head.getAs[String]("text")
    val batchDocs = docs.filter(col("doc_id") % 10 === 7)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq :+
      (1000001L, copyText)
    val expected = {
      val bdf = batchDocs.toDF("doc_id", "text")
      val dups = graft.operators.Dedup
        .ppjoinJoinFromIndex(spark, bdf, idxDir)
        .select(col("batch_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(dups.contains(1000001L), "the exact copy must probe-match")
      batchDocs.map(_._1).toSet -- dups
    }
    val input = MemoryStream[(Long, String)]
    input.addData(batchDocs: _*)
    val q = EventStream.ppjoinGateSink(
      input.toDF().toDF("doc_id", "text"), idxDir, outDir,
      base.resolve("ck1").toString)
    try {
      q.processAllAvailable()
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
    val kept = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept == expected, s"streamed $kept vs batch $expected")
    // replay RACING the external index refresh: the operational order is
    // survivors land -> appendToPpjoinIndex(survivors) -> checkpoint
    // commit; a crash before the commit replays batchId 0 against an
    // index that now CONTAINS this batch's own survivors. Without the
    // ownAdmitted exemption every survivor self-matches (jaccard 1.0)
    // and the replay admits zero; with it, the replay must reproduce the
    // original decisions exactly.
    graft.operators.Dedup.appendToPpjoinIndex(
      spark.read.parquet(outDir).select(col("doc_id"), col("text")), idxDir)
    val input2 = MemoryStream[(Long, String)]
    input2.addData(batchDocs: _*)
    val q2 = EventStream.ppjoinGateSink(
      input2.toDF().toDF("doc_id", "text"), idxDir, outDir,
      base.resolve("ck2").toString)
    try q2.processAllAvailable() finally q2.stop()
    val keptAfter = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id")).toList
    assert(keptAfter.toSet == expected && keptAfter.size == expected.size,
      s"replay must re-land identically: ${keptAfter.size} rows")
    // cross-batch redelivery contract is unchanged: the same docs under
    // a NEW batchId (after the operator appended batch 0's survivors to
    // the index) find an empty own-partition, match their indexed
    // copies, and drop — nothing double-lands in a second partition
    val idx2 = base.resolve("idx2").toString
    val out3 = base.resolve("out3").toString
    graft.operators.Dedup.writePpjoinIndex(corpus, idx2)
    val input3 = MemoryStream[(Long, String)]
    val q3 = EventStream.ppjoinGateSink(
      input3.toDF().toDF("doc_id", "text"), idx2, out3,
      base.resolve("ck3").toString)
    try {
      input3.addData(batchDocs: _*)
      q3.processAllAvailable()
      graft.operators.Dedup.appendToPpjoinIndex(
        spark.read.parquet(out3).select(col("doc_id"), col("text")), idx2)
      input3.addData(batchDocs: _*)
      q3.processAllAvailable()
    } finally q3.stop()
    val landed3 = spark.read.parquet(out3)
      .select(col("doc_id"),
        col("ingest_batch").cast("long").as("ingest_batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(landed3.forall(_._2 == 0L),
      s"redelivered batchId must admit nothing: ${landed3.filter(_._2 != 0L).take(5).toList}")
    assert(landed3.map(_._1).toSet == expected)
  }

  test("mgMaintain: the streamed summary keeps the planted heavy " +
    "hitter across batches, and summary-served verify equals the " +
    "in-query exact answer") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 10 'x' + 990 unique fillers, streamed as two batches
    val toks = Seq.fill(10)("x") ++ (0 until 990).map(i => s"f$i")
    val docs = toks.grouped(50).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_mg")
    val sumDir = root.resolve("summary").toString
    val ckpt = root.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.mgMaintain(
      input.toDF().toDF("doc_id", "text"), sumDir, ckpt)
    try {
      input.addData(docs.take(10): _*)
      q.processAllAvailable()
      input.addData(docs.drop(10): _*)
      q.processAllAvailable()
    } finally q.stop()
    val summary = spark.read.parquet(sumDir)
      .collect().map(r => r.getAs[String]("term")).toSet
    assert(summary.contains("x"),
      s"the 1% term must survive streamed maintenance")
    val corpus = docs.toDF("doc_id", "text")
    val served = graft.operators.Aggregates
      .heavyHittersFromSummary(spark, sumDir, corpus)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val inQuery = graft.operators.Aggregates.heavyHittersOn(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(served == inQuery && served == Seq(("x", 10L)),
      s"served=$served inQuery=$inQuery")
  }

  test("streaming phash gate drops payloads near-dup to the index, " +
    "admits novel payloads, holds no stream state") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val corpus = (0L until 20L)
      .map(i => (i, (base + ("y" * i.toInt)).getBytes("US-ASCII")))
    val root = java.nio.file.Files.createTempDirectory("graft_phgate")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    import spark.implicits._
    graft.operators.Multimodal.writePhashIndex(
      corpus.toDF("doc_id", "blob"), idxDir)
    val input = MemoryStream[(Long, Array[Byte])]
    input.addData(
      (1000001L, (base + "yyy").getBytes("US-ASCII")), // copy of doc 3
      (1000002L, ("totally different payload zzz qqq www " * 5)
        .getBytes("US-ASCII"))) // min hamming 28 to any indexed hash
    val q = EventStream.phashGateSink(
      input.toDF().toDF("doc_id", "blob"), idxDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1000002L),
        "indexed near-dup payload gated out, novel payload admitted")
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
  }

  test("streaming simhash gate drops docs hamming-near the index, " +
    "admits novel docs, holds no stream state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim
    val corpus = (0L until 20L)
      .map(i => (i, base + (0 until i.toInt).map(j => s" extra$j")
        .mkString))
    val root = java.nio.file.Files.createTempDirectory("graft_shgate")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    graft.operators.Dedup.writeSimhashIndex(
      corpus.toDF("doc_id", "text"), idxDir)
    val input = MemoryStream[(Long, String)]
    input.addData(
      (1000001L, corpus(3)._2), // exact copy of doc 3: hamming 0
      (1000002L, "totally different payload zzz qqq www rrr sss " * 5))
    val q = EventStream.simhashGateSink(
      input.toDF().toDF("doc_id", "text"), idxDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1000002L),
        "indexed near-dup doc gated out, novel doc admitted")
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
  }

  test("streaming embedding gate drops vectors cosine-near-dup to the " +
    "index, admits novel vectors, holds no stream state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_embgate")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    // two well-separated cells; corpus vectors hug their centroid
    val corpus = ((0L until 5L).map(i =>
      (i, Seq(1.0, 0.01 * i, 0.0, 0.0))) ++
      (5L until 10L).map(i => (i, Seq(0.0, 0.0, 0.01 * i, 1.0)))).toSeq
    val codebook = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("cid", "cv")
    graft.operators.Similarity.writeIvfIndexOn(
      corpus.toDF("vec_id", "v"), codebook, idxDir)
    val input = MemoryStream[(Long, Seq[Double])]
    input.addData(
      (100L, Seq(1.0, 0.02, 0.0, 0.0)),  // exact copy of corpus vec 2
      (101L, Seq(0.0, 1.0, 0.0, 0.0)))   // near-orthogonal to everything
    val q = EventStream.embeddingGateSink(
      input.toDF().toDF("vec_id", "v"), idxDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      assert(kept == Set(101L),
        "indexed near-dup vector gated out, novel vector admitted")
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
  }

  test("streaming embedding gate intra-batch pass: co-arriving novel " +
    "near-duplicates admit exactly the lowest-id leader; a same-cell " +
    "non-duplicate still passes") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_embgate2")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val corpus = ((0L until 5L).map(i =>
      (i, Seq(1.0, 0.01 * i, 0.0, 0.0))) ++
      (5L until 10L).map(i => (i, Seq(0.0, 0.0, 0.01 * i, 1.0)))).toSeq
    val codebook = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("cid", "cv")
    graft.operators.Similarity.writeIvfIndexOn(
      corpus.toDF("vec_id", "v"), codebook, idxDir)
    val input = MemoryStream[(Long, Seq[Double])]
    input.addData(
      // three IDENTICAL novel vectors in ONE micro-batch: the corpus
      // probe passes all three (nothing indexed is near), the
      // intra-batch leader rule must admit only the lowest id
      (101L, Seq(0.0, 1.0, 0.0, 0.0)),
      (102L, Seq(0.0, 1.0, 0.0, 0.0)),
      (103L, Seq(0.0, 1.0, 0.0, 0.0)),
      // same cell as the leader but cos 0 to it — must survive
      (104L, Seq(0.0, 0.0, 1.0, -1.0)))
    val q = EventStream.embeddingGateSink(
      input.toDF().toDF("vec_id", "v"), idxDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      assert(kept == Set(101L, 104L),
        s"intra-batch near-dups must collapse to the leader: got $kept")
    } finally q.stop()
  }

  test("curationSink: cumulative streamed stage counts equal the batch " +
    "TextCuration summary on the same corpus, and a replayed first " +
    "batch re-lands identically against the already-populated index") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_cursink")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val good = (p: String) => s"$p alpha beta gamma delta epsilon zeta " +
      s"eta theta iota kappa lambda mu"
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12"
    val dupText = "dup1 dup2 dup3 dup4 dup5 dup6 dup7 dup8 dup9 dup10"
    val all = Seq(
      (1L, good("one"), "s0", "en"),
      (2L, "e1 e2 e3 e4 e5 e6 e7 e8 tail words here pad", "s0", "en"),
      (3L, "tiny doc", "s0", "en"),                       // quality: short
      (4L, "a a a a a a a a a a", "s0", "en"),            // quality: ratio
      (5L, dupText, "s0", "en"),
      (6L, dupText, "s0", "en"),                          // same-batch dup
      (7L, dupText, "s0", "en"),                          // later-batch dup
      (8L, good("eight"), "s1", "en"),
      (9L, good("nine wholly different words entirely"), "s1", "en"),
      (10L, good("ten other phrasing again distinct"), "s1", "en"),
      (11L, good("eleven completely fresh content"), "s1", "en"),
      (12L, good("twelve more unique material"), "s1", "en"),
      (13L, good("thirteen final unlike text"), "s1", "en"),
      (20L, evalText, "s0", "en"))                        // eval id
    val allDf = all.toDF("doc_id", "text", "source", "lang")
    val cfg = graft.pipeline.TextCuration.Config(
      minTokens = 5, capPerSource = 3)
    val evalSet = allDf.filter(col("doc_id") % 20 === 0)
    val batch0 = all.filter(d => Seq(1L, 2L, 3L, 20L, 5L, 6L, 8L, 9L)
      .contains(d._1))
    val batch1 = all.filter(d => Seq(4L, 7L, 10L, 11L).contains(d._1))
    val batch2 = all.filter(d => Seq(12L, 13L).contains(d._1))
    val input = MemoryStream[(Long, String, String, String)]
    val q = EventStream.curationSink(
      input.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck1").toString, cfg)
    try {
      input.addData(batch0: _*); q.processAllAvailable()
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val ledger = spark.read.parquet(s"$outDir/ledger")
      .groupBy(col("stage"))
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchRef = graft.pipeline.TextCuration.summaryOn(allDf, cfg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger == batchRef,
      s"streamed $ledger vs batch $batchRef")
    val landed0 = spark.read.parquet(s"$outDir/docs")
      .filter(col("ingest_batch") === 0)
      .select("doc_id").as[Long].collect().toSet
    val landedAll = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(landedAll.size.toLong == batchRef("5_cap"))
    // REPLAY the first batch against the now-populated index and
    // existing output (fresh checkpoint, same batchId 0): the batch's
    // own indexed docs must not self-match, the cap must see only
    // strictly-earlier batches, and partition 0 must re-land the same
    val input2 = MemoryStream[(Long, String, String, String)]
    val q2 = EventStream.curationSink(
      input2.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck2").toString, cfg)
    try {
      input2.addData(batch0: _*); q2.processAllAvailable()
    } finally q2.stop()
    val landed0Replay = spark.read.parquet(s"$outDir/docs")
      .filter(col("ingest_batch") === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(landed0Replay == landed0,
      s"replayed partition 0: $landed0Replay vs $landed0")
    val landedAfter = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(landedAfter == landedAll, "other partitions untouched")
    val ledgerAfter = spark.read.parquet(s"$outDir/ledger")
      .groupBy(col("stage"))
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledgerAfter == batchRef, "replay must not change the ledger")
  }

  test("curationSink reuses its generated code across micro-batches: a " +
    "steady-state batch compiles only a few classes") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = java.nio.file.Files.createTempDirectory("graft_curcodegen")
    def text(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(40)(s"w${r.nextInt(400)}").mkString(" ")
    }
    val evalTexts = (1 to 3).map(i => text(-i))
    // five batches of 40 docs with rising batch ids, as in production.
    // Each later batch re-sends a doc of the one before (index match),
    // doc 3 quotes an eval text (decontamination), every 8th doc is a
    // near-dup of its predecessor (intra-batch cluster), and ids ≡ 0
    // mod 20 are eval ids.
    val batches = (0 until 5).map { b =>
      (1 to 40).map { k =>
        val t = if (k == 1 && b > 0) text(100 * (b - 1) + 2)
          else if (k == 3) evalTexts(b % 3) + " tail"
          else if (k % 8 == 1 && k > 1)
            text(100 * b + k - 1).replaceFirst("\\S+$", "changed")
          else text(100 * b + k)
        (100L * b + k, t, s"s${k % 3}", "en")
      }
    }
    val evalSet = evalTexts.zipWithIndex.map { case (t, i) =>
      (20L * (i + 1), t, "s0", "en")
    }.toDF("doc_id", "text", "source", "lang")
    // Spark jobs per batch: the listener bus is asynchronous, so after
    // each batch a marker job runs on this thread; once its start event
    // arrives, every job of the batch has been counted
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == "census-marker"))
          marker.put(jobs.getAndSet(0))
        else jobs.incrementAndGet()
    }
    def jobsSinceMarker(): Int = {
      spark.sparkContext.setJobGroup("census-marker", "census marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      marker.take()
    }
    val input = MemoryStream[(Long, String, String, String)]
    val q = EventStream.curationSink(
      input.toDF().toDF("doc_id", "text", "source", "lang"), evalSet,
      root.resolve("idx").toString, root.resolve("out").toString,
      root.resolve("ck").toString)
    spark.sparkContext.addSparkListener(listener)
    val (compiles, jobCounts) = try {
      jobsSinceMarker()
      batches.map { b =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        input.addData(b: _*); q.processAllAvailable()
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          jobsSinceMarker())
      }.unzip
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val ledger = spark.read.parquet(root.resolve("out/ledger").toString)
      .collect().map(r => (r.getAs[String]("stage"),
        r.getAs[Int]("ingest_batch")) -> r.getAs[Long]("n_docs")).toMap
    assert((0 until 5).forall(b =>
      ledger(("3_decontam", b)) < ledger(("2_quality", b)) &&
        ledger(("4_dedup", b)) < ledger(("3_decontam", b))),
      s"every gate must drop docs in every batch: $ledger")
    assert(compiles.last <= 30, s"classes compiled per batch: $compiles")
    // a steady batch runs 28 jobs here (48 while its intra-batch
    // components ran the pointer-doubling loop, 56 before the near-dup
    // stage became one band join over the decontam cut)
    assert(jobCounts.last <= 30, s"Spark jobs per batch: $jobCounts")
  }

  test("curationSink with the LM stage: streamed admissions equal the " +
    "batch composition (stages 1-4 pass-through corpus, 5_lm = the " +
    "batch Stupid-Backoff gate, cap renumbers to 6_cap)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_curlm")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val modelDir = root.resolve("lm").toString
    // reference corpus: three DISJOINT fluent sentences (no shared
    // words — the ingest docs must not MinHash-collapse into one
    // cluster at the dedup stage) the model learns by repetition
    val s1 = "the quick brown fox jumps over the lazy dog here"
    val s2 = "some people like eating fresh bread with warm butter daily"
    val s3 = "children play happy games outside during long summer evenings"
    val ref = Seq(s1, s2, s3).zipWithIndex.flatMap { case (s, i) =>
      (0 until 4).map(r => (100L + 10 * i + r, s"$s $s"))
    }.toDF("doc_id", "text")
    graft.operators.NgramLm.writeNgramLmOn(ref, modelDir)
    // ingest corpus: all docs pass quality/decontam/dedup (disjoint
    // texts, no eval overlap, ids off the eval modulus); the gibberish
    // ones score 0 at every backoff level and only the LM stage can
    // drop them
    val fluent = Seq(
      (1L, s"$s1 $s1", "s0", "en"),
      (2L, s"$s2 $s2", "s0", "en"),
      (3L, s"$s3 $s3", "s1", "en"))
    val junk = Seq(
      (4L, "zxq wvu tsr qpo nml kji hgf edc ba zz yy xx", "s0", "en"),
      (6L, "qq ww ee rr tt uu ii oo pp aa ss dd ff gg", "s1", "en"))
    val all = fluent ++ junk
    val allDf = all.toDF("doc_id", "text", "source", "lang")
    val evalSet = Seq((20L, "e1 e2 e3 e4 e5 e6 e7 e8", "s0", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val cfg = graft.pipeline.TextCuration.Config(
      minTokens = 5, capPerSource = 10)
    val minMicro = 1000L
    val input = MemoryStream[(Long, String, String, String)]
    val q = EventStream.curationSink(
      input.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck").toString, cfg,
      lmModelPath = Some(modelDir), lmMinAvgMicro = minMicro)
    try {
      input.addData(all.take(3): _*); q.processAllAvailable()
      input.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val ledger = spark.read.parquet(s"$outDir/ledger")
      .groupBy(col("stage"))
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch composition of the SAME stages: everything passes 1-4,
    // then the batch Stupid-Backoff gate against the same stored model
    val batchLmKeep = graft.operators.NgramLm.scoreOn(
        allDf.select(col("doc_id"), col("text")),
        graft.operators.NgramLm.lmModelFromIndex(spark, modelDir))
      .filter(col("avg_micro") >= minMicro)
      .select("doc_id").as[Long].collect().toSet
    assert(ledger == Map(
      "1_input" -> all.size.toLong, "2_quality" -> all.size.toLong,
      "3_decontam" -> all.size.toLong, "4_dedup" -> all.size.toLong,
      "5_lm" -> batchLmKeep.size.toLong,
      "6_cap" -> batchLmKeep.size.toLong),
      s"streamed ledger $ledger")
    val landed = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(landed == batchLmKeep,
      s"streamed $landed vs batch LM gate $batchLmKeep")
    assert(fluent.map(_._1).toSet.subsetOf(landed))
    assert(junk.map(_._1).toSet.intersect(landed).isEmpty,
      "gibberish must be dropped by the LM stage, not admitted")
  }

  test("curationSink zero-survivor replay RETRACTS the stale docs " +
    "partition: a redelivery whose LM stage now admits nothing deletes " +
    "the batch's prior landings instead of leaving them beside a " +
    "zero-cap ledger") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_curretract")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val modelDir = root.resolve("lm").toString
    val s1 = "the quick brown fox jumps over the lazy dog here"
    val ref = (0 until 4).map(r => (100L + r, s"$s1 $s1"))
      .toDF("doc_id", "text")
    graft.operators.NgramLm.writeNgramLmOn(ref, modelDir)
    val doc = (1L, s"$s1 $s1", "s0", "en")
    val evalSet = Seq((20L, "e1 e2 e3 e4 e5 e6 e7 e8", "s0", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val cfg = graft.pipeline.TextCuration.Config(
      minTokens = 5, capPerSource = 10)
    // batch 0 lands the fluent doc under the normal threshold
    val input = MemoryStream[(Long, String, String, String)]
    input.addData(doc)
    val q = EventStream.curationSink(
      input.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck1").toString, cfg,
      lmModelPath = Some(modelDir), lmMinAvgMicro = 1000L)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$outDir/docs").count() == 1)
    // the SAME batch replays (fresh checkpoint, batchId 0 again) after
    // a "model refresh" — simulated by an unreachable threshold — and
    // now admits zero docs: the stale docs partition must be retracted
    // and the rewritten ledger must agree (6_cap = 0), not contradict
    // standing docs
    val input2 = MemoryStream[(Long, String, String, String)]
    input2.addData(doc)
    val q2 = EventStream.curationSink(
      input2.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck2").toString, cfg,
      lmModelPath = Some(modelDir), lmMinAvgMicro = Long.MaxValue)
    try q2.processAllAvailable() finally q2.stop()
    val part = new org.apache.hadoop.fs.Path(s"$outDir/docs/ingest_batch=0")
    assert(!part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(part),
      "the zero-survivor replay must delete its stale docs partition")
    val ledger = spark.read.parquet(s"$outDir/ledger")
      .filter(col("stage").isin("6_cap"))
      .select("n_docs").as[Long].collect()
    assert(ledger.toSeq == Seq(0L), s"ledger cap rows: ${ledger.toSeq}")
  }

  test("curationSink: a doc REDELIVERED under a NEW batchId self-matches " +
    "its earlier indexed copy and is dropped, not double-landed") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_redeliver")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val good = (p: String) => s"$p alpha beta gamma delta epsilon zeta " +
      s"eta theta iota kappa lambda mu"
    val evalSet = Seq((20L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12",
      "s0", "en")).toDF("doc_id", "text", "source", "lang")
    val d1 = (1L, good("one"), "s0", "en")
    val input = MemoryStream[(Long, String, String, String)]
    val q = EventStream.curationSink(
      input.toDF().toDF("doc_id", "text", "source", "lang"),
      evalSet, idxDir, outDir, root.resolve("ck").toString,
      graft.pipeline.TextCuration.Config(minTokens = 5, capPerSource = 10))
    try {
      // doc 8 shares NO shingles with doc 1 (good()'s common tail would
      // make them intra-batch near-dups and collapse 8 into leader 1)
      input.addData(d1, (8L, "completely unrelated content with many " +
        "extra words beyond the minimum", "s0", "en"))
      q.processAllAvailable()
      // the SAME doc arrives again as micro-batch 1: the batchId differs,
      // so the replay exemption must NOT apply — it matches its own
      // batch-0 indexed copy and is dropped
      input.addData(d1)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$outDir/docs")
      .select(col("doc_id"), col("ingest_batch").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(landed.sorted == Seq((1L, 0L), (8L, 0L)),
      s"redelivered doc must not double-land: $landed")
    val ledger1 = spark.read.parquet(s"$outDir/ledger")
      .filter(col("ingest_batch") === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger1("4_dedup") == 0L,
      s"batch 1 must drop the redelivery at the dedup stage: $ledger1")
  }

  test("tokenAccountingSink: streamed per-doc counts equal the batch " +
    "tokenizer's, and the stream holds no state") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Bpe
    val dictDir = java.nio.file.Files
      .createTempDirectory("graft_tok_dict").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_tok_out").toString + "/counts"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_tok_ck").toString
    val dir = "/root/testdata/sf0.001"
    Bpe.writeBpeDict(spark, dir, dictDir, nMerges = 20)
    // stream the first five corpus docs through the gate
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // plus a doc whose words all miss the dict: the ledger must carry
    // a 0-count row for it, not silently drop it
    input.addData(docs :+ (999999L, " ") : _*)
    val q = EventStream.tokenAccountingSink(
      input.toDF().toDF("doc_id", "text"), dictDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .select("doc_id", "n_words", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Bpe.bpeTokenize(spark, dir, 20)
        .filter(col("doc_id") < 5)
        .select(col("doc_id"), col("n_words"),
          col("n_bpe_tokens")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch + ((999999L, 0L, 0L)),
        s"streamed $streamed != batch-tokenized $batch + empty-doc row")
      // stateless: the tokenizer lives in the artifact, not a state store
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("lmGateSink: streamed scores and keep flags equal the batch " +
    "from-artifact scorer's; OOV docs score 0 and are dropped; " +
    "no-bigram docs pass; the stream holds no state") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.TextAnalysis
    val lmDir = java.nio.file.Files
      .createTempDirectory("graft_lm_art").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_lm_out").toString + "/gated"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lm_ck").toString
    val dir = "/root/testdata/sf0.001"
    TextAnalysis.writeBigramLm(spark, dir, lmDir)
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // an all-OOV doc (must score 0.0 → dropped) and a one-token doc
    // (no bigrams, NULL score → kept)
    input.addData(docs :+ (999998L, "zzq1 zzq2 zzq3") :+ (999999L, "the"): _*)
    val q = EventStream.lmGateSink(
      input.toDF().toDF("doc_id", "text"), lmDir, outDir, ckpt)
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
      val oov = streamed.filter(col("doc_id") === 999998L).collect()(0)
      assert(oov.getAs[Double]("mean_cond_p") == 0.0
        && !oov.getAs[Boolean]("keep"))
      val short = streamed.filter(col("doc_id") === 999999L).collect()(0)
      assert(short.isNullAt(short.fieldIndex("mean_cond_p"))
        && short.getAs[Boolean]("keep"))
      val got = streamed.filter(col("doc_id") < 5)
        .select("doc_id", "n_bigrams", "mean_cond_p").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = TextAnalysis.bigramScoreFromLm(spark, lmDir, dir)
        .filter(col("doc_id") < 5)
        .select("doc_id", "n_bigrams", "mean_cond_p").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"streamed $got != batch-scored $want")
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("kmvMaintain: the stored sketch equals a from-scratch sketch of " +
    "everything streamed, and so does its estimate") {
    implicit val sql = spark.sqlContext
    import graft.operators.Aggregates
    val sketchDir = java.nio.file.Files
      .createTempDirectory("graft_kmv").toString + "/sk"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_kmv_ck").toString
    // >64 distinct shingles per source so the bottom-k actually trims
    def doc(src: String, lo: Int, hi: Int) =
      (src, (lo to hi).map(i => s"tok$i").mkString(" "))
    val batch1 = Seq(doc("sa", 1, 80), doc("sb", 1, 40))
    val batch2 = Seq(doc("sa", 60, 150), doc("sb", 30, 70))
    val input = MemoryStream[(String, String)]
    val q = EventStream.kmvMaintain(
      input.toDF().toDF("source", "text"), sketchDir, ckpt)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val all = (batch1 ++ batch2).toDF("source", "text")
      val maintained = spark.read.parquet(sketchDir)
        .select("source", "h").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val direct = Aggregates.kmvSketchOn(all).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(maintained == direct,
        "merged bottom-k must equal the from-scratch bottom-k")
      val estM = Aggregates
        .kmvEstimateFromSketch(spark.read.parquet(sketchDir)).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val estD = Aggregates.kmvDistinctOn(all).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("est_kmv")).toMap
      assert(estM == estD, s"$estM vs $estD")
      // sa's universe (~149 shingles) exceeds k=64: the artifact must be
      // trimmed to k rows, not accumulate
      val perSource = spark.read.parquet(sketchDir).groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perSource("sa") == 64L, perSource.toString)
    } finally q.stop()
  }

  test("hllRegMaintain: maintained registers equal a from-scratch build, " +
    "replay is a no-op by idempotence, and the artifact serve path agrees") {
    implicit val sql = spark.sqlContext
    import graft.operators.Aggregates
    import org.apache.spark.sql.functions._
    val regDir = java.nio.file.Files
      .createTempDirectory("graft_hllreg").toString + "/regs"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_hllreg_ck").toString
    val batch1 = (1 to 300).map(i => ("A", i.toLong)) ++
      (1 to 200).map(i => ("B", i.toLong * 7))
    val batch2 = (150 to 500).map(i => ("A", i.toLong))
    def regSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("bucket"), r.getAs[Long]("register"))).toSet
    val input = MemoryStream[(String, Long)]
    val q = EventStream.hllRegMaintain(
      input.toDF().toDF("o_orderstatus", "o_custkey"), regDir, ckpt)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val all = (batch1 ++ batch2).toDF("o_orderstatus", "o_custkey")
      val maintained = regSet(spark.read.parquet(regDir))
      val direct = regSet(Aggregates.hllTwinRegistersOn(all))
      assert(maintained == direct,
        "max-merged registers must equal the from-scratch registers")
      // idempotence: re-delivering batch2's DATA (a fresh micro-batch
      // with identical rows) must leave the artifact byte-identical —
      // register max needs no batch_id bookkeeping
      input.addData(batch2: _*)
      q.processAllAvailable()
      assert(regSet(spark.read.parquet(regDir)) == maintained)
      // estimate served from the artifact equals the twin tail over
      // the direct registers
      def estSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("o_orderstatus"), r.getAs[Long]("n_zero"),
          r.getAs[Double]("sum_inv"), r.getAs[Double]("est_hll"))).toSet
      val estA = estSet(Aggregates.hllEstimateFromArtifact(spark, regDir))
      val estD = estSet(Aggregates.hllEstimateFromRegs(
        Aggregates.hllTwinRegistersOn(all)))
      assert(estA == estD, s"$estA vs $estD")
    } finally q.stop()
  }

  test("bloomBitsMaintain: the streamed artifact equals the query twin's " +
    "filter over the same keys, replay is a no-op, and the artifact " +
    "probe matches the in-query probe") {
    implicit val sql = spark.sqlContext
    import graft.operators.Aggregates
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val bitsDir = java.nio.file.Files
      .createTempDirectory("graft_bloombits").toString + "/bits"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_bloombits_ck").toString
    // split the real distinct-key universe into two batches so the
    // maintained union must reconstruct exactly the one-shot filter
    val allKeys = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("key")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cut = allKeys(allKeys.length / 2)
    val input = MemoryStream[Long]
    val q = EventStream.bloomBitsMaintain(
      input.toDF().toDF("key"), bitsDir, ckpt)
    try {
      input.addData(allKeys.filter(_ <= cut).toSeq: _*)
      q.processAllAvailable()
      input.addData(allKeys.filter(_ > cut).toSeq: _*)
      q.processAllAvailable()
      def bitSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getAs[Long]("bit")).toSet
      val maintained = bitSet(spark.read.parquet(bitsDir))
      val direct = bitSet(Aggregates.bloomTwin(spark, dir))
      assert(maintained == direct,
        "union-merged bits must equal the one-shot twin filter")
      // idempotence: re-delivering batch 2's data changes nothing
      input.addData(allKeys.filter(_ > cut).toSeq: _*)
      q.processAllAvailable()
      assert(bitSet(spark.read.parquet(bitsDir)) == maintained)
      // the artifact probe is the in-query probe, row for row
      def probes(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("probe_key"), r.getAs[Boolean]("in_set"),
          r.getAs[Long]("n_hit"), r.getAs[Boolean]("positive"))).toSeq
      assert(probes(Aggregates.bloomProbeFromArtifact(spark, bitsDir, dir))
        == probes(Aggregates.bloomTwinProbe(spark, dir)))
    } finally q.stop()
  }

  test("quantileMaintain: the stored sample equals a from-scratch " +
    "bottom-k of everything streamed, trimmed to k per group") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.functions._
    val sketchDir = java.nio.file.Files
      .createTempDirectory("graft_qs").toString + "/sk"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_qs_ck").toString
    // >16 rows per group so the bottom-k actually trims
    def rows(lo: Int, hi: Int) =
      (lo to hi).map(i => (s"g${i % 2}", i.toString, i.toDouble))
    val batch1 = rows(1, 40)
    val batch2 = rows(30, 90) // overlap: replayed keys keep one copy
    val input = MemoryStream[(String, String, Double)]
    val q = EventStream.quantileMaintain(
      input.toDF().toDF("g", "key", "v"), "g", "key", "v",
      sketchDir, ckpt, k = 16)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val maintained = spark.read.parquet(sketchDir)
        .select("g", "h", "v").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val bk = udaf(new graft.functions.BottomKSample(16),
        ExpressionEncoder[(String, Double)]())
      // the maintainer treats an identical (g, h, v) row re-sent in a
      // later batch as the SAME logical row (idempotent re-ingest), so
      // the from-scratch twin samples the distinct row set
      val direct = (batch1 ++ batch2).distinct.toDF("g", "key", "v")
        .select(col("g"),
          md5(col("key").cast("string").cast("binary")).as("h"), col("v"))
        .groupBy(col("g")).agg(bk(col("h"), col("v")).as("sk"))
        .select(col("g"), explode(col("sk")).as("e"))
        .select(col("g"), col("e._1").as("h"), col("e._2").as("v"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(maintained == direct,
        "merged bottom-k must equal the from-scratch bottom-k")
      val perGroup = spark.read.parquet(sketchDir).groupBy("g").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perGroup == Map("g0" -> 16L, "g1" -> 16L), perGroup.toString)
      // the batch reader serves the discrete v[ceil(q*k)] estimator
      // straight from the artifact — zero scans of the stream history
      val est = graft.operators.Aggregates
        .quantileFromSample(spark, sketchDir, Seq(0.5, 0.9)).collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Double]("est_p50"), r.getAs[Double]("est_p90"))))
        .toMap
      for (g <- Seq("g0", "g1")) {
        val vs = direct.filter(_._1 == g).map(_._3).toSeq.sorted
        def q(p: Double) = vs(math.ceil(p * vs.length).toInt - 1)
        assert(est(g) == ((q(0.5), q(0.9))), s"$g: ${est(g)}")
      }
    } finally q.stop()
  }

  test("quantileGateSink drops rows outside the stored [p01, p99] band " +
    "and admits unknown groups") {
    implicit val sql = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_qgate").toString
    val (sketchDir, outDir, ck1, ck2) = (s"$base/sk", s"$base/out",
      s"$base/ck1", s"$base/ck2")
    // history: g0 values 1..100 with k >= n so the sample IS the
    // distribution — cuts are exactly v[ceil(q*n)]: lo = 1, hi = 99
    val hist = MemoryStream[(String, String, Double)]
    val qm = EventStream.quantileMaintain(
      hist.toDF().toDF("g", "key", "v"), "g", "key", "v",
      sketchDir, ck1, k = 128)
    try {
      hist.addData((1 to 100).map(i => ("g0", i.toString, i.toDouble)): _*)
      qm.processAllAvailable()
    } finally qm.stop()
    // the batch schema deliberately COLLIDES with the artifact's column
    // names ("g", "lo", "hi") — the gate's internal columns are
    // reserved-prefixed, so this must work and must not eat the batch's
    // own lo/hi columns; a NULL value in a known group is admitted
    // (missing measurement ≠ out-of-band)
    val in = MemoryStream[(String, Long, Option[Double], Double, Double)]
    val gate = EventStream.quantileGateSink(
      in.toDF().toDF("g", "row_id", "value", "lo", "hi"), "g", "value",
      sketchDir, outDir, ck2)
    try {
      in.addData(("g0", 1L, Some(0.2), 7.0, 8.0),
        ("g0", 2L, Some(50.0), 7.0, 8.0), ("g0", 3L, Some(99.0), 7.0, 8.0),
        ("g0", 4L, Some(100.0), 7.0, 8.0), ("gX", 5L, Some(1e9), 7.0, 8.0),
        ("g0", 6L, None, 7.0, 8.0))
      gate.processAllAvailable()
      val out = spark.read.parquet(outDir)
      val kept = out.select("row_id").collect().map(_.getLong(0)).toSet
      // 0.2 < lo=1 dropped; 100 > hi=99 dropped; unknown gX admitted;
      // NULL value in known g0 admitted
      assert(kept == Set(2L, 3L, 5L, 6L), kept.toString)
      // the batch's own g/lo/hi columns land untouched
      assert(out.columns.toSet
        == Set("g", "row_id", "value", "lo", "hi", "ingest_batch"),
        out.columns.mkString(","))
      assert(out.select("lo").distinct().collect()
        .map(_.getDouble(0)).toSeq == Seq(7.0))
    } finally gate.stop()
  }

  test("quantileGateSink rejects an inverted or out-of-(0,1] band at " +
    "construction instead of silently dropping every row") {
    import spark.implicits._
    val rows = spark.range(1).toDF("g")
    for ((lo, hi) <- Seq((0.9, 0.1), (0.0, 0.5), (0.5, 1.5), (-0.1, 0.9))) {
      val e = intercept[IllegalArgumentException] {
        EventStream.quantileGateSink(rows, "g", "g", "/nowhere", "/nowhere",
          "/nowhere", qLo = lo, qHi = hi)
      }
      assert(e.getMessage.contains("qLo"), s"($lo,$hi): ${e.getMessage}")
    }
  }

  test("cusumMonitor finalizes days behind the watermark and runs the " +
    "max-reset recursion with the calibrated mean") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    // μ=10, slack=0, h=5: day1 sums to 12 (S=2), day2 to 9 (S=1),
    // day3 to 18 (S=9 → alarm). Day buckets must absorb out-of-order
    // in-day arrivals; the day-5 probe only advances the watermark
    // (with a 1-day watermark it must clear day 4, not sit inside it,
    // for day 3 to close).
    val q = EventStream.cusumMonitor(input.toDS(), mu = 10.0, h = 5.0)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 18:00:00"), 1, "m", 5.0),
        Event(2, ts("2024-01-01 03:00:00"), 1, "m", 7.0),
        Event(3, ts("2024-01-02 12:00:00"), 1, "m", 9.0))
      q.processAllAvailable()
      input.addData(Event(4, ts("2024-01-03 06:00:00"), 1, "m", 18.0))
      q.processAllAvailable()
      input.addData(Event(5, ts("2024-01-05 12:00:00"), 1, "m", 0.0))
      q.processAllAvailable()
      val rows = spark.table("cusum").collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString,
          r.getAs[Double]("daily"), r.getAs[Double]("stat"),
          r.getAs[Boolean]("alarm"))).sortBy(_._1)
      assert(rows.toSeq == Seq(
        ("2024-01-01", 12.0, 2.0, false),
        ("2024-01-02", 9.0, 1.0, false),
        ("2024-01-03", 18.0, 9.0, true)), rows.mkString(", "))
    } finally q.stop()
  }

  test("cusumMonitor keeps the level across an idle gap and floors at zero") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Event]
    // day1 = 25 (S=15, alarm); then nothing until a far-future probe:
    // the timeout path must still have emitted day1; the below-mean
    // day10 (2.0) drags S to max(0, 15 - 8) = 7 — still alarming —
    // and a second quiet day floors at... stays positive; assert floor
    // behavior via a big negative-drift day
    val q = EventStream.cusumMonitor(input.toDS(), mu = 10.0, h = 5.0)
      .writeStream.format("memory").queryName("cusum2")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "m", 25.0))
      q.processAllAvailable()
      input.addData(Event(2, ts("2024-01-10 01:00:00"), 1, "m", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts("2024-01-20 01:00:00"), 1, "m", 1.0))
      q.processAllAvailable()
      val byDay = spark.table("cusum2").collect()
        .map(r => r.getAs[java.sql.Date]("day").toString ->
          ((r.getAs[Double]("stat"), r.getAs[Boolean]("alarm")))).toMap
      assert(byDay("2024-01-01") == ((15.0, true)))
      assert(byDay("2024-01-10") == ((7.0, true)), byDay.toString)
    } finally q.stop()
  }

  test("blocklistGateSink: streamed admissions and flags equal the " +
    "batch gate, across batches, stateless") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val phrases = Seq(Seq("hash", "join"), Seq("batch", "batch"))
    val rows = Seq(
      (1L, "hash join inside"), // phrase 0 -> flagged
      (2L, "join hash reversed fine"), // clean
      (3L, "batch batch batch overlap"), // phrase 1, 2 hits -> flagged
      (4L, "totally clean words here"))
    val base = java.nio.file.Files.createTempDirectory("graft_blgate")
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStream.blocklistGateSink(
      input.toDF().toDF("doc_id", "text"), phrases, outDir, ckpt)
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$outDir/docs").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(2L, 4L))
      // flags equal the batch operator over the union corpus
      val streamed = spark.read.parquet(s"$outDir/flags")
        .select(col("doc_id"), col("phrase_id"), col("n_hits"),
          col("first_pos"))
        .collect().map(_.toString).toSet
      val batch = graft.operators.TextAnalysis
        .blocklistHitsOn(rows.toDF("doc_id", "text"), phrases)
        .collect().map(_.toString).toSet
      assert(streamed == batch)
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
  }

  test("covMaintain: streamed moment state equals the from-scratch pass " +
    "bit-for-bit, pcaFromArtifact equals pcaTopComponent, and a " +
    "replayed batch is not double-added") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.functions.VectorFunctions.vecD
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Double]](1).toList))
    val base = java.nio.file.Files.createTempDirectory("graft_cov")
    val artDir = base.resolve("art").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStream.covMaintain(
      input.toDF().toDF("vec_id", "v"), artDir,
      base.resolve("ckpt").toString)
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      assert(q.lastProgress == null
        || q.lastProgress.stateOperators.isEmpty, "maintainer is stateless")
    } finally q.stop()
    // maintained micro state ≡ one from-scratch pass (integer adds
    // commute — the maintainer's whole claim)
    val art = spark.read.parquet(artDir).head()
    val (triFull, nFull) = graft.operators.Similarity
      .triangleMicroMoments(emb.select(col("v")))
    assert(art.getAs[Long]("n") == nFull)
    assert(art.getAs[Seq[Long]]("tri").toArray.toSeq == triFull.toSeq,
      "maintained triangle diverges from the from-scratch pass")
    // PCA served from the artifact ≡ the corpus-scanning entry, bitwise
    def pins(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Int]("pos"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("dim_mean")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("loading")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("eigenvalue"))))
      .toSeq
    assert(pins(graft.operators.Similarity.pcaFromArtifact(spark, artDir))
      == pins(graft.operators.Similarity.pcaTopComponent(spark, dir)))
    // replay: a fresh checkpoint restarts batch ids at 0; the stored
    // batch_id guard must skip them instead of double-adding moments
    val input2 = MemoryStream[(Long, Seq[Double])]
    val q2 = EventStream.covMaintain(
      input2.toDF().toDF("vec_id", "v"), artDir,
      base.resolve("ckpt2").toString)
    try {
      input2.addData(rows.take(5): _*); q2.processAllAvailable()
    } finally q2.stop()
    val after = spark.read.parquet(artDir).head()
    assert(after.getAs[Long]("n") == nFull,
      "replayed batch id must be ignored, not re-added")
  }

  test("lmMaintainSink: the maintained n-gram model equals a from-scratch " +
      "countsOn over everything streamed, and a replayed batch rewrites " +
      "its own partition instead of double-counting") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lmmaint")
    val modelDir = base.resolve("model").toString
    val ckpt = base.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a b c a b c"), (2L, "a b d"))
    val q = EventStream.lmMaintainSink(
      input.toDF().toDF("doc_id", "text"), modelDir, ckpt)
    try {
      q.processAllAvailable()          // batch 0
      input.addData((3L, "b c a"))
      q.processAllAvailable()          // batch 1
    } finally q.stop()
    val all = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "b c a"))
      .toDF("doc_id", "text")
    val scratch = graft.operators.NgramLm.countsOn(all)
    val maintained = graft.operators.NgramLm.lmModelFromIndex(spark, modelDir)
    assert(maintained.exceptAll(scratch).isEmpty
      && scratch.exceptAll(maintained).isEmpty)
    // at-least-once replay of batch 1: same partials land in the same
    // ingest_batch partition under dynamic overwrite -> model unchanged
    graft.operators.NgramLm.countsOn(
        Seq((3L, "b c a")).toDF("doc_id", "text"))
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(1L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(modelDir + "/counts")
    val after2 = graft.operators.NgramLm.lmModelFromIndex(spark, modelDir)
    assert(after2.exceptAll(scratch).isEmpty
      && scratch.exceptAll(after2).isEmpty,
      "replayed batch partition must rewrite, not double-count")
  }

  test("sbGateSink admits exactly the docs the batch LM gate would: " +
      "corpus-fluent text lands, out-of-vocabulary junk is dropped") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_lmgate")
    val modelDir = base.resolve("model").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    graft.operators.NgramLm.writeNgramLm(spark, "/root/testdata/sf0.001",
      modelDir)
    val fluent = docs.filter(col("doc_id") === 0)
      .head.getAs[String]("text")
    val junk = "zxqv wvupt paqrr mmznn qqlpo rrtyu vvbnm kklhj"
    val input = MemoryStream[(Long, String)]
    input.addData((2000001L, fluent), (2000002L, junk))
    val q = EventStream.sbGateSink(
      input.toDF().toDF("doc_id", "text"), modelDir, outDir, ckpt)
    try {
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // the batch-side equivalent decision over the same model
    import spark.implicits._
    val batch = Seq((2000001L, fluent), (2000002L, junk))
      .toDF("doc_id", "text")
    val expected = graft.operators.NgramLm
      .scoreOn(batch, graft.operators.NgramLm.lmModelFromIndex(spark, modelDir))
      .filter(col("avg_micro") >= 100000L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(landed == expected)
    assert(landed.contains(2000001L) && !landed.contains(2000002L),
      s"fluent doc must pass and OOV junk must drop, got $landed")
  }

  test("sbGateSink zero-survivor replay RETRACTS the stale partition: " +
      "a redelivery that now admits nothing deletes the batch's prior " +
      "admissions instead of leaving them standing") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_lmretract")
    val modelDir = base.resolve("model").toString
    val outDir = base.resolve("out").toString
    graft.operators.NgramLm.writeNgramLm(spark, "/root/testdata/sf0.001",
      modelDir)
    val fluent = docs.filter(col("doc_id") === 0)
      .head.getAs[String]("text")
    // batch 0 admits the fluent doc under the normal threshold
    val input = MemoryStream[(Long, String)]
    input.addData((2000001L, fluent))
    val q = EventStream.sbGateSink(
      input.toDF().toDF("doc_id", "text"), modelDir, outDir,
      base.resolve("ck1").toString)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(outDir).count() == 1)
    // the SAME batch replays (fresh checkpoint, batchId 0 again) after
    // a "model refresh" — simulated by an unreachable threshold — and
    // now admits zero docs: the batch's partition must be retracted
    val input2 = MemoryStream[(Long, String)]
    input2.addData((2000001L, fluent))
    val q2 = EventStream.sbGateSink(
      input2.toDF().toDF("doc_id", "text"), modelDir, outDir,
      base.resolve("ck2").toString, minAvgMicro = Long.MaxValue)
    try q2.processAllAvailable() finally q2.stop()
    val part = new org.apache.hadoop.fs.Path(s"$outDir/ingest_batch=0")
    assert(!part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(part),
      "the zero-survivor replay must delete its stale partition")
  }
}
