package graft.streaming

import graft.Materialize.MatOps
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Structured Streaming surface. The reference is daily-batch only
  * (SURVEY.md §2.4 "Streaming: None"), so this is engine capability beyond
  * parity: the same event-table aggregations run incrementally.
  *
  * Both operators are written against unbounded input: watermarks bound
  * state, aggregation state is per (window, type) — partitionable across
  * executors — and the sessionizer keys state by user_id. Nothing here
  * buffers a full stream partition in memory.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class Session(user_id: Long, started: Timestamp, ended: Timestamp,
    n_events: Long, total_value: Double)

  /** Hour-window counts with a watermark for late data — the incremental
    * form of Analytics.eventsByHour. Works on a streaming OR batch frame
    * (watermark is a no-op in batch).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState): a session closes when the next event is
    * more than `gapSec` after the last one; closed sessions are emitted
    * downstream. Batch-within-group events arrive unordered — sorted here;
    * cross-batch order is the stream's responsibility (event-time
    * processing with watermark).
    *
    * State is BOUNDED: the input carries a watermark and every open
    * session arms an event-time timeout at `ended + gapSec`. When the
    * watermark passes it, the open session is emitted and its state
    * removed — so idle/one-shot users don't leak state entries, and
    * every session is eventually emitted even if its user never returns.
    */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800,
      watermark: String = "10 minutes")(
      implicit enc: org.apache.spark.sql.Encoder[Session],
      senc: org.apache.spark.sql.Encoder[Option[Session]]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[Session], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Option[Session]]) =>
          if (state.hasTimedOut) {
            val expired = state.getOption.flatten
            state.remove()
            expired.iterator
          } else {
            val gapMs = gapSec * 1000
            // events older than the watermark are beyond the allowed
            // lateness — flatMapGroupsWithState does not filter them for
            // us the way aggregations do
            val admitted = batch.filter(_.ts.getTime >= state.getCurrentWatermarkMs())
            // Standard interval gap-merge over (stored open session ++
            // admitted events), sorted by start. Treating the stored
            // session as just another interval makes every case fall out
            // of one rule — a late-but-admitted event extends bounds
            // backward (min/max, `ended` never regresses), and two
            // disjoint-past events within `gap` of each other merge into
            // ONE emitted session instead of batch-order-dependent
            // singletons. Only the time-latest interval stays open.
            // one TOTAL sort: the trailing keys never affect which
            // sessions form, but they pin the fold order of equal-start
            // items so the double `total_value` sum is bit-deterministic
            // (float addition is commutative but not associative)
            val items = (state.getOption.flatten.toSeq ++
              admitted.map(e => Session(userId, e.ts, e.ts, 1, e.value)))
              .sortBy(s => (s.started.getTime, s.ended.getTime,
                s.n_events, s.total_value))
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur: Option[Session] = None
            items.foreach { s =>
              cur match {
                // sorted by start, so merged start is o.started and the
                // merge test only needs s.started vs o.ended + gap
                case Some(o) if s.started.getTime <= o.ended.getTime + gapMs =>
                  cur = Some(o.copy(
                    ended = if (s.ended.after(o.ended)) s.ended else o.ended,
                    n_events = o.n_events + s.n_events,
                    total_value = o.total_value + s.total_value))
                case Some(o) =>
                  out += o
                  cur = Some(s)
                case None =>
                  cur = Some(s)
              }
            }
            cur match {
              case Some(s) =>
                state.update(Some(s))
                // never arm a timeout at/behind the watermark (illegal)
                val at = math.max(s.ended.getTime + gapMs,
                  state.getCurrentWatermarkMs() + 1)
                state.setTimeoutTimestamp(at)
              case None =>
                // nothing open (whole batch was late-dropped, no prior
                // session): leave NO state behind — an update(None) here
                // would store an entry with no timeout armed, leaking it
                // forever on an unbounded stream
                if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }

  /** One emitted CUSUM point per finalized day per series key. */
  case class DriftPoint(event_type: String, day: java.sql.Date,
    daily: Double, stat: Double, alarm: Boolean)

  /** CUSUM state: the running level and the not-yet-final day sums, both
    * in 1e-6 fixed-point.
    */
  case class DriftState(s: Long, open: Map[Long, Long])

  /** Streaming CUSUM drift monitor — the online form of
    * [[graft.operators.Analytics.cusumOn]]: per series key, accumulate
    * each UTC day's value total while the day is open, and when the
    * watermark closes a day fold it into the classic recursion
    * S ← max(0, S + (x − μ − slack)), alarming once S > h. The batch
    * operator centers on the realized series mean (it sees the whole
    * series); the monitor uses the CALIBRATED reference μ — exactly how
    * the two are deployed: batch to learn the baseline, stream to watch
    * new days against it.
    *
    * Everything in state is 1e-6 fixed-point LONGS — per-event rounding
    * then integer sums, the streaming image of the DECIMAL(18,6)
    * discipline — so day totals are independent of batch arrival order
    * and the recursion is bit-deterministic under any micro-batching,
    * including replays. Late events beyond the watermark drop (their
    * day is already emitted); in-watermark stragglers land in their
    * day bucket regardless of arrival order.
    *
    * State is bounded two ways: open-day buckets per key ≤ the
    * watermark horizon in days (closed days leave the map), and the
    * long-lived residue is one (level, empty-map) entry per series key
    * — series keys are a bounded metric dimension (event types,
    * sources), not user-scale. An event-time timeout at the earliest
    * open day's end finalizes days for keys that go quiet, so a burst
    * followed by silence still emits its days once the watermark
    * passes.
    */
  def cusumMonitor(events: Dataset[Event], mu: Double, slack: Double = 0.0,
      h: Double = 5.0, watermark: String = "1 day"): Dataset[DriftPoint] = {
    import events.sparkSession.implicits._
    val muS = math.round(mu * 1e6)
    val slackS = math.round(slack * 1e6)
    val hS = math.round(h * 1e6)
    val dayMs = 86400000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[DriftState, DriftPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[Event], state: GroupState[DriftState]) =>
          val st0 = state.getOption.getOrElse(DriftState(0L, Map.empty))
          val wm = state.getCurrentWatermarkMs()
          // on timeout the batch iterator is empty, so one code path
          // serves both wake-up reasons
          val open = batch.filter(_.ts.getTime >= wm)
            .foldLeft(st0.open) { (m, e) =>
              val d = Math.floorDiv(e.ts.getTime, dayMs)
              m.updated(d, m.getOrElse(d, 0L) + math.round(e.value * 1e6))
            }
          val (done, still) = open.partition { case (d, _) =>
            (d + 1) * dayMs <= wm
          }
          var s = st0.s
          val out = done.toSeq.sortBy(_._1).map { case (d, v) =>
            s = math.max(0L, s + (v - muS - slackS))
            DriftPoint(key, new java.sql.Date(d * dayMs),
              v / 1e6, s / 1e6, s > hS)
          }
          state.update(DriftState(s, still))
          if (still.nonEmpty)
            state.setTimeoutTimestamp(
              math.max((still.keys.min + 1) * dayMs, wm + 1))
          out.iterator
      }
  }

  /** Streaming exact dedup — the incremental form of `Dedup.exact`: drop
    * repeated keys with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`), so a key's dedup state is
    * reclaimed once it can no longer receive in-watermark duplicates.
    * Unbounded-state `dropDuplicates` is the trap this avoids on an
    * infinite stream.
    */
  def dedupeStream(events: DataFrame, keys: Seq[String] = Seq("event_id"),
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner join: clicks attributed to a purchase by the
    * same user within the attribution window (purchase follows the click
    * by at most `windowSec`). Both sides carry watermarks and the join
    * condition bounds event-time distance, so each side's buffered state
    * is finite and reclaimable — the requirements Structured Streaming
    * imposes before it will run a stream-stream join at all.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      windowSec: Long = 3600, watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Session aggregation via the BUILT-IN `session_window` — the
    * declarative twin of both the [[sessionize]] state machine and the
    * batch gap-island formulation (`Analytics.sessions`): one
    * expression, runs identically as a batch plan or an incremental
    * streaming aggregation with watermark-bounded state (Spark merges
    * overlapping per-event windows internally; no custom state code).
    *
    * Boundary fine print: `session_window` extends each event's window
    * to `ts + gap` half-open, so an event arriving EXACTLY `gap` after
    * its predecessor starts a NEW session, where the island
    * formulation's `diff > gap` keeps it — the two agree everywhere
    * except that measure-zero boundary (parity spec-checked on real
    * data).
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("n_events"))

  /** LEFT OUTER stream-stream attribution: like [[clickAttribution]],
    * but clicks that never convert inside the window are EMITTED with
    * NULL purchase columns instead of vanishing — the shape conversion
    * funnels actually need (the denominator is all clicks). Outer
    * stream-stream joins are only well-defined because both sides are
    * watermarked AND the join condition time-bounds the match window:
    * the engine can then prove a buffered click has no possible future
    * match and release it as a NULL row. The cost of that proof is
    * latency — unmatched rows appear only once the watermark passes
    * `click_ts + windowSec`, not at click time.
    */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame,
      windowSec: Long = 3600, watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static enrichment join: attach slowly-changing dimension
    * attributes to a live stream. Stateless on the stream side — the
    * static frame is (re)broadcast per micro-batch, so no watermark and
    * no state store are involved, and a dimension refresh (new snapshot
    * under the same path) is picked up on the next batch. The contrast
    * with [[clickAttribution]] is deliberate: stream⋈static needs none
    * of the stream⋈stream buffering machinery.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String = "user_id", dimKey: String = "user_id"): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Streaming document curation gate: benchmark decontamination + PII
    * redaction applied to a document STREAM against a static eval set —
    * the ingest-time form of the batch pipeline's stages 2 and PII pass
    * (a doc rejected here never lands in the corpus, instead of being
    * retired by a later batch sweep).
    *
    * Statelessness is the design point: the eval set's distinct shingle
    * hashes are aggregated into ONE static row (benchmarks are tiny next
    * to the corpus — the same bytes a broadcast join would ship), the
    * stream cross-joins that broadcast row per micro-batch, and the
    * overlap test + redaction are narrow per-row expressions. No
    * watermark, no state store, no stream-side aggregation — so the gate
    * composes with any downstream sink mode, and an eval-set refresh is
    * picked up the same way [[enrichWithDim]] picks up dimension
    * snapshots.
    */
  def curateDocs(docs: DataFrame, evalSet: DataFrame, k: Int = 8): DataFrame = {
    import graft.operators.{Dedup, Privacy}
    val evalHashes = evalSet
      .select(explode(Dedup.shingleHashes(col("text"), k)).as("h"))
      .distinct()
      .agg(collect_set(col("h")).as("eval_hashes"))
    docs
      .withColumn("hs", Dedup.shingleHashes(col("text"), k))
      .crossJoin(broadcast(evalHashes))
      // coalesce: a NULL-text doc has NULL shingles → NULL overlap, and
      // a bare filter would silently drop it; the batch twin
      // (Dedup.decontaminateOn) KEEPS such docs (explode of NULL yields
      // no hit rows), so the gate must too
      .filter(!coalesce(arrays_overlap(col("hs"), col("eval_hashes")),
        lit(false)))
      .select(col("doc_id"), Privacy.redact(col("text")).as("text"),
        col("source"), col("lang"))
  }

  /** [[curateDocs]] with the Bloom-artifact eval set — the ingest gate
    * for eval/blocklist sets too large to ship as an exact hash array
    * (the streaming face of
    * [[graft.operators.Dedup.decontaminateBloomOn]], built on the SAME
    * shared artifact builder so the two paths cannot drift). The filter
    * is a constant `might_contain` predicate folded into each
    * micro-batch's narrow scan: numBits/8 bytes regardless of eval
    * size, still stateless, still no watermark. Error direction matches
    * the batch twin: a false positive drops a clean doc at ingest (it
    * can be re-admitted after an artifact rebuild); a truly
    * contaminated doc is NEVER admitted.
    */
  def curateDocsBloom(docs: DataFrame, evalSet: DataFrame, k: Int = 8,
      expectedItems: Long = 4000000L): DataFrame = {
    import graft.operators.{Dedup, Privacy}
    val bf = Dedup.evalBloom(evalSet, k, expectedItems)
    val clean =
      if (bf == null) docs
      else docs.filter(!coalesce(
        exists(Dedup.shingleHashes(col("text"), k),
          h => Dedup.mightContain(bf, h)),
        lit(false)))
    clean.select(col("doc_id"), Privacy.redact(col("text")).as("text"),
      col("source"), col("lang"))
  }

  /** The one streaming skeleton: a `foreachBatch` query on `checkpoint`
    * that hands `body` each batch and its id, with no probe of its own.
    * Only [[hourlyToParquet]] calls it directly: its batches are the
    * output of a stateful aggregation, so any probe would re-run the
    * shuffle and the state-store load. Returns the started query; the
    * caller owns its lifecycle.
    */
  private def eachBatch(df: DataFrame, checkpoint: String,
      mode: OutputMode)(body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        body(batch, batchId))
      .start()

  /** The micro-batch runner of every stateless sink below: counts each
    * batch once ([[graft.Materialize.count]], one job), skips an empty
    * batch, and hands `body` the batch, its id and its row count.
    */
  private def microBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long, Long) => Unit): StreamingQuery =
    eachBatch(df, checkpoint, OutputMode.Append) { (batch, batchId) =>
      val n = graft.Materialize.count(batch)
      if (n > 0) body(batch, batchId, n)
    }

  /** Land `frame` as batch `batchId`'s `ingest_batch=<batchId>` partition
    * of `path`. foreachBatch is at-least-once, so a replayed batch must
    * rewrite its own partition instead of landing its rows a second
    * time: the write is a per-writer DYNAMIC partition overwrite, which
    * replaces the partition only at the job's commit. Dynamic overwrite
    * alone leaves a partition the write does not touch, so a replay
    * whose rows shrink to zero (an index, model, band or phrase-list
    * refresh racing the redelivery) would leave the previous attempt's
    * rows standing. The partition is therefore retracted AFTER the
    * write, and only when the write left its file listing unchanged: a
    * non-empty write always changes it, since new part files carry the
    * new job's id. The batch's on-disk state is exactly its current
    * rows, empty included, and a write that fails leaves the previous
    * attempt's partition in place — the admission record
    * [[ownAdmitted]] reads on the next replay.
    *
    * A frame the caller reuses after this call must not lazily read the
    * partition: cut it first with a cut that drops its lineage
    * ([[ownAdmitted]]'s `cutForOverwrite`, or a counted lazy cut).
    */
  private def landBatch(frame: DataFrame, batchId: Long,
      path: String): Unit = {
    val part = new org.apache.hadoop.fs.Path(s"$path/ingest_batch=$batchId")
    val fs = part.getFileSystem(
      frame.sparkSession.sparkContext.hadoopConfiguration)
    def listing =
      try fs.listStatus(part).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    val before = listing
    frame.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(path)
    if (before.nonEmpty && listing == before) fs.delete(part, true)
  }

  /** Streaming CDC apply: maintain a parquet serving table from a change
    * feed — the streaming face of [[graft.operators.Cdc.mergeUpsert]] and
    * the true incremental replacement for the reference's
    * truncate-and-reload serving loads (S9): each micro-batch touches the
    * changed keys, never rewrites unchanged history wholesale.
    *
    * Per micro-batch: (1) the feed collapses to one winner per key
    * ([[graft.operators.Cdc.latestPerKey]]); (2) winners older than the
    * table's stored sequence for that key are discarded — cross-batch
    * late events can't regress a newer state; (3) the merge applies via
    * the broadcast anti-join (base table never shuffles); (4) the result
    * is EAGERLY localCheckpoint-ed before overwriting the table path —
    * materializing it first is what makes read-then-overwrite-same-path
    * safe (the lazy plan would otherwise still be reading the files the
    * write deletes).
    *
    * Contract note, stated rather than hidden: deletes drop the row
    * without leaving a tombstone, so an update arriving LATER with a
    * seq between the deleted row's and the delete re-inserts. Feeds
    * needing delete-wins semantics keep tombstone rows in the table.
    *
    * Returns the started query; the caller owns its lifecycle.
    */
  def cdcApplyToParquet(changes: DataFrame, tablePath: String,
      checkpoint: String, keys: Seq[String], seqCol: String = "seq",
      opCol: String = "_op"): StreamingQuery =
    microBatch(changes, checkpoint) { (batch, _, _) =>
      val spark = batch.sparkSession
      val tableCols = batch.columns.filterNot(_ == opCol)
      // "table exists" = directory holding at least one part file (a
      // bare empty directory would fail parquet schema inference);
      // probed through the shared Hadoop-FS helper
      // (graft.sources.Sinks) so URI-form and non-local paths
      // (file://, hdfs://, s3a://) behave the same here as in the
      // compaction pass.
      val base =
        if (graft.sources.Sinks.hasPartFiles(spark, tablePath))
          spark.read.parquet(tablePath)
        else spark.createDataFrame(new java.util.ArrayList[Row](),
          batch.drop(opCol).schema)
      val latest = graft.operators.Cdc.latestPerKey(batch, keys, seqCol)
      val baseSeq = base.select(
        keys.map(col) :+ col(seqCol).as("_base_seq"): _*)
      val eligible = latest.join(baseSeq, keys, "left")
        .filter(col("_base_seq").isNull || col(seqCol) >= col("_base_seq"))
        .drop("_base_seq")
      val merged = graft.operators.Cdc
        .mergeUpsert(base, eligible, keys, opCol)
        .cutForOverwrite()
      merged.select(tableCols.map(col): _*)
        .write.mode("overwrite").parquet(tablePath)
    }

  /** Replay guard of the additive maintainers ([[cmsMaintain]],
    * [[kmvMaintain]], [[mgMaintain]], [[quantileMaintain]]): their
    * merges are not idempotent, so each stored artifact carries the id
    * of the last batch merged into it, and `merge` runs only when batch
    * `batchId` is newer. `merge` gets the stored artifact (None before
    * the first batch) as a LAZY read of `path`, so whatever it derives
    * from it must be cut before it overwrites `path`.
    */
  private def unlessApplied(spark: SparkSession, path: String,
      batchId: Long)(merge: Option[DataFrame] => Unit): Unit = {
    val stored =
      if (graft.sources.Sinks.hasPartFiles(spark, path))
        Some(spark.read.parquet(path))
      else None
    // max() over zero rows is NULL (an interrupted overwrite can leave
    // part files with no rows) — read it boxed and treat null as "no
    // sketch yet" so the restart rebuilds instead of throwing NPE on
    // every retry
    val applied = stored.exists(s =>
      Option(s.select(max(col("batch_id"))).head.get(0))
        .exists(_.asInstanceOf[Long] >= batchId))
    if (!applied) merge(stored)
  }

  /** Incremental Count-Min maintenance: keep a running frequency sketch
    * of a stream's `itemCol` as a stored parquet artifact. Per
    * micro-batch: build the BATCH's sketch (one map-side-combinable
    * aggregation over just the new rows), add it counter-for-counter
    * onto the stored sketch, overwrite. Because build and merge are pure
    * counter additions, the maintained sketch after any number of
    * micro-batches is bit-identical to a from-scratch build over the
    * full history (spec-proved) — history is never rescanned, and the
    * artifact stays 32 KB no matter how many distinct items the stream
    * has carried. The streaming complement of
    * [[graft.operators.Aggregates.cmsTopkAudit]]'s batch rollup, and the
    * sketch-sized alternative to keeping exact per-key counts in the
    * state store when the key universe is unbounded.
    *
    * Same eager-localCheckpoint-before-overwrite discipline as
    * [[cdcApplyToParquet]] (the merged plan reads the files the write
    * replaces). Counter addition is NOT idempotent, so the stored
    * artifact carries the id of the last batch merged into it:
    * foreachBatch is at-least-once, and on the redelivery a crash
    * between the sketch overwrite and the checkpoint commit produces,
    * the `batchId <= stored` guard skips the already-applied counts
    * instead of double-adding them — the analogue of the CDC sink's
    * seq >= stored-seq replay filter. Contract fine print: batch ids are
    * monotone within one checkpoint lineage, so restarts must reuse the
    * checkpoint dir; pointing a FRESH checkpoint at an existing sketch
    * reads as replay (ids restart at 0) and is deliberately ignored —
    * rebuild into a fresh sketch path instead. Returns the started
    * query; the caller owns its lifecycle.
    */
  def cmsMaintain(events: DataFrame, itemCol: String, sketchPath: String,
      checkpoint: String): StreamingQuery = {
    import graft.functions.{CountMinBuild, CountMinMerge}
    microBatch(events, checkpoint) { (batch, batchId, _) =>
      val cmsBuild = udaf(CountMinBuild)
      val cmsMerge = udaf(CountMinMerge)
      val batchSk = batch.agg(cmsBuild(col(itemCol)).as("sk"))
        .withColumn("batch_id", lit(batchId))
      unlessApplied(batch.sparkSession, sketchPath, batchId) { stored =>
        val merged = stored match {
          case Some(s) => s.unionAll(batchSk)
            .agg(cmsMerge(col("sk")).as("sk"), max(col("batch_id")).as("batch_id"))
          case None => batchSk
        }
        merged.cutForOverwrite()
          .write.mode("overwrite").parquet(sketchPath)
      }
    }
  }

  /** Incremental covariance maintenance — the SECOND-MOMENT member of
    * the artifact-maintainer family (CMS counts, KMV order statistics,
    * MG heavy hitters, quantile samples — and now the moment state a
    * drift monitor's PCA reads): each micro-batch of (vec_id,
    * v: array<double>) vectors is collapsed to its exact long-micro
    * moment partials — the d(d+1)/2 second-moment triangle
    * ([[graft.operators.Similarity.triangleMicroMoments]])
    * plus the d first-moment sums ([[Similarity.dimMicroSums]]) and the
    * row count — and element-wise long addition merges them onto the
    * stored one-row artifact. Integer adds are associative and
    * commutative, so the maintained state is BIT-IDENTICAL to a
    * from-scratch moment pass over everything ever streamed (the
    * [[cmsMaintain]] contract, spec-pinned), and
    * [[Similarity.pcaFromArtifact]] serves PCA from it without ever
    * rescanning the corpus. Same replay discipline as cmsMaintain:
    * moment addition is not idempotent, so the stored `batch_id` guard
    * skips an already-applied redelivery, and restarts must reuse the
    * checkpoint dir. State is one row of d(d+1)/2 + d longs —
    * artifact-sized at any corpus size; the Σ|micro| < 2⁵³ bound is
    * [[Similarity.triangleMicroMoments]]'s documented n-shaped bound.
    */
  def covMaintain(vectors: DataFrame, artifactPath: String,
      checkpoint: String): StreamingQuery =
    microBatch(vectors, checkpoint) { (batch, batchId, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val x = batch.select(col("v"))
      val (tri, n) = graft.operators.Similarity.triangleMicroMoments(x)
      val dims = graft.operators.Similarity.dimMicroSums(x)
      // head() drains the read before the overwrite below, so no
      // lazy plan ever reads the files being replaced (the
      // cutForOverwrite concern, discharged by eager collection of
      // the one-row artifact)
      val stored =
        if (graft.sources.Sinks.hasPartFiles(spark, artifactPath))
          Some(spark.read.parquet(artifactPath).head())
        else None
      val alreadyApplied =
        stored.exists(_.getAs[Long]("batch_id") >= batchId)
      if (!alreadyApplied) {
        val (mTri, mDims, mN) = stored match {
          case Some(s) =>
            // collected Seqs are list-like — materialize before the
            // positional merge loops (the triangleMicroMoments lesson)
            val st = s.getAs[Seq[Long]]("tri").toArray
            val sd = s.getAs[Seq[Long]]("dims").toArray
            require(st.length == tri.length && sd.length == dims.length,
              s"artifact dimensionality (${sd.length}) does not match " +
                s"the batch (${dims.length}) — moments cannot merge")
            var k = 0
            while (k < st.length) { st(k) += tri(k); k += 1 }
            k = 0
            while (k < sd.length) { sd(k) += dims(k); k += 1 }
            (st, sd, s.getAs[Long]("n") + n)
          case None => (tri, dims, n)
        }
        Seq((batchId, mN, mTri.toSeq, mDims.toSeq))
          .toDF("batch_id", "n", "tri", "dims")
          .write.mode("overwrite").parquet(artifactPath)
      }
    }

  /** Incremental n-gram LM maintenance — the COUNT-DICTIONARY member of
    * the artifact-maintainer family (CMS counts, KMV order statistics,
    * MG heavy hitters, quantile samples, covariance moments — and now
    * the language model a perplexity gate scores against): each
    * micro-batch of (doc_id, text) documents is collapsed to its
    * (ord, gram, cnt) partial counts
    * ([[graft.operators.NgramLm.countsOn]] — model-sized, never
    * corpus-sized) and lands as an `ingest_batch=<id>` partition
    * ([[landBatch]]) under the model's `counts/` directory. Counts are
    * mergeable sums, so serving
    * ([[graft.operators.NgramLm.lmModelFromIndex]] re-sums per gram
    * over the partials) is value-identical to a from-scratch
    * [[graft.operators.NgramLm.countsOn]] build over everything ever
    * streamed — the [[cmsMaintain]] contract, spec-pinned.
    *
    * Unlike the fixed-size sketch maintainers the stored state GROWS
    * (a Heaps-law-bounded dictionary, not a 32 KB sketch), so this
    * maintainer never rewrites it: each append is batch-sized, and
    * replay safety needs no stored batch_id guard — the batch's
    * partition is its guard ([[landBatch]]), so a redelivery rewrites
    * its counts instead of double-counting. A maintained model owns its
    * path: don't mix it with [[graft.operators.NgramLm.writeNgramLm]]'s
    * unpartitioned layout in one directory, or parquet partition
    * discovery rejects the union.
    */
  def lmMaintainSink(docs: DataFrame, modelPath: String,
      checkpoint: String): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      landBatch(graft.operators.NgramLm.countsOn(batch), batchId,
        modelPath + "/counts")
    }

  /** Streaming Stupid-Backoff quality gate — the BACKOFF sibling of
    * the bigram [[lmGateSink]] in the admission family's quality wing
    * (the dedup wing — [[nearDupGate]], [[embeddingGateSink]],
    * [[phashGateSink]], [[ppjoinGateSink]], [[simhashGateSink]] —
    * guards against duplication; the quality wing guards against
    * junk): each micro-batch of (doc_id, text) documents is
    * Stupid-Backoff-scored against a STORED reference model
    * ([[graft.operators.NgramLm.writeNgramLm]] layout, refreshed
    * between batches by [[graft.operators.NgramLm.appendToNgramLm]]
    * or maintained by [[lmMaintainSink]]), and only docs whose mean
    * micro-probability clears `minAvgMicro` land — the streaming form
    * of [[graft.operators.NgramLm.lmGate]]'s CCNet-style filter, with
    * graceful degradation on unseen trigrams where the bigram gate
    * pins them to p = 0.
    *
    * Stateless on the stream side: the model lives in its artifact,
    * never a state store, and per-batch cost is batch positions × the
    * model joins — corpus-size-independent. Unlike the dedup gates, a
    * decision is a pure function of (batch, model): nothing this sink
    * admits feeds back into what it scores, so no own-batch replay
    * exemption is needed — [[landBatch]] rewrites a redelivery's
    * decisions even when a model refresh racing the replay shrinks the
    * survivors to zero. Consumers should treat an `outPath` with no
    * part files yet as "nothing admitted" rather than scanning it —
    * parquet schema inference over an empty directory fails.
    */
  def sbGateSink(docs: DataFrame, modelPath: String, outPath: String,
      checkpoint: String, minAvgMicro: Long = 100000L): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      val keep = graft.operators.NgramLm
        .scoreOn(batch, graft.operators.NgramLm
          .lmModelFromIndex(batch.sparkSession, modelPath))
        .filter(col("avg_micro") >= minAvgMicro)
        .select(col("doc_id"))
      landBatch(batch.join(keep, Seq("doc_id"), "left_semi"), batchId,
        outPath)
    }

  /** Incremental KMV vocabulary-sketch maintenance — the order-statistic
    * sibling of [[cmsMaintain]]: each micro-batch's per-source bottom-k
    * shingle hashes are unioned with the stored sketch and the bottom-k
    * re-taken, which by the merge law
    * bottomₖ(bottomₖ(A) ∪ bottomₖ(B)) = bottomₖ(A ∪ B) keeps the stored
    * artifact EXACTLY equal to a from-scratch sketch of everything ever
    * streamed (spec-proved) — so distinct-universe estimates over an
    * unbounded ingest stream cost one ≤k-rows-per-source parquet read,
    * never a corpus rescan. Same replay guard and restart contract as
    * the Count-Min maintainer: the stored max batch_id rejects
    * replayed batches; a hash seen in both keeps its earliest batch_id
    * so the artifact is byte-stable under replay.
    */
  def kmvMaintain(docs: DataFrame, sketchPath: String, checkpoint: String,
      k: Int = 64): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      val batchSk = graft.operators.Aggregates.kmvSketchOn(batch, k)
        .withColumn("batch_id", lit(batchId))
      unlessApplied(batch.sparkSession, sketchPath, batchId) { stored =>
        val merged = stored match {
          case Some(s) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("source")).orderBy(col("h"))
            s.unionByName(batchSk)
              .groupBy(col("source"), col("h"))
              .agg(min(col("batch_id")).as("batch_id"))
              .withColumn("r", row_number().over(w))
              .filter(col("r") <= k)
              .select(col("source"), col("h"), col("batch_id"))
          case None => batchSk
        }
        merged.cutForOverwrite()
          .write.mode("overwrite").parquet(sketchPath)
      }
    }

  /** Incremental HLL register maintenance — the register-max member of
    * the artifact-maintainer family and the only IDEMPOTENT one: each
    * micro-batch of (o_orderstatus, o_custkey) rows is collapsed to its
    * m=64 twin registers ([[graft.operators.Aggregates]]
    * `.hllTwinRegistersOn` — the md5-hash construction the
    * q_hll_twin_* oracles pin), and max-merged onto the stored
    * artifact. Register max is associative, commutative AND
    * idempotent, so the maintained state is bit-identical to a
    * from-scratch build over everything ever streamed (spec-pinned)
    * and — unlike the additive CMS/covariance maintainers — needs NO
    * batch_id replay guard: re-delivering any batch is a no-op by
    * algebra, not by bookkeeping. State is ≤ #statuses·64 rows at any
    * corpus size; [[graft.operators.Aggregates.hllEstimateFromArtifact]]
    * serves distinct estimates from it without rescanning the stream.
    */
  def hllRegMaintain(orders: DataFrame, regPath: String,
      checkpoint: String): StreamingQuery =
    microBatch(orders, checkpoint) { (batch, _, _) =>
      val spark = batch.sparkSession
      val batchRegs = graft.operators.Aggregates.hllTwinRegistersOn(batch)
      val merged =
        if (graft.sources.Sinks.hasPartFiles(spark, regPath))
          spark.read.parquet(regPath)
            .unionByName(batchRegs)
            .groupBy(col("o_orderstatus"), col("bucket"))
            .agg(max(col("register")).as("register"))
        else batchRegs
      merged.cutForOverwrite()
        .write.mode("overwrite").parquet(regPath)
    }

  /** Incremental Bloom set-bit maintenance — [[hllRegMaintain]]'s
    * membership sibling and the second idempotent maintainer: each
    * micro-batch of (key) rows is collapsed to its twin-filter set bit
    * positions ([[graft.operators.Aggregates]] `.bloomTwinBits` — the
    * md5-hash construction the q_bloom_twin oracle pins) and
    * union-merged onto the stored ≤ bits-row artifact. Bit union is
    * associative, commutative and idempotent, so the maintained
    * artifact is bit-identical to a from-scratch build over everything
    * ever streamed (spec-pinned) and replays need no batch_id
    * bookkeeping. Because set bits only ever accumulate, the
    * no-false-negative admission contract
    * ([[graft.operators.Aggregates.bloomProbeFromArtifact]]) holds for
    * every key any batch ever ingested — the streaming face of the
    * decontamination gate's membership artifact, in oracle-checkable
    * row form (production gates keep the driver-held
    * `BloomFilterAggregate` binary).
    */
  def bloomBitsMaintain(keys: DataFrame, bitsPath: String,
      checkpoint: String, bits: Int = 4096,
      k: Int = 3): StreamingQuery =
    microBatch(keys, checkpoint) { (batch, _, _) =>
      val spark = batch.sparkSession
      val batchBits = graft.operators.Aggregates
        .bloomTwinBits(batch.select(col("key")).distinct(), bits, k)
      val merged =
        if (graft.sources.Sinks.hasPartFiles(spark, bitsPath))
          spark.read.parquet(bitsPath)
            .unionByName(batchBits).distinct()
        else batchBits
      merged.cutForOverwrite()
        .write.mode("overwrite").parquet(bitsPath)
    }

  /** Incremental Misra–Gries heavy-hitter maintenance — the
    * frequent-items sibling of [[kmvMaintain]]: each micro-batch is
    * compressed to its own ≤k-counter MG summary by the
    * partially-aggregated kernel, then merged into the stored summary
    * with the SAME [[graft.functions.MisraGries]].merge the in-query
    * summary's aggregation tree uses — one merge definition, so the
    * maintained artifact carries exactly the guarantee a from-scratch
    * summary under some merge tree would (every term above N/(k+1) of
    * everything ever streamed is present; see
    * [[graft.operators.Aggregates.heavyHittersFromSummary]] for the
    * serve-and-verify consumer). The stored summary and the batch
    * summary are both ≤k rows, so the driver-side merge is a bounded
    * artifact operation, not a data collect. Same replay contract as
    * the other maintainers: the stored max batch_id rejects replayed
    * batches, keeping the artifact deterministic under at-least-once
    * delivery.
    */
  def mgMaintain(docs: DataFrame, summaryPath: String, checkpoint: String,
      k: Int = 256): StreamingQuery = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val mg = new graft.functions.MisraGries(k)
      val mgU = udaf(mg, ExpressionEncoder[String]())
      val batchSummary: Map[String, Long] = batch
        .select(explode(split(col("text"), " ")).as("term"))
        .agg(mgU(col("term")))
        .head.getAs[scala.collection.Map[String, Long]](0).toMap
      unlessApplied(spark, summaryPath, batchId) { stored =>
        val storedMap: Map[String, Long] = stored
          .map(_.select(col("term"), col("cnt")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
          .getOrElse(Map.empty)
        // the merged frame is pure driver data (both summaries were
        // already collected — bounded ≤k artifacts), so overwriting
        // the stored dir needs no cutForOverwrite: nothing in this
        // plan reads the files being replaced
        // the artifact records its own k so consumers can validate
        // the superset guarantee against THEIR support threshold
        mg.merge(storedMap, batchSummary).toSeq
          .toDF("term", "cnt")
          .withColumn("batch_id", lit(batchId))
          .withColumn("k", lit(k))
          .write.mode("overwrite").parquet(summaryPath)
      }
    }
  }

  /** Incremental quantile-sample maintenance — the value-carrying
    * sibling of [[kmvMaintain]]: each micro-batch is compressed to its
    * per-group bottom-k (hash-tag, value) pairs by the partially-
    * aggregated [[graft.functions.BottomKSample]] kernel (the batch
    * never moves more than k entries per group per partition), unioned
    * with the stored sample, and the bottom-k re-taken. The
    * order-statistic merge law keeps the stored artifact EXACTLY equal
    * to [[graft.operators.Aggregates]]' from-scratch sample of
    * everything ever streamed (spec-proved), so any quantile of an
    * unbounded stream is served from a ≤k-rows-per-group parquet read.
    * The re-take rank window is safe here: its input is stored ∪ batch
    * sketches, ≤2k rows per group by construction — bounded by the
    * artifact, not the stream. Same replay guard and restart contract
    * as the other maintainers: the stored max batch_id rejects replayed
    * batches, and a (g, h, v) row seen twice keeps its earliest
    * batch_id so the artifact is byte-stable under replay.
    */
  def quantileMaintain(rows: DataFrame, groupCol: String, keyCol: String,
      valueCol: String, sketchPath: String, checkpoint: String,
      k: Int = 64): StreamingQuery = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    microBatch(rows, checkpoint) { (batch, batchId, _) =>
      val bk = udaf(new graft.functions.BottomKSample(k),
        ExpressionEncoder[(String, Double)]())
      val batchSk = batch
        .select(col(groupCol).as("g"),
          md5(col(keyCol).cast("string").cast("binary")).as("h"),
          col(valueCol).cast("double").as("v"))
        .groupBy(col("g")).agg(bk(col("h"), col("v")).as("sk"))
        .select(col("g"), explode(col("sk")).as("e"))
        .select(col("g"), col("e._1").as("h"), col("e._2").as("v"))
        .withColumn("batch_id", lit(batchId))
      unlessApplied(batch.sparkSession, sketchPath, batchId) { stored =>
        val merged = stored match {
          case Some(s) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("g")).orderBy(col("h"), col("v"))
            s.unionByName(batchSk)
              .groupBy(col("g"), col("h"), col("v"))
              .agg(min(col("batch_id")).as("batch_id"))
              .withColumn("r", row_number().over(w))
              .filter(col("r") <= k)
              .select(col("g"), col("h"), col("v"), col("batch_id"))
          case None => batchSk
        }
        merged.cutForOverwrite()
          .write.mode("overwrite").parquet(sketchPath)
      }
    }
  }

  /** Ids a PRIOR ATTEMPT of this very batchId admitted — the gate's own
    * `ingest_batch=<batchId>` output partition, which [[landBatch]]
    * makes the authoritative per-batch admission record (the
    * [[curationSink]] `batches/` sidecar contract without an extra
    * write: survivors only ever exist in `outPath`, so anything the
    * external index refresh could have appended between a crash and the
    * replay is a subset of exactly this partition). Anti-joining these
    * out of a probe's `corpus_id` side makes the gates' replay contract
    * real: a same-batchId replay whose survivors were already indexed
    * (by [[graft.operators.Dedup.appendToPpjoinIndex]] and friends —
    * refreshes the gate does not control) reproduces its original
    * decisions instead of self-matching every survivor to zero, while a
    * doc REDELIVERED under a NEW batchId finds its own partition empty,
    * still matches its earlier indexed copy, and drops. Cut with
    * `cutForOverwrite`, which drops the lineage: [[landBatch]]
    * replaces or retracts this very partition later in the batch, so
    * nothing may recompute from it after that.
    */
  private def ownAdmitted(spark: SparkSession, outPath: String,
      batchId: Long, idCol: String): DataFrame = {
    import spark.implicits._
    scala.util.Try(spark.read.parquet(outPath)).toOption
      .map(_.filter(col("ingest_batch") === batchId)
        .select(col(idCol).cast("long").as("corpus_id"))
        .cutForOverwrite())
      .getOrElse(Seq.empty[Long].toDF("corpus_id"))
  }

  /** The micro-batch body of the id-keyed dedup gates ([[nearDupGate]],
    * [[ppjoinGateSink]], [[phashGateSink]], [[simhashGateSink]]):
    * `probe(spark, batch)` yields the batch's (batch_id, corpus_id)
    * matches against the stored index; matches against ids this batchId
    * already admitted are exempt ([[ownAdmitted]]), every other matched
    * doc drops, and the survivors land through [[landBatch]].
    */
  private def probeGate(docs: DataFrame, outPath: String,
      checkpoint: String)(
      probe: (SparkSession, DataFrame) => DataFrame): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      val spark = batch.sparkSession
      val own = ownAdmitted(spark, outPath, batchId, "doc_id")
      val dups = probe(spark, batch)
        .join(broadcast(own), Seq("corpus_id"), "left_anti")
        .select(col("batch_id").as("doc_id")).distinct()
      landBatch(batch.join(dups, Seq("doc_id"), "left_anti"), batchId,
        outPath)
    }

  /** Streaming fuzzy admission against a materialized
    * [[graft.operators.Dedup.writeMinhashIndex]] corpus index: each
    * micro-batch is MinHash-probed against the stored band keys, docs
    * with a stored near-dup (jaccard ≥ threshold) are dropped, and
    * survivors land in `outPath` ([[landBatch]]). foreachBatch keeps
    * the gate stateless on the stream side — the corpus lives in the index
    * files, shared by every executor and refreshed by rewriting the
    * index, never by growing a state store (a state-store formulation
    * would pin the corpus's shingle sets in executor memory; the probe
    * touches only colliding band buckets instead). Replay-safe even
    * when the index was refreshed with this batch's own survivors
    * between attempts: matches against ids this batchId already
    * admitted are exempt ([[ownAdmitted]]).
    */
  def nearDupGate(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, threshold: Double = 0.7): StreamingQuery =
    probeGate(docs, outPath, checkpoint)(graft.operators.Dedup
      .minhashJoinFromIndex(_, _, indexPath, threshold))

  /** Streaming EXACT set-similarity admission against a materialized
    * [[graft.operators.Dedup.writePpjoinIndex]] corpus index — the
    * zero-miss sibling of [[nearDupGate]], completing the admission
    * family (fuzzy [[nearDupGate]], semantic [[embeddingGateSink]],
    * media [[phashGateSink]], exact here): each micro-batch is
    * shingled/ranked live under the index's FROZEN df order, its prefix
    * tokens equi-join the stored `prefix/` postings (provably complete
    * candidates — no LSH banding miss), survivors of the positional and
    * length filters verify on the codegen'd sorted-merge kernel against
    * stored `sets/`, and docs with an indexed Jaccard ≥ tNum/tDen are
    * dropped. Stateless on the stream side — corpus state lives in the
    * index files, refreshed by [[graft.operators.Dedup
    * .appendToPpjoinIndex]] between batches, never in a state store.
    * Survivors land through [[landBatch]]; when the index refresh raced
    * the checkpoint commit, matches against ids this batchId already
    * admitted are exempt ([[ownAdmitted]]), so the replay reproduces
    * its decisions instead of self-matching to zero.
    */
  def ppjoinGateSink(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, tNum: Long = 7L, tDen: Long = 10L): StreamingQuery =
    probeGate(docs, outPath, checkpoint)(graft.operators.Dedup
      .ppjoinJoinFromIndex(_, _, indexPath, tNum, tDen))

  /** Streaming perceptual-hash admission gate — the media twin of
    * [[nearDupGate]]: each micro-batch of (doc_id, blob) payloads is
    * hashed (one ahash64 kernel call per payload), probed against the
    * stored [[graft.operators.Multimodal.writePhashIndex]] layout, and
    * only payloads with NO indexed near-dup (Hamming ≤ maxHamming)
    * land. Stateless on the stream side — corpus state lives entirely
    * in the index, refreshed by [[graft.operators.Multimodal
    * .appendToPhashIndex]] between batches, never inside the query.
    * Survivors land through [[landBatch]]; matches against ids this
    * batchId already admitted are exempt ([[ownAdmitted]]), so a replay
    * racing the external index refresh reproduces its decisions.
    */
  def phashGateSink(media: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, maxHamming: Int = 16): StreamingQuery =
    probeGate(media, outPath, checkpoint)(graft.operators.Multimodal
      .phashJoinFromIndex(_, _, indexPath, maxHamming))

  /** Streaming SimHash admission gate — the BIT-SIGNATURE text leg of
    * the admission family ([[nearDupGate]] MinHash/Jaccard, this sink
    * SimHash/Hamming, [[ppjoinGateSink]] exact, [[phashGateSink]]
    * media, [[embeddingGateSink]] dense): each micro-batch of
    * (doc_id, text) docs is signed (one `simhash64` kernel call per
    * doc), its quarter-block keys probe the stored
    * [[graft.operators.Dedup.writeSimhashIndex]] layout, and docs with
    * an indexed signature at Hamming ≤ maxHamming are dropped —
    * candidates COMPLETE at the default threshold by pigeonhole, so
    * unlike the MinHash gate there is no banding miss probability.
    * Where the MinHash gate prices admission by shingle-set Jaccard
    * (order-insensitive, strong on splice edits), this one prices it by
    * token-frequency profile at ~40 B/doc of index state — the cheap
    * first gate of a layered admission stack. Stateless on the stream
    * side: corpus state lives entirely in the index, refreshed by
    * [[graft.operators.Dedup.appendToSimhashIndex]] between batches,
    * never in a state store. Survivors land through [[landBatch]];
    * matches against ids this batchId already admitted are exempt
    * ([[ownAdmitted]]), so a replay racing the external index refresh
    * reproduces its decisions.
    */
  def simhashGateSink(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, maxHamming: Int = 3): StreamingQuery =
    probeGate(docs, outPath, checkpoint)(graft.operators.Dedup
      .simhashJoinFromIndex(_, _, indexPath, maxHamming))

  /** Streaming embedding admission gate — the DENSE-vector leg of the
    * modality triptych ([[nearDupGate]] text/MinHash, [[phashGateSink]]
    * media/perceptual hash, this sink embeddings/cosine): each
    * micro-batch of (vec_id, v: array<double>) vectors probes the
    * stored [[graft.operators.Similarity.writeIvfIndexOn]] layout in
    * ONE batched plan ([[graft.operators.Similarity.ivfProbeBatchOn]]:
    * union-pruned cell reads, map-side top-1 per vector), and vectors
    * whose best indexed match reaches `minCos` are dropped — SemDeDup
    * admission (Abbas et al. 2023) as an ingest gate instead of an
    * offline sweep. Stateless on the stream side: corpus state lives
    * entirely in the index, refreshed by
    * [[graft.operators.Similarity.appendToIvfIndex]] /
    * [[graft.operators.Similarity.rebalanceIvfCells]] BETWEEN batches,
    * never inside the query. Like every IVF probe the check is
    * approximate with the index's own recall (a near-dup hiding in an
    * unprobed cell is admitted — the measured `q_ann_recall` trade,
    * tunable via `nprobe`). The corpus probe alone has an INTRA-batch
    * blind spot — two novel near-duplicates arriving in the same
    * micro-batch both pass it, since the index only refreshes between
    * batches — so survivors additionally run
    * [[graft.operators.Similarity.semDedupWithinBatch]]: cell-leader
    * SemDeDup under the index's own frozen codebook (O(|cell|), never
    * pairwise), which keeps one representative per intra-batch
    * near-dup group. Its residual blind spot (a near-dup pair split
    * across cells) has the same geometry as the unprobed-cell corpus
    * miss. Survivors land through [[landBatch]]; matches against
    * ids this batchId already admitted are exempt ([[ownAdmitted]]) —
    * the probe runs at k = 2 so a replayed vector's own indexed copy
    * (top-1 at cosine 1.0) cannot shadow a genuine corpus near-dup at
    * rank 2 (assumes the external refresh appended this batch at most
    * once, which one [[graft.operators.Similarity.appendToIvfIndex]]
    * call per batch guarantees).
    */
  def embeddingGateSink(vectors: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, minCos: Double = 0.95,
      nprobe: Int = 4): StreamingQuery =
    microBatch(vectors, checkpoint) { (batch, batchId, _) =>
      val spark = batch.sparkSession
      val own = ownAdmitted(spark, outPath, batchId, "vec_id")
      val dups = graft.operators.Similarity
        .ivfProbeBatchOn(spark, batch, indexPath, k = 2, nprobe)
        .join(broadcast(own.select(col("corpus_id").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        .filter(col("cos") >= minCos)
        .select(col("query_id").as("vec_id")).distinct()
      val survivors = batch.join(dups, Seq("vec_id"), "left_anti")
      // intra-batch pass: co-arriving novel near-dups keep one
      // leader per index cell (see semDedupWithinBatch's contract)
      val kept = graft.operators.Similarity
        .semDedupWithinBatch(spark, survivors, indexPath, minCos)
      landBatch(survivors.join(kept, Seq("vec_id"), "left_semi"), batchId,
        outPath)
    }

  /** The unified multi-stage streaming curation sink — the batch
    * [[graft.pipeline.TextCuration]] flow (quality gate → benchmark
    * decontamination → near-dup retirement → per-source cap) run at
    * ingest time per micro-batch, with a single replay-safe output
    * contract instead of five separately-landing gates:
    *
    *   - `outPath/docs`: admitted (doc_id, source, lang, n_tokens,
    *     text) rows, partitioned by `ingest_batch`;
    *   - `outPath/ledger`: per-batch per-stage survivor counts
    *     (ingest_batch, stage, n_docs) — the audit trail, partitioned
    *     the same way.
    *
    * Both land through [[landBatch]], so an at-least-once replay
    * rewrites its own partitions instead of double-landing — ONE
    * contract for data and audit.
    *
    * Stage semantics mirror the batch pipeline per-doc, so cumulative
    * streamed stage counts equal the batch `summaryOn` counts on the
    * same corpus (spec-pinned on a replayed corpus whose near-dup
    * clusters are cliques; chain-shaped clusters can split under
    * keep-first admission where batch connected components merge them
    * — the one documented divergence):
    *
    *   1. quality: [[graft.pipeline.TextCuration.qualityGateOn]]
    *      itself — shared code, cannot drift;
    *   2. decontam: eval-modulus ids leave the stream, and any doc
    *      sharing a word `decontamK`-gram with the static `evalSet`
    *      is dropped ([[curateDocs]]' broadcast one-row hash-set
    *      shape; no redaction here — counts must mirror the batch
    *      stage, compose [[curateDocs]] upstream for ingest PII);
    *   3. near-dup: each doc is shingled once (its set and band keys
    *      ride the decontam cut), and ONE band join of the batch's keys
    *      against its own keys ∪ the
    *      [[graft.operators.Dedup.writeMinhashIndex]] layout at
    *      `indexPath` (created on first batch, APPENDED from the same
    *      cut after each — keep-first across batches) finds both kinds
    *      of pairs. Intra-batch MinHash clusters collapse to their
    *      lowest-id member, and survivors with a stored near-dup drop;
    *      matches against ids THIS batchId itself indexed (recorded in
    *      the `batches/` sidecar) are ignored, so a replayed batch — whose docs are already
    *      indexed — reproduces its original decisions instead of
    *      self-matching to zero, while a doc REDELIVERED under a new
    *      batchId still matches its earlier indexed copy and is
    *      dropped rather than double-landed (the replay contract; the
    *      re-append bloats the index harmlessly: probes `distinct()`
    *      candidates and jaccard is per-pair);
    *   3½. (optional, `lmModelPath`) CCNet-style fluency: dedup
    *      survivors are Stupid-Backoff-scored against the stored
    *      reference model ([[graft.operators.NgramLm.writeNgramLm]]
    *      layout) and docs under `lmMinAvgMicro` leave the stream —
    *      [[sbGateSink]] inlined between dedup and the cap. Stateless
    *      (the model lives in its artifact), so the replay contract
    *      below is unchanged; the ledger gains a `5_lm` row and the
    *      cap renumbers to `6_cap`;
    *   4. cap: per-source budget `capPerSource` net of what PRIOR
    *      batches already landed (read back from `outPath/docs`
    *      excluding this batch's partition — replay-consistent),
    *      md5-priority within the batch. Cumulative per-source counts
    *      equal the batch cap's min(n, cap) even though the batch
    *      picks by global md5 priority and the stream by arrival.
    *
    * A batch lands in two waves of concurrent writes
    * ([[graft.Concurrently]]), the second only once the first has ended
    * with no failure: (1) `docs`, `ledger` and, with any admissions, the
    * `batches/` sidecar and the index's `sets/`; (2) `bands/`. A
    * candidate pair comes only from `bands/`, so whatever of wave 1 a
    * crash leaves standing, the replay probes as the batch did and
    * re-lands identically. `bands/` goes after the sidecar so a replay
    * exempts its own indexed ids instead of self-matching to zero, and
    * after `sets/` since keys without sets fail every probe of a new index.
    */
  def curationSink(docs: DataFrame, evalSet: DataFrame, indexPath: String,
      outPath: String, checkpoint: String,
      cfg: graft.pipeline.TextCuration.Config =
        graft.pipeline.TextCuration.Config(),
      lmModelPath: Option[String] = None,
      lmMinAvgMicro: Long = 100000L): StreamingQuery = {
    import graft.operators.Dedup
    import graft.pipeline.TextCuration
    // static one-row eval hash set, cut once here and broadcast per
    // batch: a lazy frame would re-run its explode/distinct/collect_set
    // shuffles on every trigger
    val evalHashes = evalSet
      .select(explode(
        Dedup.shingleHashes(col("text"), cfg.decontamK)).as("h"))
      .distinct()
      .agg(collect_set(col("h")).as("eval_hashes"))
      .cutLineage(eager = true)
    microBatch(docs, checkpoint) { (batch, batchId, nInput) =>
      val spark = batch.sparkSession
      import spark.implicits._
      import org.apache.spark.sql.types.{DataType, LongType}
      // the sink's own directories, schema pinned; a missing one
      // fails inside the Try
      def readOwn(path: String, fields: (String, DataType)*) =
        scala.util.Try(graft.sources.Tables.pinned(spark, path, fields: _*))
          .toOption
      // 1. quality — the batch pipeline's own gate. Each stage's cut
      // is lazy: the count right after it is also its materializer
      val qual = TextCuration.qualityGateOn(batch, cfg)
        .cutLineage()
      val nQual = graft.Materialize.count(qual)
      // 2. decontam: eval ids out, eval k-gram overlap out. The same
      // cut carries each survivor's MinHash set and band keys
      // (hs, n, keys), shingled once for every near-dup step below
      val clean = Dedup.minhashSigned(qual
        .filter(col("doc_id") % Dedup.EvalModulus =!= 0)
        .withColumn("hs",
          Dedup.shingleHashes(col("text"), cfg.decontamK))
        .crossJoin(broadcast(evalHashes))
        .filter(!coalesce(
          arrays_overlap(col("hs"), col("eval_hashes")), lit(false)))
        .drop("hs", "eval_hashes"))
        .cutLineage()
      val nClean = graft.Materialize.count(clean)
      // 3. near-dup: ONE band join finds intra-batch pairs and
      // stored-index pairs; intra-batch clusters keep their lowest
      // id (the cluster label), then index matches drop
      val idxPath = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
      val idxExists = idxPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(idxPath)
      val pairs = Dedup.minhashProbe(clean,
          Some(indexPath).filter(_ => idxExists), withinBatch = true,
          cfg.dedupThreshold)
        .cutLineage()
      val clusters = Dedup.clustersFromPairs(
        pairs.filter(!col("stored")).select(col("da"), col("db")))
      val intraLosers = clusters
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val intraKept = clean.join(intraLosers, Seq("doc_id"), "left_anti")
      val admitted = (if (idxExists) {
        // replay contract: exclude ONLY matches against ids THIS
        // batchId itself indexed (the `batches/` sidecar, partition-
        // pruned to ingest_batch=batchId) — a same-batchId replay
        // reproduces its original decisions, while a source that
        // redelivers an already-landed doc under a NEW batchId still
        // self-matches its earlier indexed copy and is dropped
        // instead of double-landing in two ingest_batch partitions.
        val ownIndexed = readOwn(s"$indexPath/batches",
            "doc_id" -> clean.schema("doc_id").dataType,
            "ingest_batch" -> LongType)
          .map(_.filter(col("ingest_batch") === batchId)
            .select(col("doc_id").as("db")))
          .getOrElse(Seq.empty[Long].toDF("db"))
        val dups = pairs.filter(col("stored"))
          .join(broadcast(ownIndexed), Seq("db"), "left_anti")
          .select(col("da").as("doc_id"))
        intraKept.join(dups, Seq("doc_id"), "left_anti")
      } else intraKept).cutLineage()
      val nDedup = graft.Materialize.count(admitted)
      // 4. (optional) CCNet-style Stupid-Backoff fluency gate
      // against a STORED reference model — the streaming LM stage
      // between dedup and the cap, [[sbGateSink]]'s filter inlined
      // into the unified chain. A decision is a pure function of
      // (batch, model): the model lives in its artifact
      // ([[graft.operators.NgramLm.writeNgramLm]] layout,
      // refreshed out of band), so the stage adds zero state and
      // the replay contract is untouched — [[landBatch]] rewrites
      // this batch's partitions whatever the survivor set.
      val fluent = lmModelPath match {
        case Some(mp) =>
          val keep = graft.operators.NgramLm.scoreOn(
              admitted.select(col("doc_id"), col("text")),
              graft.operators.NgramLm.lmModelFromIndex(spark, mp))
            .filter(col("avg_micro") >= lmMinAvgMicro)
            .select(col("doc_id"))
          admitted.join(keep, Seq("doc_id"), "left_semi")
            .cutLineage()
        case None => admitted
      }
      val nLm =
        if (lmModelPath.isDefined) graft.Materialize.count(fluent) else nDedup
      // 5. per-source cap net of PRIOR batches' landed docs
      val docsPath = s"$outPath/docs"
      // strictly EARLIER batches only: a replayed batch must see the
      // same prior state it saw originally, never its own partition
      // nor a later batch that happened to land before the retry
      val prior = readOwn(docsPath,
          "source" -> clean.schema("source").dataType,
          "ingest_batch" -> LongType)
        .map(_.filter(col("ingest_batch") < batchId)
          .groupBy(col("source")).agg(count(lit(1)).as("n_prior")))
      val withPrior = prior
        .map(p => fluent.join(broadcast(p), Seq("source"), "left"))
        .getOrElse(fluent.withColumn("n_prior",
          lit(null).cast("long")))
        .withColumn("n_prior", coalesce(col("n_prior"), lit(0L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      val landed = withPrior
        .withColumn("pick", row_number().over(w))
        .filter(col("pick") + col("n_prior") <= cfg.capPerSource)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("text"))
        .cutLineage()
      val nCap = graft.Materialize.count(landed)
      // stage names are stable when the LM stage is off (the
      // streamed ≡ batch summary equality depends on them); with
      // it on, "5_lm" lands between dedup and the cap and the cap
      // renumbers — the ledger says what actually ran
      val ledger = (Seq(("1_input", nInput), ("2_quality", nQual),
        ("3_decontam", nClean), ("4_dedup", nDedup)) ++
        (if (lmModelPath.isDefined)
          Seq(("5_lm", nLm), ("6_cap", nCap))
        else Seq(("5_cap", nCap))))
        .toDF("stage", "n_docs").coalesce(1)
      // keep-first index admission: what the DEDUP stage admitted
      // (pre-cap — a capped-out doc still represents its cluster),
      // from the cut's (hs, n, keys), so nothing re-shingles. The
      // sidecar is never empty, so it is replaced and never retracted
      val index = if (nDedup > 0) Some(Dedup.writeMinhashFrames(admitted,
        indexPath, if (idxExists) "append" else "overwrite")) else None
      // the two waves (see scaladoc)
      def wave(writes: Seq[(String, () => Unit)]): Unit =
        graft.Concurrently.rethrow(graft.Concurrently(spark,
          "curation-land", writes).flatMap(_.failed.toOption))
      wave(Seq(
        "curation.land.docs" -> (() => landBatch(landed, batchId, docsPath)),
        "curation.land.ledger" -> (() =>
          landBatch(ledger, batchId, s"$outPath/ledger"))) ++
        index.toSeq.flatMap { case (sets, _) => Seq(
          "curation.land.batches" -> (() => landBatch(
            admitted.select(col("doc_id")), batchId, s"$indexPath/batches")),
          "curation.index.sets" -> sets) })
      index.foreach { case (_, bands) =>
        wave(Seq("curation.index.bands" -> bands)) }
      // a broadcast-sized pair list comes back as a local frame,
      // which holds no cut to release
      val clustersCut = !clusters.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      (Seq(qual, clean, pairs, admitted, landed) ++
        (if (clustersCut) Seq(clusters) else Nil) ++
        (if (lmModelPath.isDefined) Seq(fluent) else Nil))
        .foreach(graft.Materialize.release)
    }
  }

  /** Streaming distribution gate from a maintained [[quantileMaintain]]
    * sample artifact: rows whose value falls outside the stored
    * [qLo, qHi] discrete quantile band for their group are dropped
    * before landing — the outlier fence a metrics/feature ingest runs
    * against yesterday's distribution (a sensor stuck at 0, a price
    * feed shifting units) without ever rescanning history. Cuts are
    * computed ONCE per sink from the ≤k-rows-per-group artifact (the
    * collect_list is sample-sized by construction) and broadcast into
    * every batch; refreshing the fence = rewriting the artifact, the
    * same contract as [[nearDupGate]]'s index and
    * [[tokenAccountingSink]]'s dict. A group absent from the artifact
    * admits its rows, and so does a NULL value in a known group — no
    * evidence is not an anomaly verdict (the
    * [[graft.operators.TextAnalysis.lmGate]] too-short rule); a
    * missing-measurement policy belongs to a null-audit gate, not a
    * distribution fence. The cut frame's columns carry a reserved
    * `__qgate_` prefix so a batch schema may itself contain `g`, `lo`,
    * or `hi` without ambiguity (spec-pinned on a colliding schema).
    * Survivors land through [[landBatch]].
    */
  def quantileGateSink(rows: DataFrame, groupCol: String, valueCol: String,
      sketchPath: String, outPath: String, checkpoint: String,
      qLo: Double = 0.01, qHi: Double = 0.99): StreamingQuery = {
    // Same domain contract as quantileFromSample's qs validation: an
    // inverted or out-of-(0,1] band would silently drop EVERY non-null
    // row of known groups (and q <= 0 would misindex element_at) — fail
    // at sink construction instead.
    require(0 < qLo && qLo <= qHi && qHi <= 1,
      s"quantileGateSink: need 0 < qLo <= qHi <= 1, got qLo=$qLo qHi=$qHi")
    import graft.operators.Aggregates.sampleQuantile
    val spark = rows.sparkSession
    val cuts = spark.read.parquet(sketchPath)
      .groupBy(col("g"))
      .agg(sort_array(collect_list(col("v"))).as("vs"),
        count(lit(1)).as("n"))
      .select(col("g").as("__qgate_g"),
        sampleQuantile(col("vs"), col("n"), qLo).as("__qgate_lo"),
        sampleQuantile(col("vs"), col("n"), qHi).as("__qgate_hi"))
      .persist()
    microBatch(rows, checkpoint) { (batch, batchId, _) =>
      landBatch(batch
        .join(broadcast(cuts),
          batch(groupCol) === cuts("__qgate_g"), "left")
        .filter(col("__qgate_g").isNull
          || col(valueCol).isNull
          || (col(valueCol).cast("double") >= col("__qgate_lo")
            && col(valueCol).cast("double") <= col("__qgate_hi")))
        .drop("__qgate_g", "__qgate_lo", "__qgate_hi"), batchId, outPath)
    }
  }

  /** Streaming token accounting from a materialized
    * [[graft.operators.Bpe.writeBpeDict]] tokenizer artifact: each
    * micro-batch of incoming documents is tokenized by the stored
    * word → subwords dict (one explode + one equi-join — the serving
    * join, with AQE broadcasting the Heaps-bounded dict) and the
    * per-doc counts land through [[landBatch]] (the token ledger
    * double-counting a replayed batch would corrupt every budget
    * decision downstream). Training NEVER runs in the stream —
    * the dict is refreshed by rewriting the artifact, the same
    * contract as [[nearDupGate]]'s MinHash index. This is the ingest
    * half of a token-budget pipeline: the batch analogue feeding
    * mixture/pack decisions is [[graft.operators.Sampling.tokenPack]].
    */
  def tokenAccountingSink(docs: DataFrame, dictPath: String,
      outPath: String, checkpoint: String): StreamingQuery = {
    // ONE dict frame for the life of the stream, persisted so batches
    // after the first read cached blocks instead of re-listing and
    // re-scanning the artifact parquet per trigger; a dict refresh is
    // a new sink, matching the rewrite-the-artifact contract.
    val dict = docs.sparkSession.read.parquet(dictPath + "/dict").persist()
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      // the SAME serving join the batch tokenizer uses (shared
      // helper — including the left-join re-attach, so a doc whose
      // words all miss the dict still gets a 0-count ledger row
      // instead of silently vanishing from the token accounting)
      landBatch(graft.operators.Bpe
        .tokenizeWithDict(batch.select(col("doc_id"), col("text")),
          dict, "n_tokens")
        .select(col("doc_id"), col("n_words"), col("n_tokens")),
        batchId, outPath)
    }
  }

  /** Streaming perplexity gate from a materialized
    * [[graft.operators.TextAnalysis.writeBigramLm]] artifact: each
    * micro-batch of incoming documents is scored against the stored
    * vocab count tables (the batch's own bigram explode + two lookup
    * joins — AQE broadcasts the Heaps-bounded tables) and lands with
    * its `keep` verdict through [[landBatch]] (a replay never
    * double-gates). Unseen transitions score p = 0 — exactly the
    * out-of-distribution signal the gate wants on fresh crawl data.
    * Training NEVER runs in the stream: the LM refreshes by rewriting
    * the artifact, the same contract as [[nearDupGate]]'s MinHash index
    * and [[tokenAccountingSink]]'s dict.
    */
  def lmGateSink(docs: DataFrame, lmPath: String, outPath: String,
      checkpoint: String, minP: Double = 0.033): StreamingQuery = {
    val spark = docs.sparkSession
    // ONE pair of LM tables for the life of the stream, persisted so
    // batches after the first read cached blocks instead of re-scanning
    // the artifact parquet per trigger
    val cab = spark.read.parquet(lmPath + "/bigrams").persist()
    val ca = spark.read.parquet(lmPath + "/prefixes").persist()
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      landBatch(graft.operators.TextAnalysis
        .scoreWithLmTables(batch.select(col("doc_id"), col("text")),
          cab, ca)
        .withColumn("keep",
          coalesce(col("mean_cond_p") >= lit(minP), lit(true))),
        batchId, outPath)
    }
  }

  /** Streaming blocklist admission gate — the exact-banned-sequence
    * member of the gate family ([[nearDupGate]] MinHash text,
    * [[phashGateSink]] media, [[embeddingGateSink]] vectors,
    * [[lmGateSink]] fluency, [[quantileGateSink]] distributions): docs
    * whose token stream contains ANY of the `phrases` as consecutive
    * tokens ([[graft.operators.TextAnalysis.blocklistHitsOn]] — one
    * join + one aggregation for all N phrases) are diverted to
    * `flags/` with their per-phrase hit rows; clean docs land in
    * `docs/`. STATELESS by construction (the phrase list is the whole
    * gate state, broadcast per batch), so replay safety needs no
    * ledger: a retried batch recomputes its per-doc decisions and
    * [[landBatch]] replaces both of its partitions, so a phrase-list
    * change between attempts leaves no stale docs or flags behind.
    */
  def blocklistGateSink(docs: DataFrame, phrases: Seq[Seq[String]],
      outPath: String, checkpoint: String): StreamingQuery =
    microBatch(docs, checkpoint) { (batch, batchId, _) =>
      val hits = graft.operators.TextAnalysis
        .blocklistHitsOn(batch, phrases)
        .cutLineage(eager = true) // read twice: flags write + anti-join
      landBatch(hits, batchId, s"$outPath/flags")
      landBatch(batch.join(hits.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"), batchId, s"$outPath/docs")
      graft.Materialize.release(hits)
    }

  /** Stream → warehouse sink: each micro-batch of the (Update-mode)
    * hourly aggregate overwrites only the panes it touched — dynamic
    * partition overwrite, so late updates replace a pane in place and
    * re-running a batch is idempotent. This is the serving-table pattern
    * the reference implements as SQLite truncate+reload (S9), minus the
    * full-table rewrite.
    *
    * The physical partitioning is (hour, event_type) — the SAME key as
    * the aggregation groups, which is load-bearing: Update mode emits
    * only changed groups, so overwrite granularity coarser than group
    * granularity (e.g. hour alone) would silently drop an hour's
    * unchanged event types whenever one type in that hour updates.
    *
    * Returns the started query; the caller owns its lifecycle.
    */
  def hourlyToParquet(events: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(hourlyCounts(events), checkpoint, OutputMode.Update) {
      (batch, _) =>
        // writer-scoped option, NOT a session-conf mutation: dynamic
        // overwrite must apply to this sink only, no global side effect
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("hour", "event_type").parquet(outPath)
    }
}
