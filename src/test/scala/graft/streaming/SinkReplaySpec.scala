package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.{FailingParquetCommitter, TestSpark}

/** Zero-survivor replay, one case per sink whose output can be empty for
  * a non-empty batch. Each case lands batch 0, then replays the same
  * batch 0 on a fresh checkpoint after a refresh that rejects every row
  * (an index rebuilt with copies of the batch under NEW ids, so the
  * own-id replay exemption does not apply; a quantile band that excludes
  * every value; a phrase list that hits every doc or none). The replay
  * writes nothing, so the only way its `ingest_batch=0` partition can
  * disappear is the sink retracting it. A second set of cases fails a
  * replay's write job instead: the partition must survive it, so that
  * the next replay's own-id exemption still finds the batch's ids. The
  * last cases fail one side of `curationSink`'s first landing wave.
  */
class SinkReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `run(root, refreshed, checkpoint)` starts the sink on batch 0 and
    * drains it; `refreshed` selects the state that rejects everything.
    * `landed(root)` is the directory holding the checked partition.
    */
  private case class ReplayCase(name: String, landed: Path => String,
      run: (Path, Boolean, String) => Unit)

  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  private def textStream(rows: Seq[(Long, String)]): DataFrame = {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData(rows: _*)
    in.toDF().toDF("doc_id", "text")
  }

  private val batchDocs = Seq(
    (1L, "totally different payload zzz qqq www rrr sss " * 5),
    (2L, "orange violet indigo crimson amber teal cobalt scarlet ochre " +
      "magenta umber sienna ivory"))
  private val otherDocs = (0L until 20L).map(i => (100L + i,
    ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim +
      (0 until i.toInt).map(j => s" extra$j").mkString))
  /** The batch's own docs under new ids: the rejecting index. */
  private val copies = batchDocs.map { case (id, t) => (id + 1000000L, t) }

  /** A text dedup gate: index of unrelated docs first, then of copies. */
  private def textGate(name: String,
      write: (DataFrame, String) => Unit,
      sink: (DataFrame, String, String, String) => StreamingQuery) =
    ReplayCase(name, _.resolve("out").toString, { (root, refreshed, ck) =>
      val idx = root.resolve(if (refreshed) "idx1" else "idx0").toString
      write((if (refreshed) copies else otherDocs).toDF("doc_id", "text"),
        idx)
      drain(sink(textStream(batchDocs), idx, root.resolve("out").toString,
        ck))
    })

  private val cases = Seq(
    textGate("nearDupGate", graft.operators.Dedup.writeMinhashIndex(_, _),
      EventStream.nearDupGate(_, _, _, _)),
    textGate("ppjoinGateSink", graft.operators.Dedup.writePpjoinIndex(_, _),
      EventStream.ppjoinGateSink(_, _, _, _)),
    textGate("simhashGateSink",
      graft.operators.Dedup.writeSimhashIndex(_, _),
      EventStream.simhashGateSink(_, _, _, _)),
    ReplayCase("phashGateSink", _.resolve("out").toString,
      { (root, refreshed, ck) =>
        implicit val sql = spark.sqlContext
        val blob = ("totally different payload zzz qqq www " * 5)
          .getBytes("US-ASCII")
        val base = "the quick brown fox jumps over the lazy dog " * 4
        val idx = root.resolve(if (refreshed) "idx1" else "idx0").toString
        graft.operators.Multimodal.writePhashIndex(
          (if (refreshed) Seq((1000001L, blob))
          else (0L until 20L).map(i =>
            (i, (base + ("y" * i.toInt)).getBytes("US-ASCII"))))
            .toDF("doc_id", "blob"), idx)
        val in = MemoryStream[(Long, Array[Byte])]
        in.addData((1L, blob))
        drain(EventStream.phashGateSink(in.toDF().toDF("doc_id", "blob"),
          idx, root.resolve("out").toString, ck))
      }),
    ReplayCase("embeddingGateSink", _.resolve("out").toString,
      { (root, refreshed, ck) =>
        implicit val sql = spark.sqlContext
        val novel = Seq(0.0, 1.0, 0.0, 0.0)
        val corpus =
          (0L until 5L).map(i => (i, Seq(1.0, 0.01 * i, 0.0, 0.0))) ++
            (5L until 10L).map(i => (i, Seq(0.0, 0.0, 0.01 * i, 1.0)))
        val codebook = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
          (1L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("cid", "cv")
        val idx = root.resolve(if (refreshed) "idx1" else "idx0").toString
        graft.operators.Similarity.writeIvfIndexOn(
          (if (refreshed) corpus :+ ((1000101L, novel)) else corpus)
            .toDF("vec_id", "v"), codebook, idx)
        val in = MemoryStream[(Long, Seq[Double])]
        in.addData((101L, novel))
        drain(EventStream.embeddingGateSink(in.toDF().toDF("vec_id", "v"),
          idx, root.resolve("out").toString, ck))
      }),
    ReplayCase("quantileGateSink", _.resolve("out").toString,
      { (root, refreshed, ck) =>
        implicit val sql = spark.sqlContext
        // the refreshed band [1000, 1100] excludes every batch value
        val sk = root.resolve(if (refreshed) "sk1" else "sk0").toString
        val lo = if (refreshed) 1000 else 1
        (lo to lo + 100).map(v => ("g0", v.toDouble)).toDF("g", "v")
          .write.parquet(sk)
        val in = MemoryStream[(String, Long, Double)]
        in.addData(("g0", 1L, 10.0), ("g0", 2L, 20.0), ("g0", 3L, 30.0))
        drain(EventStream.quantileGateSink(
          in.toDF().toDF("g", "row_id", "value"), "g", "value", sk,
          root.resolve("out").toString, ck))
      }),
    // a phrase in every doc empties docs/; a phrase in none empties flags/
    ReplayCase("blocklistGateSink docs/", _.resolve("out/docs").toString,
      { (root, refreshed, ck) =>
        val phrases =
          if (refreshed) Seq(Seq("payload", "zzz"), Seq("orange", "violet"))
          else Seq(Seq("absent", "phrase"))
        drain(EventStream.blocklistGateSink(textStream(batchDocs), phrases,
          root.resolve("out").toString, ck))
      }),
    ReplayCase("blocklistGateSink flags/", _.resolve("out/flags").toString,
      { (root, refreshed, ck) =>
        val phrases =
          if (refreshed) Seq(Seq("absent", "phrase"))
          else Seq(Seq("payload", "zzz"), Seq("orange", "violet"))
        drain(EventStream.blocklistGateSink(textStream(batchDocs), phrases,
          root.resolve("out").toString, ck))
      }))

  /** Text gates whose replay exemption reads their own landed partition
    * (`ownAdmitted`): with the writer of their index layout. */
  private val ownAdmittedGates: Seq[(String, (DataFrame, String) => Unit,
      (DataFrame, String, String, String) => StreamingQuery)] = Seq(
    ("nearDupGate", graft.operators.Dedup.writeMinhashIndex(_, _),
      EventStream.nearDupGate(_, _, _, _)),
    ("ppjoinGateSink", graft.operators.Dedup.writePpjoinIndex(_, _),
      EventStream.ppjoinGateSink(_, _, _, _)),
    ("simhashGateSink", graft.operators.Dedup.writeSimhashIndex(_, _),
      EventStream.simhashGateSink(_, _, _, _)))

  ownAdmittedGates.foreach { case (name, write, sink) =>
    test(s"$name: a replay whose write fails keeps the partition the " +
        "next replay's own-id exemption reads") {
      val root = Files.createTempDirectory(FailingParquetCommitter.FailMarker)
      val out = root.resolve("out").toString
      def landed = spark.read.parquet(out).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      def run(idx: String, ck: String) = drain(sink(textStream(batchDocs),
        idx, out, root.resolve(ck).toString))
      val idx0 = root.resolve("idx0").toString
      write(otherDocs.toDF("doc_id", "text"), idx0)
      run(idx0, "ck0")
      val first = landed
      assert(first == batchDocs.map(_._1).toSet, s"first attempt: $first")
      // survivors land -> the index is refreshed WITH them -> a crash
      // before the checkpoint commit replays batch 0, and that replay's
      // write job fails (the query clones the session conf at start)
      val idx1 = root.resolve("idx1").toString
      write((otherDocs ++ batchDocs).toDF("doc_id", "text"), idx1)
      val failed = FailingParquetCommitter.during(spark)(
        intercept[Exception](run(idx1, "ck1")))
      assert(FailingParquetCommitter.injected(failed),
        s"the replay must fail in its write: $failed")
      assert(landed == first, "a failed write must not touch batch 0")
      run(idx1, "ck2")
      assert(landed == first,
        "the replay after a failed write must re-land batch 0")
    }
  }

  cases.foreach { c =>
    test(s"${c.name}: a zero-survivor replay of batch 0 retracts the " +
        "partition the first attempt landed") {
      val root = Files.createTempDirectory("graft_replay")
      val part = new org.apache.hadoop.fs.Path(
        s"${c.landed(root)}/ingest_batch=0")
      val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      c.run(root, false, root.resolve("ck0").toString)
      assert(fs.exists(part), "the first attempt must land batch 0")
      c.run(root, true, root.resolve("ck1").toString)
      assert(!fs.exists(part),
        "the zero-survivor replay must delete its stale partition")
    }
  }

  /** (description, end time) of each job `body` starts, complete once it
    * returns: a marker job closes the window, and the listener bus posts
    * in order. A job that never ended reads `Long.MaxValue`.
    */
  private def jobsOf[T](body: => T): (T, Seq[(String, Long)]) = {
    val sc = spark.sparkContext
    val tags = scala.collection.mutable.Map.empty[Int, String]
    val ends = scala.collection.mutable.Map.empty[Int, Long]
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == "jobs-marker"))
          closed.countDown()
        else tags(e.jobId) = p.map(_.getProperty("spark.job.description")).orNull
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends(e.jobId) = e.time
    }
    sc.addSparkListener(listener)
    val result = try {
      try body finally {
        sc.setJobGroup("jobs-marker", "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        closed.await()
      }
    } finally sc.removeSparkListener(listener)
    (result, tags.toSeq.map { case (id, tag) =>
      (tag, ends.getOrElse(id, Long.MaxValue)) })
  }

  private def words(seed: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(30)(s"w${r.nextInt(500)}").mkString(" ")
  }
  /** curationSink's index docs, and a batch of six novel docs plus a
    * copy of an index doc under a new id, which the stored index drops.
    */
  private val curationIndex = (0 until 5).map(i => (1000L + i, words(100 + i)))
  private val curationBatch =
    (1 to 6).map(i => (i.toLong, words(i), s"s${i % 2}", "en")) :+
      ((7L, words(100), "s0", "en"))

  // curationSink lands a batch in two waves: docs, ledger, batches/ and
  // sets/, then bands/. One case fails the index side of the first wave,
  // the other the output side
  Seq("an index" -> "idx", "an output" -> "out").foreach { case (side, failing) =>
    test(s"curationSink: $side write that fails stops the batch before " +
        "bands/, once its wave has ended, and the replay re-lands what a " +
        "clean run lands") {
      import graft.operators.Dedup
      def setUp(root: Path, fail: Boolean): (String, String) = {
        val Seq(idx, out) = Seq("idx", "out").map(d => root.resolve(
          if (fail && d == failing) s"${FailingParquetCommitter.FailMarker}_$d"
          else d).toString)
        Dedup.writeMinhashIndex(curationIndex.toDF("doc_id", "text"), idx)
        (idx, out)
      }
      def sink(idx: String, out: String, ck: String): Unit = {
        implicit val sql = spark.sqlContext
        val in = MemoryStream[(Long, String, String, String)]
        in.addData(curationBatch: _*)
        drain(EventStream.curationSink(
          in.toDF().toDF("doc_id", "text", "source", "lang"),
          Seq((20L, words(999))).toDF("doc_id", "text"), idx, out, ck))
      }
      def ids(path: String) =
        spark.read.parquet(path).select("doc_id").as[Long].collect().toSet
      def ledger(out: String) = spark.read.parquet(s"$out/ledger").collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toSet
      val ref = Files.createTempDirectory("graft_waves_ref")
      val (refIdx, refOut) = setUp(ref, fail = false)
      sink(refIdx, refOut, ref.resolve("ck").toString)
      val admitted = ids(s"$refIdx/batches")
      assert(admitted.nonEmpty && ids(s"$refOut/docs").nonEmpty)
      assert(!admitted.contains(7L), "the stored index must drop doc 7")

      val root = Files.createTempDirectory("graft_waves")
      val (idx, out) = setUp(root, fail = true)
      val ((failed, caughtAt), jobs) = jobsOf {
        val e = FailingParquetCommitter.during(spark)(
          intercept[Exception](sink(idx, out, root.resolve("ck1").toString)))
        (e, System.currentTimeMillis())
      }
      assert(FailingParquetCommitter.injected(failed), failed)
      val landing = jobs.filter { case (tag, _) =>
        String.valueOf(tag).startsWith("curation.") }
      assert(landing.map(_._1).toSet == Set("curation.land.docs",
        "curation.land.ledger", "curation.land.batches", "curation.index.sets"),
        s"the whole first wave and nothing else must start: $landing")
      assert(landing.forall(_._2 <= caughtAt),
        s"the batch must throw only once its wave has ended: $landing")
      assert((ids(s"$idx/bands") & curationBatch.map(_._1).toSet).isEmpty,
        "bands/ must hold nothing of the failed batch")
      if (failing == "idx")
        assert(ids(s"$out/docs") == ids(s"$refOut/docs") &&
          ledger(out) == ledger(refOut), "docs/ and the ledger must land")
      else
        assert(ids(s"$idx/batches") == admitted &&
          admitted.subsetOf(ids(s"$idx/sets")), "batches/ and sets/ must land")
      // the replay sees whatever the failed attempt left and must admit
      // what the clean run admitted: no self-match to zero
      sink(idx, out, root.resolve("ck2").toString)
      assert(ids(s"$out/docs") == ids(s"$refOut/docs"))
      assert(ledger(out) == ledger(refOut))
      assert(ids(s"$idx/batches") == admitted)
    }
  }
}
