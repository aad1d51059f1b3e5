package graft.streaming

import java.nio.file.{Files, Path}
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
  * the next replay's own-id exemption still finds the batch's ids.
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
}
