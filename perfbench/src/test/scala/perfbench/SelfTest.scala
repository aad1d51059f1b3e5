package perfbench

import graft.GraftSession

/** The benchmark's own tests: the tail-percentile rule, interval and
  * self-time arithmetic, and job-group attribution of listener counters.
  * Run with `python3 perfbench/run.py --self-test`; exits non-zero on the
  * first failure.
  */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    body
    passed += 1
    println(s"ok - $name")
  }

  private def expect[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("median of odd and even sample counts") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd")
      expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even")
    }

    test("tail needs at least 10 samples beyond it") {
      expect(Stats.tail((1 to 10).map(_.toDouble)), None, "10 samples")
      val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
      expect((t11.value, t11.samples), (1.0, 11), "11 samples: the minimum")
      val xs = (1 to 100).reverse.map(_.toDouble)
      val t = Stats.tail(xs).get
      expect((t.value, t.percentile, t.samples), (90.0, 90.0, 100), "100 samples: p90")
      expect(xs.count(_ > t.value), 10, "samples beyond the tail")
    }

    test("covered counts overlaps once and clips to the window") {
      expect(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100), 25L, "overlap")
      expect(Stats.covered(Seq((-5L, 5L), (95L, 120L)), 0, 100), 10L, "clipped")
      expect(Stats.covered(Nil, 0, 100), 0L, "empty")
    }

    test("steal share is stolen over wanted CPU time") {
      expect(Runner.stealShare((100L, 10L), (190L, 20L)), 0.1, "10 of 100 jiffies")
      expect(Runner.stealShare((5L, 5L), (5L, 5L)), 0.0, "no time passed")
    }

    test("self time subtracts the union of direct children") {
      val spans = Seq(
        Span(0, "op", -1, 0, 0, 100),
        Span(1, "a", 0, 0, 10, 40),
        Span(2, "b", 0, 0, 30, 60),
        Span(3, "a.inner", 1, 0, 15, 20),
        Span(4, "late", 0, 0, 90, 130))
      val self = Tracer.selfTimes(spans)
      expect(self(0), 100L - 50L - 10L, "root: children cover 10..60 and 90..100")
      expect(self(1), 25L, "a minus its inner span")
      expect((self(2), self(3), self(4)), (30L, 5L, 40L), "leaves keep their duration")
    }

    test("self times of nested spans add up to the op's wall time") {
      val t = new Tracer(true, None)
      t.beginOp(7)
      t.span("outer") { t.span("inner")(Thread.sleep(5)); Thread.sleep(5) }
      t.span("second")(Thread.sleep(5))
      t.endOp()
      val spans = t.spans.toSeq
      expect(spans.map(_.op).distinct, Seq(7), "op id")
      val root = spans.find(_.parent < 0).get
      expect(Tracer.selfTimes(spans).values.sum, root.durNs, "sum of self times")
      val off = new Tracer(false, None)
      expect(off.span("x")(42), 42, "disabled span returns its body")
      expect(off.spans.isEmpty, true, "disabled tracer records nothing")
    }

    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.sql.warehouse.dir", args.sliding(2).collectFirst {
        case Array("--work", w) => s"$w/warehouse" }.getOrElse("spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("listener counters are charged to the job group of the open span") {
        val sc = spark.sparkContext
        val l = EngineListener.install(spark)
        val t = new Tracer(true, Some(sc))
        t.beginOp(0)
        val from = System.currentTimeMillis()
        t.span("a")(spark.range(0, 1000, 1, 3).count())
        val to = System.currentTimeMillis()
        t.span("b") {
          sc.parallelize(1 to 100, 2).count()
          sc.parallelize(1 to 100, 2).count()
        }
        t.endOp()
        spark.range(0, 10, 1, 4).count() // outside any span
        sc.setJobGroup("query-run", "stream", false)
        sc.setLocalProperty(EngineListener.BatchIdKey, "3")
        sc.parallelize(1 to 10, 5).count()
        sc.setLocalProperty(EngineListener.BatchIdKey, null)
        sc.clearJobGroup()
        l.fence(sc)
        val ids = t.spans.map(s => s.name -> s.id).toMap
        val a = l.take(Seq(Tracer.groupOf(ids("a"))))
        val b = l.take(Seq(Tracer.groupOf(ids("b"))))
        expect(b.jobs, 2L, "jobs of b")
        expect(b.tasks, 4L, "tasks of b")
        expect(a.jobs >= 1 && a.tasks >= 3, true,
          s"a charged its SQL job (${a.jobs} jobs, ${a.tasks} tasks)")
        expect(l.takePlanning(from, to).queries, 1L, "planning of the query in the window")
        expect(l.takePlanning(from, System.currentTimeMillis()).queries, 1L,
          "only the later query is left")
        expect(l.take(t.keysOf(0)).jobs, 0L, "counters are taken once")
        val stream = l.take(Seq("query-run"))
        expect((stream.jobs, stream.tasks), (1L, 5L), "run-id/batch-id key")
      }
    } finally spark.stop()
    println(s"${passed} tests passed")
  }
}
