package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.{FailingParquetCommitter, TestSpark}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def writeCsv(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  val covidCsv =
    """iso_code,continent,location,date,total_cases,total_deaths,new_cases,new_deaths,population
      |BRA,South America,Brazil,2024-01-01,1000,10,100,1,200000000
      |BRA,South America,Brazil,2024-01-02,1100,12,100,2,200000000
      |USA,North America,United States,2024-01-01,5000,50,500,5,330000000
      |""".stripMargin

  val vaccCsv =
    """location,iso_code,date,total_vaccinations,people_vaccinated,people_fully_vaccinated
      |Brazil,BRA,2024-01-01,1000,600,300
      |""".stripMargin

  test("unionEvolved spans schema drift: added/dropped columns go NULL") {
    import spark.implicits._
    val march = Seq((1L, "a", 10.0)).toDF("id", "name", "v")
    val june = Seq((2L, "b", "extra")).toDF("id", "name", "note") // v dropped, note added
    val out = Transforms.unionEvolved(Seq(march, june)).orderBy("id").collect()
    assert(out.map(_.schema.fieldNames.toSet).head
      == Set("id", "name", "v", "note"))
    assert(out(0).getAs[String]("name") == "a"
      && out(0).isNullAt(out(0).fieldIndex("note")))
    assert(out(1).isNullAt(out(1).fieldIndex("v"))
      && out(1).getAs[String]("note") == "extra")
  }

  test("full pipeline materializes the five datasets, idempotently") {
    val dir = Files.createTempDirectory("graft_pipe")
    val covid = writeCsv(dir, "covid.csv", covidCsv)
    val vacc = writeCsv(dir, "vacc.csv", vaccCsv)
    val out = Pipeline.run(spark, covid, Some(vacc), s"$dir/out",
      countries = Seq("Brazil"))
    assert(out.keySet == Set("covid_full", "covid_by_country",
      "covid_by_date", "covid_filtered", "vaccinations"))
    assert(spark.read.parquet(out("covid_full")).count() == 3)
    assert(spark.read.parquet(out("covid_by_country")).count() == 2)
    assert(spark.read.parquet(out("covid_by_date")).count() == 2)
    assert(spark.read.parquet(out("covid_filtered")).count() == 2)
    assert(spark.read.parquet(out("vaccinations")).count() == 1)
    // truncate-and-reload idempotence: rerun must not duplicate rows
    val out2 = Pipeline.run(spark, covid, Some(vacc), s"$dir/out",
      countries = Seq("Brazil"))
    assert(out2 == out)
    assert(Seq("covid_full" -> 3, "covid_by_country" -> 2, "covid_by_date" -> 2,
      "covid_filtered" -> 2, "vaccinations" -> 1).forall { case (d, n) =>
      spark.read.parquet(out2(d)).count() == n })
    // derived columns present
    val full = spark.read.parquet(out("covid_full"))
    assert(Seq("case_fatality_rate", "year", "month", "week")
      .forall(full.columns.contains))
    val vaccDf = spark.read.parquet(out("vaccinations"))
    assert(vaccDf.head().getAs[Double]("vaccination_rate") == 60.0)
    assert(vaccDf.head().getAs[Double]("full_vaccination_rate") == 50.0)
  }

  test("fail-soft vaccination branch: bad path logs and continues (main.py:90-98)") {
    val dir = Files.createTempDirectory("graft_pipe2")
    val covid = writeCsv(dir, "covid.csv", covidCsv)
    val out = Pipeline.run(spark, covid, Some(s"$dir/does_not_exist.csv"),
      s"$dir/out", countries = Seq("Brazil"))
    assert(!out.contains("vaccinations"))
    assert(out.contains("covid_full"))
  }

  private val datasets = Seq("covid_full", "covid_by_country", "covid_by_date",
    "covid_filtered", "vaccinations")
  private val sorted = Seq("covid_by_country", "covid_by_date")

  /** Locations × days rows in the covid schema's column order, every
    * tenth metric cell empty; distinct case scales per location so the
    * per-country sort has no ties.
    */
  private def wideCovidCsv(dir: java.nio.file.Path): (String, Int) = {
    val locs = Seq("Brazil" -> "BRA", "India" -> "IND", "France" -> "FRA",
      "Chile" -> "CHL", "Kenya" -> "KEN", "World" -> "OWID_WRL")
    val days = 60
    val metrics = Schemas.covidNumericCols.size
    val rows = for ((loc, iso) <- locs.zipWithIndex; d <- 0 until days) yield {
      val (name, code) = loc
      val date = java.time.LocalDate.of(2021, 3, 1).plusDays(d.toLong)
      val vals = (0 until metrics).map { m =>
        if ((iso * 7 + d + m) % 10 == 0) ""
        else ((iso + 1) * 1000 + d * (m + 1) + m * 0.25).toString
      }
      (Seq(code, "Continent", name, date.toString) ++ vals).mkString(",")
    }
    val header = Schemas.covid.fieldNames.mkString(",")
    (writeCsv(dir, "wide_covid.csv", (header +: rows).mkString("\n") + "\n"),
      rows.size)
  }

  private def wideVaccCsv(dir: java.nio.file.Path): (String, Int) = {
    val rows = for (loc <- Seq("Brazil", "India"); d <- 0 until 30) yield
      (Seq(loc, loc.take(3).toUpperCase, f"2021-04-${d + 1}%02d") ++
        Schemas.vaccNumericCols.indices.map(m => (d * 100 + m * 10 + 5).toString))
        .mkString(",")
    val header = Schemas.vaccinations.fieldNames.mkString(",")
    (writeCsv(dir, "wide_vacc.csv", (header +: rows).mkString("\n") + "\n"),
      rows.size)
  }

  /** The rows of each part file, files in name order: the on-disk order. */
  private def onDisk(path: String): Seq[Row] = {
    val parts = new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    parts.toSeq.flatMap(f => spark.read.parquet(s"$path/$f").collect())
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def covidFrame(csv: String): DataFrame =
    Transforms.transformCovid(Pipeline.readCovidCsv(spark, csv))

  private def covidCached(csv: String): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      covidFrame(csv).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .nonEmpty

  /** `Pipeline.run` rebuilt one write after another from its public calls. */
  private def sequentialRun(covidCsv: String, vaccCsv: String,
      out: String, countries: Seq[String]): Unit = {
    val covid = covidFrame(covidCsv).cache()
    assert(covidCached(covidCsv), "an identically built plan finds the cache")
    try {
      Pipeline.saveParquet(covid, s"$out/covid_full")
      Pipeline.saveParquet(Aggregations.byCountry(covid), s"$out/covid_by_country")
      Pipeline.saveParquet(
        Aggregations.withGlobalMovingAvg(Aggregations.byDate(covid)),
        s"$out/covid_by_date")
      Pipeline.saveParquet(Transforms.filterCountries(covid, countries),
        s"$out/covid_filtered")
      Pipeline.saveParquet(Transforms.transformVaccinations(
        Pipeline.readVaccinationsCsv(spark, vaccCsv)), s"$out/vaccinations")
    } finally covid.unpersist()
  }

  /** Jobs of one job group: their descriptions, end times and the rows
    * their tasks read. The listener bus is asynchronous, so [[around]]
    * ends with a marker job and waits for its end event; every earlier
    * event has then been counted.
    */
  private class GroupCensus(val group: String) extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile private var markerJob = -1
    private val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val descriptions = new ConcurrentLinkedQueue[String]()
    val endTimes = new ConcurrentLinkedQueue[Long]()
    val rowsRead = new java.util.concurrent.atomic.AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(g) if g == group =>
          jobs.add(e.jobId)
          e.stageIds.foreach(stages.add)
          descriptions.add(e.properties.getProperty("spark.job.description"))
        case Some(g) if g == s"$group-marker" => markerJob = e.jobId
        case _ =>
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.contains(e.jobId)) endTimes.add(e.time)
      else if (e.jobId == markerJob) markerSeen.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

    /** Runs `body` under `group`, then waits for its events. */
    def around[T](body: => T): T = {
      val sc = spark.sparkContext
      sc.addSparkListener(this)
      try {
        sc.setJobGroup(group, s"$group caller")
        try body finally {
          sc.setJobGroup(s"$group-marker", "census marker")
          try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
          markerSeen.await()
        }
      } finally sc.removeSparkListener(this)
    }
  }

  private def poolThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName == "pipeline-save")

  test("concurrent writes equal a sequential build, scan the covid CSV " +
      "once, and drop the cache") {
    val dir = Files.createTempDirectory("graft_pipe_eq")
    val (covid, covidRows) = wideCovidCsv(dir)
    val (vacc, vaccRows) = wideVaccCsv(dir)
    val countries = Seq("Brazil", "Kenya", "World")
    val census = new GroupCensus(s"pipeline-spec-${System.nanoTime()}")
    val out = census.around {
      val r = Pipeline.run(spark, covid, Some(vacc), s"$dir/concurrent",
        countries)
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        == census.group, "the caller's job group must stay intact")
      r
    }
    assert(out == datasets.map(d => d -> s"$dir/concurrent/$d").toMap)
    assert(!covidCached(covid), "run must unpersist the covid frame")
    // every job carried the caller's group and its dataset's description
    assert(census.descriptions.asScala.toSet
      == datasets.map(d => s"pipeline.save.$d").toSet)
    // one CSV parse: each covid row read once, plus one record per cached
    // batch a covid write's task read back (a second parse adds covidRows)
    val extra = census.rowsRead.get - covidRows - vaccRows
    assert(extra >= 0 && extra < covidRows,
      s"covid CSV read more than once: ${census.rowsRead.get} rows")

    sequentialRun(covid, vacc, s"$dir/sequential", countries)
    datasets.foreach { d =>
      val a = spark.read.parquet(s"$dir/concurrent/$d")
      val b = spark.read.parquet(s"$dir/sequential/$d")
      assert(a.schema == b.schema, d)
      assert(multiset(a) == multiset(b), d)
      assert(a.count() > 0, d)
    }
    sorted.foreach { d =>
      assert(onDisk(s"$dir/concurrent/$d") == onDisk(s"$dir/sequential/$d"), d)
    }
  }

  test("a failed covid write is rethrown only after every write finished, " +
      "leaving no cache and no pool thread") {
    val dir = Files.createTempDirectory(FailingParquetCommitter.FailMarker)
    val covid = writeCsv(dir, "covid.csv", covidCsv)
    val vacc = writeCsv(dir, "vacc.csv", vaccCsv)
    val census = new GroupCensus(s"pipeline-spec-fail-${System.nanoTime()}")
    var caughtAt = 0L
    val failed = census.around {
      val e = FailingParquetCommitter.during(spark)(intercept[Exception](
        Pipeline.run(spark, covid, Some(vacc), s"$dir/out", Seq("Brazil"))))
      caughtAt = System.currentTimeMillis()
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        == census.group, "the caller's job group must stay intact")
      e
    }
    assert(FailingParquetCommitter.injected(failed), failed)
    // the first covid write's failure, the other three suppressed into it
    def writesTo(e: Throwable, d: String) =
      String.valueOf(e.getMessage).contains(s"out/$d.")
    assert(writesTo(failed, "covid_full"), failed)
    assert(Seq("covid_by_country", "covid_by_date", "covid_filtered")
      .forall(d => failed.getSuppressed.exists(writesTo(_, d))),
      failed.getSuppressed.toSeq)
    assert(census.descriptions.asScala.toSet
      == datasets.map(d => s"pipeline.save.$d").toSet,
      "every dataset's write must have started")
    assert(census.endTimes.size == census.descriptions.size)
    assert(census.endTimes.asScala.forall(_ <= caughtAt),
      "run must throw only after every write job ended")
    assert(!covidCached(covid), "a failed run must unpersist the covid frame")
    poolThreads.foreach(_.join(5000))
    assert(poolThreads.forall(!_.isAlive), "the write pool must be gone")
  }
}
