package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

/** EP1 orchestration (`/root/reference/main.py:128-174` +
  * `src/transform/data_transformer.py:346-425`): materialize the five
  * derived datasets from the two CSV inputs.
  *
  * Differences from the reference, all deliberate:
  *   - `covid.cache()` — the reference feeds covid_df into four separate
  *     actions with no persist (its README claims caching that the code
  *     never does; SURVEY.md §4), recomputing the full transform 4×.
  *   - the five writes run as concurrent Spark jobs, one thread per
  *     dataset on a pool made for the call. At the reference's sizes each
  *     write is a chain of one-task jobs with planning and commit gaps
  *     between them, so one after another they leave most cores idle.
  *     The cache is still built once: the four covid writes' tasks that
  *     reach a cached partition not built yet wait on its block write
  *     lock for the one task building it, then read it, so the CSV parse
  *     and the transform run once (`PipelineSpec` counts the rows read).
  *     Each thread tags its jobs `spark.job.description =
  *     pipeline.save.<dataset>`; it inherits the caller's other local
  *     properties, job group included.
  *   - no pandas/SQLite hop — the serving store stays Parquet + temp
  *     views, queried with Spark SQL.
  *
  * Preserved behaviors (SURVEY.md §2.5): truncate-and-reload idempotence
  * (SaveMode.Overwrite), schema tolerance, and the fail-soft vaccination
  * branch — a missing/broken vaccination input logs and continues; a
  * missing covid input fails the run (main.py:90-98).
  */
object Pipeline {

  val defaultCountries: Seq[String] = Seq(
    "United States", "India", "Brazil", "France", "Germany",
    "United Kingdom", "Italy", "Spain", "Russia", "Japan",
    "South Korea", "China", "Canada", "Australia", "Mexico")

  def readCovidCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.covid).csv(path)

  def readVaccinationsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(Schemas.vaccinations).csv(path)

  def saveParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Run the full transform stage; returns dataset name -> parquet path.
    * Returns or throws only once every write has finished; a failed covid
    * write is rethrown (the first in dataset order, later ones
    * suppressed into it).
    * @param vaccCsv optional — None or a failing read skips the branch.
    */
  def run(spark: SparkSession, covidCsv: String, vaccCsv: Option[String],
      outDir: String,
      countries: Seq[String] = defaultCountries): Map[String, String] = {
    val covid = Transforms.transformCovid(readCovidCsv(spark, covidCsv)).cache()
    val saves: Seq[(String, () => DataFrame)] = Seq(
      "covid_full" -> (() => covid),
      "covid_by_country" -> (() => Aggregations.byCountry(covid)),
      "covid_by_date" -> (() =>
        Aggregations.withGlobalMovingAvg(Aggregations.byDate(covid))),
      "covid_filtered" -> (() => Transforms.filterCountries(covid, countries))) ++
      vaccCsv.map(p => "vaccinations" -> (() =>
        Transforms.transformVaccinations(readVaccinationsCsv(spark, p))))
    try {
      val pool = Executors.newFixedThreadPool(saves.size, { r: Runnable =>
        val t = new Thread(r, "pipeline-save")
        t.setDaemon(true)
        t
      })
      // invokeAll returns once every write has ended, failed or not
      val written = try pool.invokeAll(saves.map { case (name, frame) =>
        new Callable[String] {
          def call(): String = {
            spark.sparkContext.setJobDescription(s"pipeline.save.$name")
            val p = s"$outDir/$name"
            saveParquet(frame(), p)
            p
          }
        }
      }.asJava).asScala.toSeq finally pool.shutdown()
      val outcomes = saves.map(_._1).zip(written.map { f =>
        try Success(f.get()) catch { case e: ExecutionException => Failure(e.getCause) }
      })
      // Fail-soft: the reference continues when vaccinations are absent
      // (data_transformer.py:399-407).
      val (skipped, failed) = outcomes.collect { case (name, Failure(e)) => name -> e }
        .partition { case (name, e) => name == "vaccinations" && e.isInstanceOf[Exception] }
      skipped.foreach { case (_, e) =>
        System.err.println(s"[pipeline] vaccination branch skipped: ${e.getMessage}")
      }
      failed.map(_._2).reduceOption { (first, later) => first.addSuppressed(later); first }
        .foreach(throw _)
      outcomes.collect { case (name, Success(p)) => name -> p }.toMap
    } finally covid.unpersist()
  }
}
