package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Row-level transform stage: T1-T5 of the reference
  * (`/root/reference/src/transform/data_transformer.py:100-213`), as pure
  * `DataFrame => DataFrame` functions. All are single-pass narrow
  * transformations — no shuffle, fully inside whole-stage codegen.
  */
object Transforms {

  /** T1 (data_transformer.py:113, :179): parse the `date` string column. */
  def parseDate(df: DataFrame): DataFrame =
    df.withColumn("date", to_date(col("date")))

  /** T2 (data_transformer.py:116-145): schema-tolerant numeric cast —
    * cast each listed column to double iff present; missing columns are
    * silently skipped (the reference's `if col in df.columns`).
    */
  def castNumericIfPresent(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    cols.foldLeft(df) { (d, c) =>
      if (present(c)) d.withColumn(c, col(c).cast(DoubleType)) else d
    }
  }

  /** Schema-drift-tolerant union: combine snapshots whose column sets
    * evolved over time (a column added in March, another dropped in
    * June), yielding the union of all columns with NULLs where a
    * snapshot lacks one. The n-ary generalization of the reference's
    * cast-if-present tolerance (S4/T2,
    * `/root/reference/src/transform/data_transformer.py:144` skips
    * missing columns instead of failing): history stays readable as one
    * frame as the feed's schema moves. Pure plan surgery — each input
    * contributes a projection, no shuffle.
    */
  def unionEvolved(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionEvolved needs at least one frame")
    frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** T3 (data_transformer.py:148-154): case-fatality rate, NULL unless
    * total_cases is strictly positive (NULL cases and 0 cases both yield
    * NULL — `when` without `otherwise` defaults to NULL).
    */
  def withCaseFatalityRate(df: DataFrame): DataFrame =
    df.withColumn("case_fatality_rate",
      when(col("total_cases") > 0,
        col("total_deaths") / col("total_cases") * 100))

  /** T4 (data_transformer.py:156-160): calendar parts; week is ISO-8601. */
  def withDateParts(df: DataFrame): DataFrame =
    df.withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("week", weekofyear(col("date")))

  /** T5 (data_transformer.py:199-213): vaccination rates. The guard checks
    * the NUMERATOR, not the divisor — a reference quirk replicated as-is
    * (SURVEY.md §7.5 #2); a NULL/0 divisor falls through to Spark's
    * non-ANSI NULL result.
    */
  def withVaccinationRates(df: DataFrame): DataFrame =
    df.withColumn("vaccination_rate",
        when(col("people_vaccinated").isNotNull,
          col("people_vaccinated") / col("total_vaccinations") * 100))
      .withColumn("full_vaccination_rate",
        when(col("people_fully_vaccinated").isNotNull,
          col("people_fully_vaccinated") / col("people_vaccinated") * 100))

  /** Full covid transform chain (data_transformer.py:100-176). */
  def transformCovid(df: DataFrame): DataFrame =
    withDateParts(withCaseFatalityRate(
      castNumericIfPresent(parseDate(df), Schemas.covidNumericCols)))

  /** Full vaccination transform chain (data_transformer.py:178-217). */
  def transformVaccinations(df: DataFrame): DataFrame =
    withVaccinationRates(
      castNumericIfPresent(parseDate(df), Schemas.vaccNumericCols))

  /** T12 (data_transformer.py:297-317): country allowlist filter. */
  def filterCountries(df: DataFrame, countries: Seq[String]): DataFrame =
    df.filter(col("location").isin(countries: _*))
}
