package perfbench

import graft.pipeline.{Pipeline, Schemas}
import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

/** What a generated OWID input holds; the output checks compare against
  * these counts.
  */
final case class OwidInput(covidCsv: String, vaccCsv: String,
    covidRows: Long, vaccRows: Long, locations: Long, dates: Long,
    filteredRows: Long, inputBytes: Long)

/** Seeded OWID-shaped covid and vaccination CSVs.
  *
  * Every location reports every day, so the row counts are exact
  * functions of the size. Locations are the 15 countries
  * [[Pipeline.defaultCountries]] names, OWID's pseudo-locations (World,
  * continents, income groups — rows that `Aggregations.byDate` sums into
  * the global totals alongside the countries, as the reference does) and
  * synthetic countries up to `locations`. About 30% of metric cells are
  * empty. Vaccination rows start 3/8 of the way into the period, the
  * ratio of OWID's own two files.
  */
object OwidGen {

  private val pseudo = Seq(
    "World" -> "OWID_WRL", "Africa" -> "OWID_AFR", "Asia" -> "OWID_ASI",
    "Europe" -> "OWID_EUR", "European Union" -> "OWID_EUN",
    "North America" -> "OWID_NAM", "Oceania" -> "OWID_OCE",
    "South America" -> "OWID_SAM", "High income" -> "OWID_HIC",
    "Low income" -> "OWID_LIC", "Upper middle income" -> "OWID_UMC",
    "Lower middle income" -> "OWID_LMC", "International" -> "OWID_INT")
  private val continents = Seq("Asia", "Europe", "Africa", "North America",
    "South America", "Oceania")
  private val NullShare = 0.3
  private val Start = LocalDate.of(2020, 1, 22)

  def generate(dir: File, seed: Long, locations: Int, days: Int): OwidInput = {
    val named = Pipeline.defaultCountries.zipWithIndex.map { case (c, i) =>
      (c, c.take(3).toUpperCase + i, continents(i % continents.size))
    } ++ pseudo.map { case (l, iso) => (l, iso, "") }
    require(locations >= named.size, s"need at least ${named.size} locations")
    val locs = named ++ (named.size until locations).map(i =>
      (f"Country $i%03d", f"C$i%03d", continents(i % continents.size)))
    val rng = new SplittableRandom(seed)
    dir.mkdirs()
    val covid = new File(dir, "owid-covid-data.csv")
    val vacc = new File(dir, "vaccinations.csv")
    val vaccFrom = days * 3 / 8
    write(covid) { w =>
      w.write(Schemas.covid.fieldNames.mkString(",")); w.newLine()
      locs.foreach { case (loc, iso, cont) =>
        val pop = 1e5 + rng.nextDouble() * 3e8
        val static = Seq(pop, rng.nextDouble() * 500, 18 + rng.nextDouble() * 30,
          rng.nextDouble() * 25, rng.nextDouble() * 15, 500 + rng.nextDouble() * 90000,
          100 + rng.nextDouble() * 500, rng.nextDouble() * 20, 50 + rng.nextDouble() * 35)
        var cases, deaths, tests = 0.0
        (0 until days).foreach { d =>
          val newCases = math.floor(rng.nextDouble() * pop * 1e-4)
          val newDeaths = math.floor(newCases * rng.nextDouble() * 0.03)
          val newTests = math.floor(newCases * (2 + rng.nextDouble() * 20))
          cases += newCases; deaths += newDeaths; tests += newTests
          val daily = Seq(cases, newCases, deaths, newDeaths,
            cases / pop * 1e6, newCases / pop * 1e6, deaths / pop * 1e6,
            newDeaths / pop * 1e6, 0.5 + rng.nextDouble() * 1.5,
            math.floor(newCases * 0.01), math.floor(newCases * 0.05),
            rng.nextDouble() * 0.3, 1 + rng.nextDouble() * 50, tests, newTests)
          row(w, rng, Seq(iso, cont, loc, Start.plusDays(d).toString), daily ++ static)
        }
      }
    }
    write(vacc) { w =>
      w.write(Schemas.vaccinations.fieldNames.mkString(",")); w.newLine()
      locs.foreach { case (loc, iso, _) =>
        var total, people, full, boost = 0.0
        (vaccFrom until days).foreach { d =>
          val daily = math.floor(rng.nextDouble() * 1e5)
          total += daily; people += daily * 0.6; full += daily * 0.3
          boost += daily * 0.1
          row(w, rng, Seq(loc, iso, Start.plusDays(d).toString),
            Seq(total, people, full, boost, daily, daily / 10,
              total / 1e6, people / 1e6, full / 1e6))
        }
      }
    }
    OwidInput(covid.getPath, vacc.getPath,
      covidRows = locs.size.toLong * days,
      vaccRows = locs.size.toLong * (days - vaccFrom),
      locations = locs.size, dates = days,
      filteredRows = Pipeline.defaultCountries.size.toLong * days,
      inputBytes = covid.length + vacc.length)
  }

  private def row(w: BufferedWriter, rng: SplittableRandom, keys: Seq[String],
      metrics: Seq[Double]): Unit = {
    w.write(keys.map(k => if (k.contains(",")) "\"" + k + "\"" else k).mkString(","))
    metrics.foreach { v =>
      w.write(',')
      if (rng.nextDouble() >= NullShare)
        w.write(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
    }
    w.newLine()
  }

  private def write(f: File)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
  }
}
