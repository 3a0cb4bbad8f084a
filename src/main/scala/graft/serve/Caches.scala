package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Two-phase result caches — SURVEY.md §2.1 (S7/S8).
  *
  * The reference precomputes each report to a JSON cache and serves reads
  * from it (`run_netagg_job.py:198-221`, `guiV5.py:59-78`). Spark-natively a
  * cache is a materialized parquet result: the batch job writes it once, the
  * serve layer re-reads it with schema validation. Parquet (not JSON) so the
  * serve-side scan keeps column pruning; `coalesce(1)` because these are
  * report-sized outputs — never use it on data-sized results. */
object Caches {

  def write(result: DataFrame, path: String): Unit =
    result.coalesce(1).write.mode("overwrite").parquet(path)

  /** S8 — read back with the reference's required-column validation
    * (`guiV5.py:72-78`): missing columns fail fast at serve time. The
    * schema is the file's own, from one footer read on the driver
    * ([[graft.model.Tables.parquet]]), so the read launches no Spark job. */
  def read(spark: SparkSession, path: String, requiredColumns: Seq[String]): DataFrame = {
    val df = graft.model.Tables.parquet(spark, path)
    requireColumns(df, path, requiredColumns)
    df
  }

  /** Literal-parity JSON cache twins (`run_netagg_job.py:198-221` writes
    * JSON; `guiV5.py:59-78` reads it): for consumers that genuinely need the
    * reference's file format. An explicit schema on read — a JSON cache
    * read with inference costs a second pass and can silently widen types;
    * parquet remains the default (pruned scans, typed). */
  def writeJson(result: DataFrame, path: String): Unit =
    result.coalesce(1).write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType,
               requiredColumns: Seq[String]): DataFrame = {
    // validate against the FILE's actual fields: an explicit read schema
    // materializes missing columns as all-null, so checking the schema'd
    // DataFrame would pass vacuously and serve nulls. Caches are
    // report-sized (coalesce(1)), so the inference pass is cheap.
    val actual = spark.read.json(path)
    requireColumns(actual, path, requiredColumns)
    spark.read.schema(schema).json(path)
  }

  private def requireColumns(df: DataFrame, path: String, required: Seq[String]): Unit = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"cache at $path missing required columns: ${missing.mkString(", ")}")
  }
}
