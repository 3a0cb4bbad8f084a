package graft.model

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Canonical table access for the engine.
  *
  * The reference applied its schema at the source boundary (a fixed typed
  * projection over a schemaless store — `YoutubeDataset_loader_final.py:16-53`,
  * re-asserted per job `YoutubeNetworkAgg_Final.py:68-77`). Here the analogue is
  * schema-on-read parquet: one canonical scan per table, letting Catalyst push
  * projections and predicates into the columnar reader (the Spark-native form of
  * the reference's manual `.select(...)` pushdown, `PageRank_Spark_v5.py:51-58`).
  *
  * At 100 TB the scan IS the query cost: every operator downstream must let
  * column pruning / predicate pushdown reach this reader, so nothing here
  * caches or materializes eagerly.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Read a parquet file or directory with the schema Spark would infer,
    * taken from one footer read on the driver: `spark.read.parquet(path)`
    * launches a Spark job per call to infer it, a fixed cost of every
    * serve request. Like Spark's inference (no schema merging), it reads
    * the first data file in path order, skipping `_`- and `.`-prefixed
    * files, and takes Spark's row-metadata schema if the writer left one,
    * else converts the parquet schema under the session conf (so
    * `nanosAsLong` and the NTZ inference rules hold). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"no parquet data at $path")
    val status = fs.getFileStatus(p)
    val file =
      if (status.isFile) status
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString).headOption
        .getOrElse(throw new IllegalArgumentException(s"no parquet data files in $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** Normalize a timestamp column to TimestampType at the source boundary,
    * whatever encoding the fixture generation happened to emit. Two observed
    * encodings so far:
    *
    *  - TIMESTAMP(NANOS), which Spark only reads as raw longs
    *    (`spark.sql.legacy.parquet.nanosAsLong`, set by Verify/Bench/tests);
    *    converted with integer `div` (float division of an ~1e18 nano count
    *    loses precision below the microsecond and truncates off-by-one).
    *  - parquet `timestamp[us]` with isAdjustedToUTC=false, which Spark 4
    *    reads as TIMESTAMP_NTZ; cast to TIMESTAMP — lossless under the pinned
    *    UTC session timezone and DuckDB-comparable.
    *
    * Downstream operators (`unix_micros`, stream-stream band joins) require a
    * plain TimestampType, so this is the one place encoding drift is absorbed;
    * SchemaContractSpec pins the post-normalization schema. */
  private def nanosToTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$c div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, df(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = nanosToTs(load(spark, dir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, dir: String): DataFrame     = nanosToTs(load(spark, dir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = nanosToTs(load(spark, dir, "events"), "ts")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
