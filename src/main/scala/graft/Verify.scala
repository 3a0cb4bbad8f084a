package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional trailing args: dump only the named queries (local
    // profiling/iteration aid — the driver always passes exactly two args)
    val selected =
      if (rest.nonEmpty) SparkEntry.queries.view.filterKeys(rest.contains).toMap
      else SparkEntry.queries
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        // A gate must never silently vanish from the correctness artifact
        // (round 7: two unplannable queries simply dropped out of
        // CORRECTNESS). Dump a sentinel row instead — the driver's compare
        // then records a loud red row (schema/hash mismatch against the
        // oracle) under the query's own name.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e.getMessage)
        import spark.implicits._
        Seq(String.valueOf(e.getMessage)).toDF("verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // inter-query state release (see Bench): pinned checkpoint blocks
      // otherwise accumulate across the 90-query dump
      Bench.releasePinned(spark)
    }
    import Json.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
