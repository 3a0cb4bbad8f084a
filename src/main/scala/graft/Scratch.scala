package graft

import graft.Tier.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Using

/** The engine's scratch-state lifecycle: a gate (or profiler) that stages
  * files — a standing index, a relaid lake copy, streamed chunks — does
  * its work in a fresh temp dir plus optionally named catalog tables, and
  * everything is dropped afterwards, on success or failure. The dir is
  * created under `java.io.tmpdir`, so a harness that points the JVM's
  * tmpdir at a per-run directory still owns and cleans anything a killed
  * run leaves behind.
  *
  * Cleanup drops the tables first (a bucketed table's files live under
  * the dir), then deletes the dir. A body failure propagates unchanged;
  * a cleanup failure on that path rides along as a suppressed exception.
  */
object Scratch {

  /** Run `body` with the path of a fresh `prefix`-named temp dir, then
    * drop `tables` (in the active session) and delete the dir. */
  def dir[T](prefix: String, tables: String*)(body: String => T): T =
    Using.resource(new Stage(prefix, tables))(s => body(s.path))

  /** [[dir]] for a body whose frame reads the staged state: the frame is
    * pinned ([[Tier.pin]], eager) before anything is dropped, so the
    * returned result outlives its source files. */
  def pinned(prefix: String, tables: String*)(body: String => DataFrame): DataFrame =
    dir(prefix, tables: _*)(stage => body(stage).pinTier)

  private final class Stage(prefix: String, tables: Seq[String]) extends AutoCloseable {
    private val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    val path: String = root.getAbsolutePath
    def close(): Unit =
      try tables.foreach(t => SparkSession.active.sql(s"DROP TABLE IF EXISTS $t"))
      finally { new scala.reflect.io.Directory(root).deleteRecursively(); () }
  }
}
