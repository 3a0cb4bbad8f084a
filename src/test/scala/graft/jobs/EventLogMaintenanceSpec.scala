package graft.jobs

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-replay spec for the event-log maintenance cycle (VERDICT r8
  * "next" #8): exactly-once admission under replay, retention expiry,
  * compaction+z-order into versioned commits, pointer recovery from every
  * crash window, and vacuum.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class EventLogMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def t(day: Int): Timestamp = Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")

  private def batch(ids: Range, day: Int): DataFrame =
    ids.map(i => Ev(i.toLong, t(day), i % 7L, "click", 1.0, "{}")).toDF()

  private def newRoot(): String =
    Files.createTempDirectory("graft-evlog").toString + "/events"

  private val cutoff = t(10) // retention: keep ts >= Jan 10

  test("first cycle bootstraps v1; expired batch rows never enter the log") {
    val root = newRoot()
    val b = batch(1 to 80, day = 15).unionByName(batch(81 to 100, day = 5)) // 20 too old
    val r = EventLogMaintenance.runCycle(spark, root, b, cutoff)
    assert(r.version == 1L && r.appended == 80L && r.retained == 80L && r.expired == 20L)
    val log = EventLogMaintenance.read(spark, root).get
    assert(log.count() == 80L)
    assert(log.filter(col("ts") < lit(cutoff)).count() == 0L)
    assert(log.columns.toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value", "props")) // no helper cols
  }

  test("replaying the same batch is exactly-once: second commit admits zero") {
    val root = newRoot()
    val b = batch(1 to 50, day = 15)
    val r1 = EventLogMaintenance.runCycle(spark, root, b, cutoff)
    val r2 = EventLogMaintenance.runCycle(spark, root, b, cutoff) // crash-after-commit rerun
    assert(r1.appended == 50L && r2.appended == 0L)
    assert(r2.version == 2L && r2.retained == 50L)
    assert(EventLogMaintenance.read(spark, root).get
      .select("event_id").distinct().count() == 50L)
  }

  test("retention expires old committed rows on the next cycle") {
    val root = newRoot()
    EventLogMaintenance.runCycle(spark, root, batch(1 to 30, day = 15), t(1))
    // tighter cutoff on cycle 2: the 30 committed rows (day 15) survive a
    // day-10 cutoff, but a day-16 cutoff expires them all
    val r = EventLogMaintenance.runCycle(spark, root, batch(31 to 40, day = 20), t(16))
    assert(r.expired == 30L && r.retained == 10L)
    assert(EventLogMaintenance.read(spark, root).get
      .select("event_id").as[Long].collect().toSet == (31L to 40L).toSet)
  }

  test("crash window A — stale staging dir from a dead attempt is reclaimed") {
    val root = newRoot()
    EventLogMaintenance.runCycle(spark, root, batch(1 to 20, day = 15), cutoff)
    // simulate a crashed attempt: a half-written staging directory
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(root, "_staging_v2"))
    f.create(new Path(root, "_staging_v2/part-garbage.parquet"), true).close()
    val r = EventLogMaintenance.runCycle(spark, root, batch(21 to 25, day = 15), cutoff)
    assert(r.version == 2L && r.retained == 25L)
    assert(!f.exists(new Path(root, "_staging_v2")) || f.exists(new Path(root, "v=2")))
  }

  test("crash window B — version renamed but pointer not flipped: replay completes the commit") {
    val root = newRoot()
    EventLogMaintenance.runCycle(spark, root, batch(1 to 20, day = 15), cutoff)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // run cycle 2 fully, then roll the POINTER back to v1 — byte-identical
    // to dying between the version rename and the pointer flip
    EventLogMaintenance.runCycle(spark, root, batch(21 to 30, day = 15), cutoff)
    val out = f.create(new Path(root, "_current"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    assert(EventLogMaintenance.currentVersion(spark, root) == 1L)
    // the replayed cycle finds v=2 already present, keeps it, flips the pointer
    val r = EventLogMaintenance.runCycle(spark, root, batch(21 to 30, day = 15), cutoff)
    assert(r.version == 2L && EventLogMaintenance.currentVersion(spark, root) == 2L)
    assert(EventLogMaintenance.read(spark, root).get.count() == 30L)
  }

  test("crash window C — pointer file missing entirely: recovery resumes from max version") {
    val root = newRoot()
    EventLogMaintenance.runCycle(spark, root, batch(1 to 20, day = 15), cutoff)
    EventLogMaintenance.runCycle(spark, root, batch(21 to 30, day = 15), cutoff)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(root, "_current"), false) // the delete/rename gap
    assert(EventLogMaintenance.currentVersion(spark, root) == 2L)
    assert(EventLogMaintenance.read(spark, root).get.count() == 30L)
  }

  test("vacuum keeps the trailing versions, never the committed one") {
    val root = newRoot()
    (1 to 4).foreach(i =>
      EventLogMaintenance.runCycle(spark, root, batch(i * 10 to i * 10 + 5, day = 15), cutoff))
    val dropped = EventLogMaintenance.vacuum(spark, root, keepVersions = 2)
    assert(dropped == Seq(1L, 2L))
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(root, "v=1")) && f.exists(new Path(root, "v=3")))
    assert(EventLogMaintenance.read(spark, root).get.count() > 0)
  }

  test("a stray v=tmp directory is skipped by vacuum and by missing-pointer recovery") {
    val root = newRoot()
    (1 to 3).foreach(i =>
      EventLogMaintenance.runCycle(spark, root, batch(i * 10 to i * 10 + 5, day = 15), cutoff))
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new Path(root, "v=tmp")
    f.mkdirs(stray)
    f.create(new Path(stray, "part-operator-copy.parquet"), true).close()
    assert(EventLogMaintenance.vacuum(spark, root, keepVersions = 2) == Seq(1L))
    f.delete(new Path(root, "_current"), false)
    assert(EventLogMaintenance.currentVersion(spark, root) == 3L)
    assert(EventLogMaintenance.read(spark, root).get.count() == 18L)
    assert(f.exists(new Path(stray, "part-operator-copy.parquet")))
  }

  test("committed layout: single compacted file at test scale, z-clustered rows") {
    val root = newRoot()
    val r = EventLogMaintenance.runCycle(spark, root,
      batch(1 to 1000, day = 15), cutoff, targetBytes = 64L * 1024 * 1024)
    assert(r.files == 1) // tiny log → one file
    // a per-user read decodes without error from the committed snapshot
    val one = EventLogMaintenance.read(spark, root).get
      .filter(col("user_id") === 3L)
    assert(one.count() == (1 to 1000).count(_ % 7 == 3))
  }

  test("maintenance composes with the real events fixture end-to-end") {
    val root = newRoot()
    val events = graft.model.Tables.events(spark, sf)
    val minTs = events.agg(min(col("ts"))).head().getTimestamp(0)
    val r = EventLogMaintenance.runCycle(spark, root, events, minTs)
    assert(r.retained == events.count() && r.expired == 0L)
    val rows = EventLogMaintenance.read(spark, root).get
    assert(rows.schema == events.schema)
  }
}
