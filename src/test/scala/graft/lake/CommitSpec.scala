package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The commit-file protocol every standing tier reads and writes through:
  * absent files read as None, pointers round-trip, and version listing
  * skips every child that is not exactly `v=<digits>` fitting in a Long. */
class CommitSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-commit").toString

  test("read: an absent file is None, a body comes back trimmed") {
    val dir = freshDir()
    val p = new Path(dir, "_ledger")
    assert(Commit.read(spark, p).isEmpty)
    Commit.atomicWrite(spark, p, "  42\n\n")
    assert(Commit.read(spark, p).contains("42"))
    assert(Commit.read(spark, new Path(dir, "missing/_current")).isEmpty)
  }

  test("pointer/flip round-trip; an unflipped root has no pointer") {
    val root = s"${freshDir()}/tier"
    assert(Commit.pointer(spark, root).isEmpty)
    Commit.flip(spark, root, 7L)
    assert(Commit.pointer(spark, root).contains(7L))
    Commit.flip(spark, root, 8L) // overwrite, no delete-then-rename gap
    assert(Commit.pointer(spark, root).contains(8L))
  }

  test("versions: ascending, skips stray names, overflow, plain files and incomplete versions") {
    val dir = freshDir()
    val f = Commit.fs(spark, new Path(dir))
    Seq("v=10", "v=2", "v=3", "v=tmp", "v=1.bak", "v=99999999999999999999",
      "v=", "part_v=4", "w=5").foreach(n => f.mkdirs(new Path(dir, n)))
    Commit.atomicWrite(spark, new Path(dir, "v=4"), "a manifest file") // listed
    Commit.atomicWrite(spark, new Path(dir, "v=3.counts"), "d\t1")
    Commit.flip(spark, dir, 10L)
    f.create(new Path(dir, "notes.txt"), true).close()
    assert(Commit.versions(spark, dir) == Seq(2L, 3L, 4L, 10L))
    assert(Commit.versions(spark, dir, _ != 3L) == Seq(2L, 4L, 10L))
    assert(Commit.versions(spark, s"$dir/absent").isEmpty)
    assert(Commit.versionOf("v=9223372036854775807").contains(Long.MaxValue))
    assert(Commit.versionOf("v=9223372036854775808").isEmpty)
  }
}
