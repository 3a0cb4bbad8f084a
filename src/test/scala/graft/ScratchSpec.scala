package graft

import org.apache.spark.sql.functions._

class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private val table = "graft_scratch_spec_t"
  private def tmpdir: String =
    new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath

  test("a failing body loses its dir and tables and rethrows the same exception") {
    val boom = new IllegalStateException("boom")
    var seen = ""
    val thrown = intercept[IllegalStateException] {
      Scratch.dir("graft-scratch-spec", table) { stage =>
        seen = stage
        Seq(1, 2, 3).toDF("x").write.option("path", s"$stage/t").saveAsTable(table)
        assert(spark.catalog.tableExists(table))
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(new java.io.File(seen).getParentFile.getCanonicalPath == tmpdir)
    assert(!new java.io.File(seen).exists())
    assert(!spark.catalog.tableExists(table))
  }

  test("a succeeding body returns its value and still drops dir and tables") {
    var seen = ""
    val n = Scratch.dir("graft-scratch-spec", table) { stage =>
      seen = stage
      Seq(1, 2, 3).toDF("x").write.option("path", s"$stage/t").saveAsTable(table)
      spark.table(table).count()
    }
    assert(n == 3L)
    assert(!new java.io.File(seen).exists())
    assert(!spark.catalog.tableExists(table))
  }

  test("the pinned form returns a frame still readable after its dir is deleted") {
    var seen = ""
    val out = Scratch.pinned("graft-scratch-spec") { stage =>
      seen = stage
      spark.range(100).write.parquet(s"$stage/p")
      spark.read.parquet(s"$stage/p").filter(col("id") % 2 === 0)
    }
    assert(!new java.io.File(seen).exists())
    assert(out.count() == 50L)
    assert(out.agg(sum("id")).head().getLong(0) == (0L until 100L by 2).sum)
  }
}
