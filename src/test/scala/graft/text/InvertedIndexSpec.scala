package graft.text

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions.{col, lit, pmod}

class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("join", "merge", "window")

  private def staged[A](f: (String, String) => A): A = {
    val stage = java.nio.file.Files
      .createTempDirectory("graft-invidx-spec").toFile.getAbsolutePath
    val table = "graft_spec_inverted_index"
    try f(table, stage)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      new scala.reflect.io.Directory(new java.io.File(stage)).deleteRecursively()
      ()
    }
  }

  test("probe equals the recompute form row-for-row; plan prunes buckets and never scans text") {
    val docs = Tables.documents(spark, sf)
    staged { (table, stage) =>
      InvertedIndex.build(docs, table, stage)
      val probe = InvertedIndex.probe(spark, table, stage, terms)
      val got = probe.as[(Long, Long, Double)].collect().toSeq
      val want = TextAnalysis.bm25TopK(docs, terms)
        .as[(Long, Long, Double)].collect().toSeq
      assert(got == want, s"index probe diverged:\n$got\nvs\n$want")
      val plan = InvertedIndex.probe(spark, table, stage, terms)
        .queryExecution.executedPlan.toString
      // the postings scan is bucket-pruned to the query terms' buckets...
      assert(plan.contains("SelectedBucketsCount"),
        s"probe scan is not bucket-pruned:\n$plan")
      // ...and the corpus parquet is never touched at serve time
      assert(!plan.contains("documents.parquet"),
        s"probe re-read the corpus:\n$plan")
    }
  }

  test("admit appends only genuinely-new docs, rolls exact stats, and equals a full rebuild") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    staged { (table, stage) =>
      InvertedIndex.build(corpus, table, stage)
      assert(InvertedIndex.admit(spark, batch, table, stage) ==
        batch.count())
      // replay: zero admitted, no double postings
      assert(InvertedIndex.admit(spark, batch, table, stage) == 0L)
      val probe = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      // the admitted index answers exactly like an index built from
      // everything at once (stats are exact integers, so no drift)
      staged { (table2, stage2) =>
        InvertedIndex.build(docs, table2, stage2)
        val full = InvertedIndex.probe(spark, table2, stage2, terms)
          .as[(Long, Long, Double)].collect().toSeq
        assert(probe == full, s"admitted diverged from rebuilt:\n$probe\nvs\n$full")
      }
    }
  }

  test("stats readers ignore versions without a _SUCCESS marker (crashed admission is invisible)") {
    val docs = Tables.documents(spark, sf)
    staged { (table, stage) =>
      InvertedIndex.build(docs, table, stage)
      val before = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      // simulate a torn admission: a higher stats version with data files
      // but no _SUCCESS commit marker
      val torn = new java.io.File(s"$stage/stats/v=99")
      assert(torn.mkdirs())
      java.nio.file.Files.write(torn.toPath.resolve("part-00000.parquet"),
        Array[Byte](1, 2, 3))
      val after = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      assert(after == before, "probe read a torn stats version")
    }
  }

  test("each stats commit retires all but the last two complete versions; a torn one stays") {
    val docs = Tables.documents(spark, sf)
    def part(r: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === r)
    staged { (table, stage) =>
      InvertedIndex.build(part(0), table, stage)
      assert(new java.io.File(s"$stage/stats/v=99").mkdirs())
      (1 to 3).foreach(r => assert(InvertedIndex.admit(spark, part(r), table, stage) > 0L))
      val left = new java.io.File(s"$stage/stats").list()
        .filter(_.startsWith("v=")).sorted.toSeq
      assert(left == Seq("v=3", "v=4", "v=99"), s"stats versions left: $left")
      val probe = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      staged { (table2, stage2) =>
        InvertedIndex.build(docs, table2, stage2)
        val full = InvertedIndex.probe(spark, table2, stage2, terms)
          .as[(Long, Long, Double)].collect().toSeq
        assert(probe == full, s"admitted diverged from rebuilt:\n$probe\nvs\n$full")
      }
    }
  }

  test("compact: probe-identical, one file per bucket, pruning survives, admits stay flat") {
    val docs = Tables.documents(spark, sf)
    staged { (table, stage) =>
      // accrete the index the way streaming maintenance does: an empty
      // seed plus one admission per chunk — each admission appends its
      // own set of per-bucket files (the small-file accumulation)
      InvertedIndex.build(docs.limit(0), table, stage)
      (0 until 4).foreach(i =>
        InvertedIndex.admit(spark,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), table, stage))
      val before = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      val (nBefore, nAfter) = InvertedIndex.compact(spark, table, stage)
      // the rewrite shrank the file count to exactly one sorted run per
      // non-empty bucket (≤ the bucket count)
      assert(nAfter < nBefore, s"compact did not shrink: $nBefore -> $nAfter")
      assert(nAfter <= 32, s"more than one file per bucket after compact: $nAfter")
      // compaction must not change one score
      val after = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      assert(after == before, s"compact changed probe results:\n$after\nvs\n$before")
      // bucket pruning survives the catalog flip
      val plan = InvertedIndex.probe(spark, table, stage, terms)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"compacted probe is not bucket-pruned:\n$plan")
      // admit keeps working against the compacted table (cost stays
      // ∝ batch across compaction cycles: replay admits nothing, a
      // second compact cycle converges to the same bounded file count)
      assert(InvertedIndex.admit(spark, docs, table, stage) == 0L,
        "replay after compact re-admitted")
      val (_, nAfter2) = InvertedIndex.compact(spark, table, stage)
      assert(nAfter2 <= nAfter, s"second compact cycle grew files: $nAfter2")
      val cycled = InvertedIndex.probe(spark, table, stage, terms)
        .as[(Long, Long, Double)].collect().toSeq
      assert(cycled == before, "admit+compact cycle changed probe results")
    }
  }

  test("bucket pruning holds at accreted file counts: probe reads only the query buckets' files") {
    // VERDICT r15 #1, spec form: the x100 artifact proves pruning on the
    // real corpus (BENCH_SF100_r16 selected_files); this pins the same
    // property on the EXECUTED plan under admission accretion — many
    // files per bucket, the state a long-lived index actually serves
    // from — so a layout regression (e.g. a write path losing the
    // name-encoded bucket id) fails here, not at the next campaign.
    val docs = Tables.documents(spark, sf)
    staged { (table, stage) =>
      InvertedIndex.build(docs.limit(0), table, stage)
      (0 until 4).foreach(i =>
        InvertedIndex.admit(spark,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), table, stage))
      val totalFiles = InvertedIndex.postingsFileCount(spark, table)
      val probe = InvertedIndex.probe(spark, table, stage, terms)
      probe.collect() // metrics live on the materialized plan
      val s = graft.ScanProfile.perTable(probe)
        .collectFirst { case (k, v) if k.endsWith("/postings") => v }.get
      assert(s.totalBuckets.contains(32L))
      val selB = s.selectedBuckets.get
      assert(selB >= 1 && selB <= terms.size, s"selected $selB buckets")
      // the physical read set is (selected buckets x accreted files per
      // bucket), NOT the table's file count: pruning holds under accretion
      val selF = s.selectedFiles.get
      assert(selF <= selB * 4, s"probe read $selF files for $selB buckets")
      assert(selF < totalFiles,
        s"probe read all $totalFiles files -- pruning did not fire")
    }
  }

  test("positional tier: phrase probe equals the recompute form and prunes buckets") {
    val docs = Tables.documents(spark, sf)
    val phrase = Seq("merge", "window")
    staged { (table, stage) =>
      InvertedIndex.buildPositional(docs, table, stage)
      val got = InvertedIndex.probePhrase(spark, table, phrase)
        .as[(Long, Long)].collect().toSeq
      val want = TextAnalysis.phraseSearch(docs, phrase)
        .as[(Long, Long)].collect().toSeq
      assert(got == want, s"indexed phrase diverged:\n$got\nvs\n$want")
      val plan = InvertedIndex.probePhrase(spark, table, phrase)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"phrase probe is not bucket-pruned:\n$plan")
      assert(!plan.contains("documents.parquet"),
        s"phrase probe re-read the corpus:\n$plan")
    }
  }
}
