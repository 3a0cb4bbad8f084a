package graft.dedup

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf).cache()

  test("exactDedup: identical normalized text collapses, distinct text survives") {
    val d = Seq(
      (1L, "hello  world"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val got = Dedup.exactDedup(d).as[(String, Long, Long)].collect()
    assert(got.length == 2)
    assert(got.find(_._2 == 1L).get._3 == 2L) // docs 1+2 merged, min id kept
  }

  test("ngramJaccardPairs finds the planted near-duplicates") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
    assert(pairs.count() > 0)
  }

  test("stop-shingle df cap: hot keys are excluded from the pair tiers and reported") {
    // 60 documents that share ONLY a planted boilerplate footer ("subscribe
    // to our newsletter today" — every real corpus has one); each doc's own
    // body is unique. Without the cap the footer's shingles join all 60 docs
    // pairwise (≈1.7k pair rows from pure boilerplate); with maxDocFreq
    // below 60 the footer is a stop-shingle and no pair survives.
    val footer = "subscribe to our newsletter today"
    val d = (1 to 60).map { i =>
      (i.toLong, s"unique body $i about topic$i entirely distinct$i $footer")
    }.toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.1, maxDocFreq = 50).count() == 0)
    assert(Dedup.containmentPairs(d, threshold = 0.1, maxDocFreq = 50).count() == 0)
    // the truncation is visible: the footer's shingles are counted as hot
    val rep = Dedup.hotShingleReport(d, maxDocFreq = 50)
      .as[(Long, Long, Long, Double)].head()
    assert(rep._2 > 0 && rep._3 >= 60L && rep._4 > 0.0,
      s"hot shingles unreported: $rep")
    // and with the cap above the planted df, the boilerplate pairs return
    // (semantics are the documented df <= cap universe, not a silent drop)
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.1, maxDocFreq = 100).count() > 0)
    // the default cap leaves the real fixture corpus untouched (max df 7
    // at this sf): capped and effectively-uncapped runs agree exactly
    val capped = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect().toSeq
    val uncapped = Dedup.ngramJaccardPairs(docs, threshold = 0.5,
      maxDocFreq = Int.MaxValue).collect().toSeq
    assert(capped == uncapped)
  }

  test("minhash LSH recall: catches every pair with jaccard >= 0.9") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("minhashNearDups jaccard values equal the exact computation") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toMap2
    val viaLsh = Dedup.minhashNearDups(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toMap2
    viaLsh.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"pair $pair: lsh=$j exact=${exact.get(pair)}")
    }
  }

  test("containment scores a quoted subset 1.0 where jaccard stays low") {
    val quoted = "alpha beta gamma delta epsilon zeta"
    val host = quoted + " " + (1 to 60).map(i => s"filler$i word$i").mkString(" ")
    val d = Seq((1L, quoted), (2L, host)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    // every shingle of doc 1 appears in doc 2 → containment(1→2) = 1.0
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 })
    // but NOT the reverse direction — the host is mostly its own text
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L })
    // and symmetric jaccard misses the pair entirely at the same bar
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.5).count() == 0)
  }

  test("incrementalDedup classifies batch docs as dup_corpus / dup_batch / new") {
    // batch = doc_id % 7 == 0 → {7, 14, 21, 28}; corpus = {1, 5}
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (5L, "the quick brown fox jumps over the lazy dog"),
      (7L, "some totally unique batch content here first"),
      (14L, "some totally unique batch content here first"),
      (21L, "the quick brown fox jumps over the lazy dog"),
      (28L, "nothing like anything else in this corpus at all")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(d)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq(
      (7L, "new", None), // unique at arrival time: later twin doesn't count
      (14L, "dup_batch", Some(7L)), // exact twin of the earlier batch doc
      (21L, "dup_corpus", Some(5L)), // already in the standing corpus
      (28L, "new", None)))
  }

  test("bloom-prefilter contamination report is bit-identical to the exact one") {
    val exact = Dedup.contaminationReport(docs).collect()
    val bloom = Dedup.contaminationReportBloom(docs).collect()
    assert(exact.nonEmpty)
    assert(bloom.toSeq == exact.toSeq)
    // and the verify join earns its keep: a degenerate 64-bit filter is
    // saturated with false positives, yet the output must stay exact
    val tiny = Dedup.contaminationReportBloom(docs, numBits = 64).collect()
    assert(tiny.toSeq == exact.toSeq)
  }

  implicit class PairMap(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map { case (a, b, j) => (a, b) -> j }.toMap
  }

  test("empty documents have no shingles in either form and never pair") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "real text here okay then")).toDF("doc_id", "text")
    val hof = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(hof(1L).isEmpty && hof(2L).isEmpty && hof(3L).nonEmpty)
    assert(Dedup.shingleRows(d).filter(col("doc_id") =!= 3L).count() == 0)
    // two empty docs must NOT surface as a jaccard-1.0 pair
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.1).count() == 0)
  }

  test("shingleRows builds a repeated doc_id's shingles per row, never across rows") {
    val d = Seq((1L, "a b c"), (1L, "x y z")).toDF("doc_id", "text")
    val got = Dedup.shingleRows(d).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a b c"), (1L, "x y z")))
    // a row shorter than k keeps its truncated shingle, whatever row follows
    val short = Seq((2L, "p q"), (2L, "r s t u")).toDF("doc_id", "text")
    assert(Dedup.shingleRows(short).as[(Long, String)].collect().toSet ==
      Set((2L, "p q"), (2L, "r s t"), (2L, "s t u")))
  }

  test("shingleRows and ShingleIndex.tier shuffle once, on doc_id alone") {
    // the window's doc_id exchange must also serve the distinct and the
    // tier's per-doc count: a per-row shuffle key costs one more exchange
    // for shingleRows and two more for the tier
    import org.apache.spark.sql.execution.FormattedMode
    for ((name, df) <- Seq("shingleRows" -> Dedup.shingleRows(docs),
                           "tier" -> ShingleIndex.tier(docs))) {
      val p = df.queryExecution.explainString(FormattedMode)
      val ids = """\((\d+)\) Exchange""".r.findAllMatchIn(p).map(_.group(1)).toSet
      assert(ids.size == 1, s"$name: ${ids.size} shuffles:\n$p")
      assert(p.contains("hashpartitioning(doc_id#"), s"$name:\n$p")
    }
  }

  test("lshCandidates bands follow the signature width, not a hardcoded 64") {
    val sigs = Dedup.minhashSignatures(docs, numPerm = 32)
    // numPerm=32 with 16 bands -> r=2; must not slice past the signature end
    assert(Dedup.lshCandidates(sigs, bands = 16, numPerm = 32).count() > 0)
    intercept[IllegalArgumentException] {
      Dedup.lshCandidates(sigs, bands = 6, numPerm = 32)
    }
  }

  test("aggregate-form simhashes equals the column-expression simhash") {
    val viaAgg = Dedup.simhashes(docs).as[(Long, Long)].collect().toMap
    val viaExpr = docs.select(col("doc_id"), Dedup.simhash(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg == viaExpr)
  }

  test("winnowNearDups finds the planted near-duplicates") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val winnow = Dedup.winnowNearDups(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(winnow).size.toDouble / exact.size
    assert(recall >= 0.9, s"winnow recall $recall over ${exact.size} true pairs")
  }

  test("simhash: deterministic, zero hamming for identical text") {
    val d = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val sh = Dedup.simhashes(d).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("simhashNearDups surfaces the planted near-duplicates at small hamming") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashNearDups(docs, maxHamming = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(sim).size.toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall over ${exact.size} true pairs")
  }

  test("simhash band-frequency cap drops saturated bands without losing tight pairs") {
    // exact duplicates: hamming 0, all four bands shared (deterministic).
    // Every band value here has df = 2, so cap = 1 drops all shared bands
    // and must kill the pair; the default cap must keep it.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, "something else entirely here"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashNearDups(d, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 0L)))
    assert(Dedup.simhashNearDups(d, maxHamming = 0, maxBandFreq = 1).count() == 0)
  }

  test("duplicateSpanStats: planted shared run becomes one exact span") {
    // docs 1 and 2 share an exact 8-token run; doc 3 is clean filler; the
    // shared run must surface as ONE span of exactly 8 tokens in each doc
    // (coverage of the four 5-gram positions 2..5 merged, clamped to the
    // run), and the clean doc must zero-fill.
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta"),
      (2L, s"one two three four $shared five six"),
      (3L, "totally unrelated clean text with enough tokens here"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(d)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 8L, 14L, 0.5714)))
    assert(out(2L) == ((2L, 1L, 8L, 14L, 0.5714)))
    assert(out(3L) == ((3L, 0L, 0L, 8L, 0.0)))
  }

  test("duplicateSpanStats: within-doc repetition counts and islands merge at gap <= k") {
    // one doc repeats the same 5-gram twice with a 1-token gap between the
    // two occurrences (positions 0 and 6): intervals [0,4] and [6,10] have
    // gap 6 - 0 = 6 > 5 -> two spans; with the occurrences adjacent
    // (positions 0 and 5) they merge into one span
    val run = (1 to 5).map(i => s"r$i").mkString(" ")
    val twoSpans = Seq((1L, s"$run filler $run")).toDF("doc_id", "text")
    val merged = Seq((1L, s"$run $run")).toDF("doc_id", "text")
    val a = Dedup.duplicateSpanStats(twoSpans)
      .as[(Long, Long, Long, Long, Double)].head()
    val b = Dedup.duplicateSpanStats(merged)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(a == ((1L, 2L, 10L, 11L, 0.9091)), s"got $a")
    assert(b == ((1L, 1L, 10L, 10L, 1.0)), s"got $b")
  }

  test("trimDuplicateSpans cuts covered tokens and md5-pins the rebuilt stream") {
    // docs 1/2 share an 8-token run (trim for both: 8/14 < 0.8 removed);
    // docs 4/5 are exact duplicates (coverage 1.0 -> drop); doc 3 is clean
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val clone = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta"),
      (2L, s"one two three four $shared five six"),
      (3L, "totally unrelated clean text with enough tokens here"),
      (4L, clone), (5L, clone))
      .toDF("doc_id", "text")
    val out = Dedup.trimDuplicateSpans(d)
      .as[(Long, String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L) == ((1L, "trim", 6L, 14L,
      md5Of("alpha beta gamma delta epsilon zeta"))))
    assert(out(2L) == ((2L, "trim", 6L, 14L,
      md5Of("one two three four five six"))))
    assert(out(3L)._2 == "keep" && out(3L)._3 == 8L)
    assert(out(4L) == ((4L, "drop", 0L, 10L, md5Of(""))))
    assert(out(5L) == ((5L, "drop", 0L, 10L, md5Of(""))))
  }

  test("crossSourceOverlap attributes near-dup pairs to ordered source pairs") {
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$run tail1", "mirror"),
      (2L, s"$run tail2", "crawl"),
      (3L, "entirely different text with its own tokens", "crawl"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceOverlap(d)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("crawl", "mirror", 1L, 1.0)), s"got $got")
  }

  test("editDistancePairs: prefix-blocked typo pairs in, prefix-divergent and far pairs out") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "the quick brown fox jumps over the dgo"),   // 2 edits (swap)
      (3L, "the quick brown cat sits under a tree now"),// same prefix, far
      (4L, "quick brown fox jumps over the dog"),       // prefix-divergent
      (5L, "the quick brown fox jumps over the dog"))   // exact dup of 1
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(d)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2L, 2), (1L, 5L, 0), (2L, 5L, 2)), s"got $got")
    // the hot-prefix cap drops boilerplate buckets entirely
    val boiler = (1L to 6L).map(i => (i, s"same prefix here doc$i"))
      .toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(boiler, maxBucket = 5).count() == 0L)
  }

  test("noveltyReport: first doc fully novel, exact copy fully stale, mixed doc scored") {
    // doc 1: 4 tokens -> 2 distinct 3-shingles, all first-seen. doc 2:
    // exact copy -> novelty 0. doc 3: shares doc 1's first shingle plus a
    // fresh tail: shingles "a b c" (seen), "b c x" (new), "c x y" (new)
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x y"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyReport(d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 1.0), (2L, 2L, 2L, 0.0), (3L, 3L, 1L, 0.6667)),
      s"got $got")
  }

  test("boilerplateRemoval: cross-doc template lines cut, unique lines kept, reconstruction exact") {
    // 5 docs: every doc carries the same footer line; each has a unique
    // body line; doc 5 is ONLY the footer (must survive as an empty doc).
    val footer = "subscribe to our newsletter"
    val lines = Seq(
      (1L, 0L, "unique body one"), (1L, 1L, footer),
      (2L, 0L, "unique body two"), (2L, 1L, footer),
      (3L, 0L, "unique body three"), (3L, 1L, footer),
      (4L, 0L, "unique body four"), (4L, 1L, footer),
      (5L, 0L, footer)
    ).toDF("doc_id", "line_no", "line")
    val got = Dedup.boilerplateRemoval(lines, maxLineDocFreq = 5)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)) == Seq(
      (1L, 2L, 1L, 1L), (2L, 2L, 1L, 1L), (3L, 2L, 1L, 1L),
      (4L, 2L, 1L, 1L), (5L, 1L, 0L, 1L)), s"got $got")
    // exact reconstruction: doc 1's clean text is just its body line
    val expFp = java.security.MessageDigest.getInstance("MD5")
      .digest("unique body one".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert(got.head._5 == expFp, s"clean_fp ${got.head._5} != $expFp")
    // the all-boilerplate doc reconstructs to the empty string
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString.take(16)
    assert(got.last._5 == emptyFp)
    // below the df threshold nothing is dropped
    val none = Dedup.boilerplateRemoval(lines, maxLineDocFreq = 6)
    assert(none.agg(sum(col("n_dropped"))).head().getLong(0) == 0L)
    // line-tier derivation: 10-token pseudo-lines reassemble order-exactly
    val doc = Seq((7L, (1 to 23).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val derived = graft.text.TextAnalysis.linesFromTokens(doc)
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._2)
    assert(derived.map(_._3) == Seq(
      (1 to 10).map("t" + _).mkString(" "),
      (11 to 20).map("t" + _).mkString(" "),
      (21 to 23).map("t" + _).mkString(" ")), s"got $derived")
  }

  test("boilerplateRemoval: broadcast and shuffled anti-join branches agree row-for-row") {
    // the drop-set smallness guard (r10 verdict What's-wrong #3): force
    // the fallback branch via the shared fixpoint budget switch and prove
    // it computes the identical result
    val footer = "subscribe to our newsletter"
    val lines = (1L to 6L).flatMap(d => Seq(
      (d, 0L, s"unique body $d"), (d, 1L, footer)))
      .toDF("doc_id", "line_no", "line")
    val bcast = Dedup.boilerplateRemoval(lines, maxLineDocFreq = 5)
    val shuffled = try {
      spark.conf.set(graft.graph.Fixpoint.ConfKey, "0")
      Dedup.boilerplateRemoval(lines, maxLineDocFreq = 5)
    } finally spark.conf.unset(graft.graph.Fixpoint.ConfKey)
    assert(bcast.exceptAll(shuffled).isEmpty &&
      shuffled.exceptAll(bcast).isEmpty,
      "broadcast and shuffled drop branches diverged")
    assert(shuffled.agg(sum(col("n_dropped"))).head().getLong(0) == 6L)
  }
}
