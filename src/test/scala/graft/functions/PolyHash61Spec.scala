package graft.functions

import graft.SparkSpec
import graft.dedup.{Dedup, MinHashReference}
import graft.model.Tables
import org.apache.spark.sql.functions._

class PolyHash61Spec extends SparkSpec {
  import spark.implicits._

  test("mulMod/affine/hash agree with BigInt reference arithmetic") {
    val p = BigInt(PolyHash61.Mod)
    val samples = Seq(0L, 1L, 131L, PolyHash61.Mod - 1,
      0x1234567890ABCDEFL & PolyHash61.Mod, (1L << 60) + 12345L)
    for (a <- samples; b <- samples) {
      val want = (BigInt(a) * BigInt(b) mod p).toLong
      assert(PolyHash61.mulMod(a, b) == want, s"mulMod($a, $b)")
      val wantAff = ((BigInt(a) * BigInt(b) + 7) mod p).toLong
      assert(PolyHash61.affine(a, b, 7L) == wantAff, s"affine($a, $b, 7)")
    }
    // hash: the polynomial fold, checked against a direct BigInt fold
    for (s <- Seq("", "a", "join merge window", "世界",
                  new String(Character.toChars(0x1F600)))) {
      var acc = BigInt(0)
      s.codePoints().toArray.foreach(cp => acc = (acc * 131 + cp) mod p)
      assert(PolyHash61.hash(s) == acc.toLong, s"hash(${s.length}-char)")
    }
  }

  /** Append 3 crafted codepoints so the 31-bit polynomial hash of
    * `base + suffix` equals that of `base` — the deterministic collision
    * construction from the PolyHash class doc (any two strings equal mod
    * the polynomial): solve 131²a + 131b + c ≡ (1 − 131³)·h31(base)
    * (mod 2³¹−1) by base-131/17161 digit extraction. Retries with a salt
    * until every digit is a case-stable non-whitespace valid codepoint
    * (the Dedup pipeline lowercases and tokenizes on whitespace). */
  private def plantCollision(seed: String): (String, String) = {
    val p = PolyHash.Mod
    def ok(cp: Int): Boolean =
      cp >= 33 && Character.isValidCodePoint(cp) &&
        !(cp >= 0xD800 && cp <= 0xDFFF) &&
        Character.toLowerCase(cp) == cp && !Character.isWhitespace(cp)
    Iterator.from(0).map { salt =>
      val base = seed + ("z" * (salt % 7)) + salt.toString
      val h = PolyHash.hash(base)
      val t = ((BigInt(1) - BigInt(131).pow(3)) * h).mod(BigInt(p)).toLong
      val (a, b, c) = ((t / 17161L).toInt, ((t % 17161L) / 131L).toInt,
        (t % 131L).toInt)
      (base, a, b, c)
    }.collectFirst { case (base, a, b, c) if ok(a) && ok(b) && ok(c) =>
      val suffix = new String(Character.toChars(a)) +
        new String(Character.toChars(b)) + new String(Character.toChars(c))
      (base, base + suffix)
    }.get
  }

  test("planted 31-bit collision: spurious candidate under p31, none under p61") {
    // plant on the FULL shingle string (the polynomial is not
    // prefix-invariant): each doc is exactly 3 tokens, so its single
    // 3-shingle IS its (lowercased) text
    val (s, t) = plantCollision("x y collide-me")
    assert(s != t)
    assert(PolyHash.hash(s) == PolyHash.hash(t), "construction broke")
    assert(PolyHash61.hash(s) != PolyHash61.hash(t),
      "61-bit hash also collided (astronomically unlikely — check mulMod)")
    // two 3-token docs whose single shingle is the colliding string pair:
    // identical 31-bit signatures (every permutation is an affine map of
    // the SAME base value) → a spurious LSH candidate; the wide family
    // separates them
    val docs = Seq((1L, s), (2L, t)).toDF("doc_id", "text")
    // the collision must survive the pipeline's lowercase+tokenize
    val rows = Dedup.shingleRows(docs, 3)
    val narrow = Dedup.lshCandidates(
      MinHashReference.minhashSignaturesFromRows(rows, wide = false))
    val wide = Dedup.lshCandidates(
      MinHashReference.minhashSignaturesFromRows(rows, wide = true))
    assert(narrow.count() == 1L,
      "the planted base-hash collision did not produce a 31-bit candidate")
    assert(wide.count() == 0L,
      "the wide family still produced the spurious candidate")
    // either way the VERIFIED pair set is identical (Jaccard filters it)
    assert(Dedup.minhashNearDups(docs).count() == 0L)
    assert(Dedup.minhashNearDups(docs, wide = true).count() == 0L)
  }

  test("A/B on the fixture corpus: identical verified pair sets, candidate parity recorded") {
    val docs = Tables.documents(spark, sf)
    val narrow = Dedup.minhashNearDups(docs)
      .as[(Long, Long, Double)].collect().toSet
    val wide = Dedup.minhashNearDups(docs, wide = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(narrow == wide,
      s"widening changed the verified pair set: ${narrow.diff(wide)} / ${wide.diff(narrow)}")
    // candidate-tier A/B: at fixture scale the corpus has no natural
    // 31-bit birthday collisions, so the counts COINCIDE — the drop shows
    // on the planted-collision test above; record both counts anyway so a
    // future fixture change that introduces collisions surfaces here
    val rows = Dedup.shingleRows(docs, 3)
    val nNarrow = Dedup.lshCandidates(
      MinHashReference.minhashSignaturesFromRows(rows, wide = false)).count()
    val nWide = Dedup.lshCandidates(
      MinHashReference.minhashSignaturesFromRows(rows, wide = true)).count()
    assert(nWide <= nNarrow, s"widening GREW the candidate tier: $nNarrow -> $nWide")
    info(s"candidates: narrow=$nNarrow wide=$nWide (verified=${narrow.size} both)")
  }
}
