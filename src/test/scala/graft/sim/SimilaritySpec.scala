package graft.sim

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity and orthogonality") {
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val sims = d.as("a").join(d.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(sims((1L, 2L)) == 1.0)
    assert(sims((1L, 3L)) == 0.0)
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val got = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), Seq(0L, 1L), k = 5)
    val byQuery = got.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery == Map(0L -> 5L, 1L -> 5L))
    // ranks are contiguous and scores non-increasing within each query
    val rows = got.select("query_id", "rnk", "cos_sim").as[(Long, Long, Double)]
      .collect().groupBy(_._1)
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L))
      assert(sorted.sliding(2).forall { case Array(x, y) => x._3 >= y._3; case _ => true })
    }
  }

  /** Two identical vectors, a third, and a zero (id 4) and an empty (id 5)
    * vector: the zero-norm rows divide by zero under a bare cosine. */
  private def withZeroNorm = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(1f, 0f, 0f), 3L -> Array(0.6f, 0.8f, 0f),
      4L -> Array(0f, 0f, 0f), 5L -> Array.empty[Float])
    .toDF("vec_id", "embedding")

  private def underAnsi[T](body: => T): Seq[T] = Seq("true", "false").map { v =>
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bruteForceTopK: zero and empty vectors rank nowhere, under ANSI and without") {
    val byMode = underAnsi(Similarity.bruteForceTopK(withZeroNorm, Seq(1L, 4L, 5L), k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq)
    assert(byMode.distinct.size == 1, s"rows depend on ANSI mode: $byMode")
    // query 1 ranks its two nonzero neighbors; queries 4 and 5 rank none
    assert(byMode.head == Seq((1L, 1L, 2L, 1.0), (1L, 2L, 3L, 0.6)))
  }

  test("mmrTopK: zero and empty vectors stay out of the pool, under ANSI and without") {
    val byMode = underAnsi(Similarity.mmrTopK(withZeroNorm, 1L, k = 4, poolK = 4)
      .select("rnk", "vec_id").as[(Long, Long)].collect().toSeq)
    assert(byMode.distinct.size == 1, s"rows depend on ANSI mode: $byMode")
    assert(byMode.head == Seq((1L, 2L), (2L, 3L)))
    // a zero-norm query has an empty pool
    underAnsi(Similarity.mmrTopK(withZeroNorm, 4L, k = 4, poolK = 4).count())
      .foreach(n => assert(n == 0L))
  }

  test("exact quadratic baselines fail fast beyond their scale guards") {
    // cosineNearDups: refuses a corpus-sized input (the design intent —
    // "small-sample oracle baseline only" — enforced, not advisory)
    val big = spark.range(0, Similarity.MaxExactRows + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.cosineNearDups(big, threshold = 0.9)
    }
    assert(e1.getMessage.contains("maxExactRows"))
    // a confined probe of the same corpus still works
    assert(Similarity.cosineNearDups(big.filter(col("vec_id") < 3), 0.9)
      .count() == 3L)
    // bruteForceTopK: refuses a corpus-sized probe list
    val e2 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(big,
        0L to Similarity.MaxProbeQueries.toLong, k = 5)
    }
    assert(e2.getMessage.contains("MaxProbeQueries"))
  }

  test("lshTopK finds an exact duplicate vector (same bucket guaranteed)") {
    val base = Tables.embeddings(spark, sf)
    val dup = base.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = base.unionByName(dup)
    val got = Similarity.lshTopK(corpus, Seq(7L), k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.head._3 == 10007L && got.head._4 == 1.0) // its clone at rank 1
  }

  test("sqQuantize: codes bounded, extremes exact, round trip inside one grid step") {
    val emb = Tables.embeddings(spark, sf)
    val q = Similarity.sqQuantize(emb)
    // every code is an 8-bit value
    val mm = q.select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).as[(Int, Int)].head()
    assert(mm._1 >= 0 && mm._2 <= 255, s"codes out of 8-bit range: $mm")
    assert(mm._1 == 0 && mm._2 == 255,
      s"per-dim extremes must hit the grid ends: $mm")
    // deterministic: a pure function of the corpus
    assert(q.collect().toSeq == Similarity.sqQuantize(emb).collect().toSeq)
    // round trip: each component moves by at most half a grid step of its
    // own dimension's range
    val worst = emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(((max(col("v").cast("double")) - min(col("v").cast("double")))
        / lit(510.0)).as("half_step"))
      .join(
        emb.join(Similarity.sqRoundTrip(emb).withColumnRenamed("embedding", "deq"),
            Seq("vec_id"))
          .select(posexplode(arrays_zip(col("embedding"), col("deq"))).as(Seq("pos", "z")))
          .select(col("pos"),
            abs(col("z.embedding").cast("double") - col("z.deq")).as("err")),
        Seq("pos"))
      .filter(col("err") > col("half_step") * lit(1.0000001)) // FP slack
      .count()
    assert(worst == 0L, s"$worst components exceed half a grid step")
  }

  test("sq8 round-trip retrieval keeps the promised recall vs exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.bruteForceTopK(Similarity.sqRoundTrip(emb), queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(sq).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall $recall") // the ann_sq8 audit bound
  }

  test("ivfTopK: recall vs brute force is high and scores are exact") {
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), queries, k = 10)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    val bruteMap = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = Similarity.ivfTopK(spark, Tables.embeddings(spark, sf), queries,
      k = 10, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    // every IVF hit that brute force also ranked must carry the identical score
    ivf.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(bc => assert(bc == c, s"($q,$n): ivf=$c brute=$bc"))
    }
    val recall = ivf.count { case (q, n, _) => bruteMap.contains((q, n)) }.toDouble / brute.length
    assert(recall >= 0.5, s"IVF recall $recall") // nprobe=4 of 8 cells
  }

  test("ivfSqTopK: exact scores after re-rank, recall holds, subset of probed-cell IVF") {
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    val bruteMap = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val sq = Similarity.ivfSqTopK(spark, emb, queries, k = 10, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(sq.groupBy(_._1).forall(_._2.length == 10))
    // the refine step re-ranks against EXACT embeddings: any hit brute
    // force also ranked must carry the identical rounded score
    sq.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(bc => assert(bc == c, s"($q,$n): sq=$c brute=$bc"))
    }
    val recall = sq.count { case (q, n, _) => bruteMap.contains((q, n)) }.toDouble / brute.length
    assert(recall >= 0.5, s"IVF-SQ recall $recall") // nprobe=4 of 8 cells
    // compressed candidates come from the same probed cells as plain IVF
    // (same seed/nlist/nprobe): a wide uncompressed IVF pass must contain
    // every IVF-SQ result — quantization may only reorder WITHIN cells
    val ivfWide = Similarity.ivfTopK(spark, emb, queries, k = 50, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    sq.foreach { case (q, n, _) =>
      assert(ivfWide.contains((q, n)), s"($q,$n) not in the probed cells") }
  }

  test("cosineNearDupsLSH pairs are a subset of exact pairs with equal scores") {
    val exact = Similarity.cosineNearDups(Tables.embeddings(spark, sf), 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.cosineNearDupsLSH(Tables.embeddings(spark, sf), 0.3, planes = 4)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"pair ($a,$b) lsh=$c exact=${exact.get((a, b))}")
    }
  }

  test("labelCentroids computes exact per-label element-wise means") {
    val d = Seq(
      (1L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 4.0f), 0),
      (3L, Seq(10.0f, -2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(d)
      .as[(Int, Long, Double, Long)].collect().toSeq
    assert(got == Seq(
      (0, 1L, 2.0, 2L), (0, 2L, 3.0, 2L),
      (1, 1L, 10.0, 1L), (1, 2L, -2.0, 1L)))
  }

  test("semanticDedup: planted clone dropped, drops verified, keeps monotone in threshold") {
    val base = Tables.embeddings(spark, sf)
    val clone = base.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = base.unionByName(clone)
    val got = Similarity.semanticDedup(corpus, nlist = 8, threshold = 0.35)
    // the identical clone lands in vec 7's cell (same point, same centroid)
    // at cosine 1.0 and must be dropped
    val keeps = got.select("vec_id", "keep").as[(Long, Int)].collect().toMap
    assert(keeps(10007L) == 0 && keeps(7L) == 1)
    // every dropped vector has a VERIFIED lower-id partner at >= threshold
    // in the exact all-pairs oracle (precision 1 by construction)
    val exact = Similarity.cosineNearDups(corpus, 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val hasLowerPartner = exact.map(_._2).toSet // id_b > id_a always
    keeps.filter(_._2 == 0).keys.foreach(v =>
      assert(hasLowerPartner.contains(v), s"vec $v dropped without an exact partner"))
    // seeded quantizer → deterministic verdicts across runs
    val again = Similarity.semanticDedup(corpus, nlist = 8, threshold = 0.35)
      .select("vec_id", "keep").as[(Long, Int)].collect().toMap
    assert(again == keeps)
    // a stricter threshold can only keep more (same seed → same cells)
    val strict = Similarity.semanticDedup(corpus, nlist = 8, threshold = 0.9)
      .filter(col("keep") === 1).count()
    assert(strict >= keeps.values.count(_ == 1))
  }

  test("semanticDedupScaled: auto-scaled cells keep the clone-drop contract and exact precision") {
    val base = Tables.embeddings(spark, sf)
    val clone = base.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = base.unionByName(clone)
    val got = Similarity.semanticDedupScaled(corpus, threshold = 0.35)
    val keeps = got.select("vec_id", "keep").as[(Long, Int)].collect().toMap
    // identical vectors always share a centroid whatever the quantizer:
    // the clone must drop, the original must survive
    assert(keeps(10007L) == 0 && keeps(7L) == 1)
    // precision 1 by construction — every drop has an exact lower-id
    // partner at >= threshold (recall is quantizer-dependent, not pinned)
    val exact = Similarity.cosineNearDups(corpus, 0.35)
      .select("id_b").as[Long].collect().toSet
    keeps.filter(_._2 == 0).keys.foreach(v =>
      assert(exact.contains(v), s"vec $v dropped without an exact partner"))
  }

  test("hybridRrf: both-leg docs outrank single-leg docs; ranks and fusion are deterministic") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val got = graft.sim.Similarity.hybridRrf(docs, emb,
      Seq("join", "merge", "window"), queryVecId = 0L, k = 20)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        r.getDouble(3))).toSeq
    assert(got.size == 20)
    // rrf strictly follows the published formula for every returned row
    got.foreach { case (_, lr, sr, rrf) =>
      val expect = lr.map(r => 1.0 / (r + 60)).getOrElse(0.0) +
        sr.map(r => 1.0 / (r + 60)).getOrElse(0.0)
      // the published rrf is rounded to 6 dp — compare within that grid
      assert(math.abs(rrf - expect) <= 5e-7, s"rrf drifted: $got")
    }
    // the output is rrf-descending
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    // the query vector itself is rank 1 on the semantic leg (cos=1)
    assert(got.exists(r => r._1 == 0L && r._3.contains(1)))
    // deterministic replay
    val again = graft.sim.Similarity.hybridRrf(docs, emb,
      Seq("join", "merge", "window"), queryVecId = 0L, k = 20)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        r.getDouble(3))).toSeq
    assert(again == got)
  }

  test("mmrTopK: low λ demotes the near-dup below the diverse doc; high λ keeps relevance order") {
    // q=[1,0,0,0]; a≈q; b a near-clone of a; c diverse but less relevant
    val emb = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0.9f, 0.1f, 0f, 0f),    // a: rel ≈ .9939
      2L -> Array(0.9f, 0.11f, 0f, 0f),   // b: rel ≈ .9925, sim(a,b) ≈ 1
      3L -> Array(0.7f, 0f, 0.7f, 0f))    // c: rel ≈ .7071, sim(a,c) ≈ .70
      .toDF("vec_id", "embedding")
    // λ=0.3: redundancy dominates — the clone b falls below diverse c
    val lo = Similarity.mmrTopK(emb, 0L, k = 3, poolK = 3, lambda = 0.3)
      .select("rnk", "vec_id").as[(Long, Long)].collect().toSeq
    assert(lo == Seq((1L, 1L), (2L, 3L), (3L, 2L)), s"got $lo")
    // λ=0.7: relevance dominates — plain top-3 order survives
    val hi = Similarity.mmrTopK(emb, 0L, k = 3, poolK = 3, lambda = 0.7)
      .select("rnk", "vec_id").as[(Long, Long)].collect().toSeq
    assert(hi == Seq((1L, 1L), (2L, 2L), (3L, 3L)), s"got $hi")
    // rank-1 mmr is exactly λ·rel of the most relevant candidate
    val r1 = Similarity.mmrTopK(emb, 0L, k = 1, poolK = 3, lambda = 0.7)
      .select("relevance", "mmr").as[(Double, Double)].head()
    assert(math.abs(r1._2 - BigDecimal(0.7 * r1._1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) == 0.0, s"got $r1")
  }

  test("mmrTopK: deterministic replay on the fixture corpus; guards refuse unbounded pools") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.mmrTopK(emb, 0L, k = 10)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.size == 10 && got.map(_._1) == (1L to 10L))
    // selected ids are distinct and never the query itself
    assert(got.map(_._2).distinct.size == 10 && !got.exists(_._2 == 0L))
    val again = Similarity.mmrTopK(emb, 0L, k = 10)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(again == got)
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, 0L, k = 10, poolK = 201)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, 0L, k = 60, poolK = 50)
    }
  }

  test("hyperplane-table buckets are bit-identical to lshSignature, any table offset") {
    val planes = 8
    for (offset <- Seq(0, 24)) { // table 0 and table 3 of the multi-table scheme
      val viaExpr = Tables.embeddings(spark, sf)
        .select(col("vec_id"),
          Similarity.lshSignature(col("embedding"), planes, 64, planeOffset = offset).as("sig"))
        .as[(Long, Long)].collect().toMap
      val hp = Similarity.hyperplanes(spark, offset + planes, 64)
        .filter(col("plane") >= offset)
      val viaJoin = Tables.embeddings(spark, sf).join(broadcast(hp))
        .select(col("vec_id"),
          when(Similarity.dot(col("embedding"), col("plane_vec")) > 0,
            call_function("shiftleft", lit(1L), col("plane") - offset)).otherwise(lit(0L)).as("bit"))
        .groupBy(col("vec_id")).agg(sum(col("bit")).as("sig"))
        .as[(Long, Long)].collect().toMap
      assert(viaExpr == viaJoin, s"offset $offset")
    }
  }

  test("cosineNearDupsLSH recall >= 0.9 vs the exact oracle at the wired threshold") {
    val exact = Similarity.cosineNearDups(Tables.embeddings(spark, sf), 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupsLSH(Tables.embeddings(spark, sf), 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // precision 1 by construction (exact verify)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("cosineNearDupsLSH at a tight threshold recovers planted duplicates with few tables") {
    // tight threshold -> few tables, hard pruning (vs ~100 tables at 0.35)
    assert(Similarity.lshTablesFor(0.9, 8) <= 10)
    assert(Similarity.lshTablesFor(0.35, 8) > 50)
    val base = Tables.embeddings(spark, sf)
    val dups = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = base.unionByName(dups)
    val got = Similarity.cosineNearDupsLSH(corpus, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // an exact duplicate agrees with its source on every hyperplane -> always caught
    (0L until 5L).foreach(i => assert(got.contains((i, i + 10000L)), s"missing pair $i"))
  }

  test("lsh candidates rank consistently with brute force where buckets overlap") {
    val brute = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), Seq(3L), k = 200)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshTopK(Tables.embeddings(spark, sf), Seq(3L), k = 10)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    lsh.foreach { case (n, c) =>
      assert(brute.get(n).forall(_ == c), s"neighbor $n: lsh=$c brute=${brute.get(n)}")
    }
  }

  test("pcaAudit: contract booleans hold; planted dominant direction leads") {
    // fixture corpus: the gate's own contract must hold end-to-end
    val gate = Similarity.pcaAudit(spark, Tables.embeddings(spark, sf), k = 4)
      .as[(String, Long, Boolean, Boolean, Boolean)].head()
    assert(gate == (("pca", 500L, true, true, true)), s"got $gate")
    // planted: points spread widely along dim 0 with small noise in dim 1
    // -> the first component must explain the overwhelming variance share
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val planted = Seq.tabulate(100)(i =>
      (i.toLong, Array(i.toFloat, (i % 3).toFloat / 10f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val m = new PCA().setK(2).setInputCol("v").setOutputCol("p")
      .fit(planted.select(array_to_vector(col("embedding").cast("array<double>")).as("v")))
    val ev = m.explainedVariance.toArray
    assert(ev(0) / ev.sum > 0.99, s"dominant direction not found: ${ev.toSeq}")
  }

  test("centroidOutliers: planted anti-aligned vector flagged, peers clean") {
    // 15 identical inliers along +x, one flipped vector in the same label:
    // max attainable |z| for one outlier among 16 is 15/4 = 3.75 > 3
    val rows = (0L until 15L).map(i => (i, Array(1f, 0f), 1)) :+
      ((99L, Array(-1f, 0f), 1))
    val d = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(4))).toMap
    assert(got(99L)._2, s"flipped vector not flagged: $got")
    assert((0L until 15L).forall(i => !got(i)._2), s"false positive: $got")
    // inliers sit closer to the centroid than the outlier, by construction
    assert(got(0L)._1 > got(99L)._1)
    // single-member label: stddev undefined -> null z, never flagged
    val solo = Seq((1L, Array(1f, 0f), 7)).toDF("vec_id", "embedding", "label")
    val s = Similarity.centroidOutliers(solo).head()
    assert(s.isNullAt(3) && !s.getBoolean(4))
  }

  test("knnLabelAudit: coherent labels diagonal, planted mislabel lands off-diagonal") {
    // two tight direction families; vec 10 carries family-0 geometry but
    // label 1 -> its nearest neighbor has label 0: an off-diagonal (1,0)
    val rows = Seq(
      (0L, Array(1f, 0f), 0), (20L, Array(0.95f, 0.05f), 0),
      (30L, Array(0f, 1f), 1), (40L, Array(0.05f, 0.95f), 1),
      (10L, Array(0.90f, 0.10f), 1))
    val d = rows.toDF("vec_id", "embedding", "label")
    // probeMod 10 -> probes are 0, 10, 20, 30, 40 (everything here)
    val got = Similarity.knnLabelAudit(d, probeMod = 10)
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(got == Seq((0, 0, 2L, 1.0), (1, 0, 1L, 0.3333), (1, 1, 2L, 0.6667)),
      s"got $got")
    // probe guard: a probeMod that admits too many probes must fail fast
    val big = (0L until 5000L).map(i => (i, Array(1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException](
      Similarity.knnLabelAudit(big, probeMod = 1))
    assert(e.getMessage.contains("MaxProbeQueries"))
  }

  test("centroidDrift: identical halves cos 1, rotated half drops, lone-side label null") {
    // label 0: same vector both parities -> drift 1.0; label 1: even half
    // on x, odd half on y -> drift 0.0; label 2: only even ids -> null
    val rows = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0f), 1), (3L, Array(0f, 1f), 1),
      (4L, Array(1f, 1f), 2))
    val d = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(d).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(0) == ((1L, 1L, Some(1.0))), s"got $got")
    assert(got(1) == ((1L, 1L, Some(0.0))), s"got $got")
    assert(got(2) == ((1L, 0L, None)), s"got $got")
  }

  test("kMeansSpherical: seeds recover planted clusters; update tightens centroids") {
    // two planted directions; seeds 0 and 1 land one in each cluster.
    // vec 8 leans 60/40 toward x -> joins cluster 0; after the centroid
    // update its cosine to the (mean) centroid must not decrease
    val rows = Seq(
      (0L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (4L, Array(1f, 0.05f)),
      (1L, Array(0f, 1f)), (3L, Array(0.1f, 0.9f)), (5L, Array(0.05f, 1f)),
      (8L, Array(0.6f, 0.4f)))
    val d = rows.toDF("vec_id", "embedding")
    val got = Similarity.kMeansSpherical(d, k = 2, rounds = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == rows.map(_._1).toSet)
    Seq(0L, 2L, 4L, 8L).foreach(i => assert(got(i)._1 == 0L, s"vec $i: $got"))
    Seq(1L, 3L, 5L).foreach(i => assert(got(i)._1 == 1L, s"vec $i: $got"))
    // cluster ids are the seed vec_ids; a seed scores ~1.0 against its own
    // first-round centroid but the final centroid is the cluster mean, so
    // every member's final cosine is high but below 1.0 except by chance
    assert(got.values.forall(_._2 > 0.8), s"loose cluster: $got")
    // one round = pure seed assignment (no update applied)
    val one = Similarity.kMeansSpherical(d, k = 2, rounds = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(one(0L) == 1.0 && one(1L) == 1.0)
  }
}
