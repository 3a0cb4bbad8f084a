package graft.graph

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graph fixpoints' shared contract: edge inputs (empty edge lists,
  * zero rounds) give defined results, each operator's Spark job cascade on
  * one fixed fixture is pinned at the default broadcast budget and at
  * budget 0, and the two join branches publish identical rows. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private val BudgetKey = "spark.graft.fixpoint.maxBroadcastBytes"

  // one weakly connected dense block {1..6} with a sink (6), a directed
  // chain 20 -> 24 (diameter 4: several CC/k-core rounds), and an isolated
  // two-cycle {30, 31}
  private lazy val edges: DataFrame = Seq(
    (1L, 2L, 3.0), (2L, 3L, 1.0), (3L, 1L, 2.0), (3L, 4L, 1.0),
    (4L, 5L, 4.0), (5L, 3L, 1.0), (2L, 5L, 2.0), (1L, 4L, 1.0),
    (5L, 6L, 1.0),
    (20L, 21L, 1.0), (21L, 22L, 2.0), (22L, 23L, 1.0), (23L, 24L, 3.0),
    (30L, 31L, 1.0), (31L, 30L, 1.0)
  ).toDF("src", "dst", "weight")
  private lazy val plain = edges.select(col("src"), col("dst"))
  private lazy val seeds = Seq(1L, 20L).toDF("id")
  private lazy val dim = (1L to 31L).map(i => (i, s"part$i")).toDF("id", "p_name")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Each fixpoint on the fixture, published the way its callers publish
    * it: integer outputs as-is, scores at their 6-decimal rounding. */
  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "pageRank" -> (() => PageRankOp.runLongIds(spark, plain)
      .select(col("id"), round(col("pagerank"), 6))),
    "weightedPageRank" -> (() => PageRankOp.weightedPageRank(edges)
      .select(col("id"), round(col("pagerank"), 6))),
    "personalizedPageRank" -> (() => PageRankOp.personalizedPageRank(plain, seeds)),
    "topInfluencers" -> (() => PageRankOp.topInfluencers(spark, plain, dim, k = 10)),
    "hits" -> (() => HitsOp.hits(plain)),
    "connectedComponents" -> (() => Components.connectedComponents(plain, "src", "dst")),
    "connectedComponentsStar" -> (() => Components.connectedComponentsStar(plain, "src", "dst")),
    "labelPropagation" -> (() => Communities.labelPropagation(plain)),
    "kCore" -> (() => Triangles.kCore(plain, k = 2)),
    "hopDistances" -> (() => Bfs.hopDistances(plain, seeds))
  )

  /** (jobs at the default budget, jobs at budget 0) per operator, run on
    * the fixture above including the final collect. A port of an operator
    * onto shared scaffolding must leave these unchanged: the count moves
    * with every added pin, aggregate action, or broadcast-vs-shuffle flip.
    * The rank family's default-budget counts are those of the driver-
    * resident kernel: one job per round plus the vertex and edge
    * preparation; the top-k rank numbers cost no job. */
  private val expectedJobs: Map[String, (Int, Int)] = Map(
    "pageRank" -> (19, 42),
    "weightedPageRank" -> (19, 42),
    "personalizedPageRank" -> (23, 39),
    "topInfluencers" -> (20, 42),
    "hits" -> (65, 68),
    "connectedComponents" -> (27, 32),
    "connectedComponentsStar" -> (33, 33),
    "labelPropagation" -> (31, 31),
    "kCore" -> (34, 34),
    "hopDistances" -> (40, 42)
  )

  private def underBudget[T](budget: Option[String])(body: => T): T = {
    budget.foreach(spark.conf.set(BudgetKey, _))
    try body finally spark.conf.unset(BudgetKey)
  }

  /** ((rows, jobs) at the default budget, (rows, jobs) at budget 0). */
  private val runs = collection.mutable.Map.empty[String,
    ((Seq[String], Int), (Seq[String], Int))]
  private def run(name: String, op: () => DataFrame) =
    runs.getOrElseUpdate(name, (
      underBudget(None)(JobCount(spark)(rows(op()))),
      underBudget(Some("0"))(JobCount(spark)(rows(op())))))

  operators.foreach { case (name, op) =>
    test(s"job cascade: $name runs a pinned job count at the default budget and at budget 0") {
      val ((_, jobsDefault), (_, jobsShuffle)) = run(name, op)
      assert((jobsDefault, jobsShuffle) == expectedJobs(name),
        s"$name ran ($jobsDefault, $jobsShuffle) jobs (default budget, budget 0)")
    }

    test(s"broadcast-vs-shuffle invariance: $name publishes identical rows at budget 0") {
      val ((bcastRows, _), (shuffleRows, _)) = run(name, op)
      assert(bcastRows.nonEmpty)
      assert(shuffleRows == bcastRows)
    }
  }

  // the rank family's edge inputs: a null endpoint on each side, a
  // duplicated (multi-)edge, a sink (5), and, for the declared-vertex
  // entry points, an isolated vertex (9) and an edge leaving the set (6)
  private lazy val edgeCases: DataFrame = Seq[(Option[Long], Option[Long], Double)](
    (Some(1L), Some(2L), 2.0), (Some(1L), Some(2L), 2.0), (Some(2L), Some(3L), 1.0),
    (Some(3L), Some(1L), 3.0), (Some(3L), Some(5L), 1.0), (Some(2L), Some(4L), 1.0),
    (Some(4L), Some(3L), 2.0), (None, Some(3L), 1.0), (Some(4L), None, 1.0),
    (Some(4L), Some(6L), 1.0)
  ).toDF("src", "dst", "weight")
  private lazy val declared = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")

  private val edgeCaseOperators: Seq[(String, () => DataFrame)] = Seq(
    "runLongIds" -> (() => PageRankOp.runLongIds(spark, edgeCases)
      .select(col("id"), round(col("pagerank"), 6))),
    "weightedPageRank" -> (() => PageRankOp.weightedPageRank(edgeCases)
      .select(col("id"), round(col("pagerank"), 6))),
    "resumeLongIds" -> (() => PageRankOp.resumeLongIds(spark, edgeCases,
        Seq((1L, 2.5), (3L, 0.5)).toDF("id", "pagerank"))
      .select(col("id"), round(col("pagerank"), 6))),
    "personalizedPageRank" -> (() =>
      PageRankOp.personalizedPageRank(edgeCases, Seq(1L, 4L).toDF("id"))),
    "runStringIds" -> (() => PageRankOp.runStringIds(
        declared.select(concat(lit("v"), col("id")).as("id")),
        edgeCases.select(concat(lit("v"), col("src")).as("src"),
          concat(lit("v"), col("dst")).as("dst")))
      .select(col("id"), round(col("pagerank"), 6))),
    "runWithVertices" -> (() => PageRankOp.runWithVertices(declared, edgeCases)
      .select(col("id"), round(col("pagerank"), 6)))
  )

  edgeCaseOperators.foreach { case (name, op) =>
    test(s"broadcast-vs-shuffle invariance on edge inputs: $name publishes identical rows at budget 0") {
      val bcastRows = underBudget(None)(rows(op()))
      val shuffleRows = underBudget(Some("0"))(rows(op()))
      assert(bcastRows.nonEmpty)
      assert(shuffleRows == bcastRows)
    }
  }

  private lazy val empty = Seq.empty[(Long, Long)].toDF("src", "dst")

  test("empty edge list: every PageRank entry point returns 0 rows") {
    assert(PageRankOp.runLongIds(spark, empty).collect().isEmpty)
    assert(PageRankOp.weightedPageRank(empty.withColumn("weight", lit(1.0)))
      .collect().isEmpty)
    val noPrior = Seq.empty[(Long, Double)].toDF("id", "pagerank")
    assert(PageRankOp.resumeLongIds(spark, empty, noPrior).collect().isEmpty)
    assert(PageRankOp.runWithVertices(empty.select(col("src").as("id")), empty)
      .collect().isEmpty)
  }

  test("empty edge list: PPR, HITS, both CC variants, LPA, k-core and BFS return 0 rows") {
    val noSeeds = Seq.empty[Long].toDF("id")
    val outs = Seq(
      PageRankOp.personalizedPageRank(empty, noSeeds),
      HitsOp.hits(empty),
      Components.connectedComponents(empty, "src", "dst"),
      Components.connectedComponentsStar(empty, "src", "dst"),
      Communities.labelPropagation(empty),
      Triangles.kCore(empty),
      Bfs.hopDistances(empty, noSeeds))
    outs.foreach(df => assert(df.collect().isEmpty, df.schema.simpleString))
  }

  test("zero rounds: PageRank numIter = 0 is the normalized uniform init") {
    val got = PageRankOp.runLongIds(spark, plain, numIter = 0)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == ((1L to 6L) ++ (20L to 24L) ++ Seq(30L, 31L)).toSet)
    assert(got.values.forall(_ == 1.0), s"got $got")
  }

  test("zero rounds: resumeLongIds(extraIter = 0) normalizes the prior ranks over the new vertex set") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    // vertex 4 is new: it enters cold at 1.0, then Σ = 7 scales to N = 4
    val prev = Seq((1L, 4.0), (2L, 1.0), (3L, 1.0)).toDF("id", "pagerank")
    val got = PageRankOp.resumeLongIds(spark, square, prev, extraIter = 0)
      .as[(Long, Double)].collect().toMap
    val scale = 4.0 / 7.0
    assert(got == Map(1L -> 4.0 * scale, 2L -> 1.0 * scale,
      3L -> 1.0 * scale, 4L -> 1.0 * scale), s"got $got")
  }

  test("zero rounds: k-core, LPA and both CC variants return their initial state") {
    val und = Triangles.undirect(plain).as[(Long, Long)].collect().toSeq
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    val ids = nbrs.keys.toSeq.sorted
    val core = Triangles.kCore(plain, k = 2, rounds = 0)
      .as[(Long, Boolean, Long)].collect().toSeq
    assert(core == ids.map(v => (v, true, nbrs(v).size.toLong)))
    val lpa = Communities.labelPropagation(plain, rounds = 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(lpa == ids.map(v => (v, v, 1L)))
    val cc = Components.connectedComponents(plain, "src", "dst", maxIter = 0)
      .as[(Long, Long)].collect().toMap
    assert(cc == ids.map(v => v -> v).toMap)
    // the star variant's initial state is the edge set itself: each
    // vertex reads the minimum of its closed neighborhood
    val star = Components.connectedComponentsStar(plain, "src", "dst", maxIter = 0)
      .as[(Long, Long)].collect().toMap
    assert(star == ids.map(v => v -> (nbrs(v) :+ v).min).toMap)
  }

  test("zero rounds: personalizedPageRank(numIter = 0) is rejected") {
    intercept[IllegalArgumentException](
      PageRankOp.personalizedPageRank(plain, seeds, numIter = 0))
  }
}
