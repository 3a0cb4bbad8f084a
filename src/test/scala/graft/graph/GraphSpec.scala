package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("explodeEdges: empty arrays are dropped, elements preserved") {
    val arrays = Seq(
      (1L, Seq(10L, 11L)),
      (2L, Seq.empty[Long])
    ).toDF("id", "related")
    val got = Edges.explodeEdges(arrays).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L)))
  }

  test("partCoOccurrence: weights count co-occurring orders, no self-loops") {
    val li = Seq(
      (1L, 100L), (1L, 200L),            // order 1: parts 100, 200
      (2L, 100L), (2L, 200L), (2L, 200L) // order 2: same pair (dup line)
    ).toDF("l_orderkey", "l_partkey")
    val got = Edges.partCoOccurrence(li)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((100L, 200L, 2L), (200L, 100L, 2L)))
  }

  test("degree histogram total equals vertices-with-edges count") {
    val edges = Edges.partCoOccurrence(graft.model.Tables.lineitem(spark, sf))
    val nSrc = edges.select("src").distinct().count()
    val histTotal = Degrees.outDegreeHistogram(edges)
      .agg(sum("num_vertices")).head.getLong(0)
    assert(histTotal == nSrc)
  }

  test("skew-safe degree count equals plain degree count") {
    val edges = Edges.partCoOccurrence(graft.model.Tables.lineitem(spark, sf))
    val plain = Degrees.outDegrees(edges).as[(Long, Long)].collect().toMap
    val salted = Degrees.outDegreesSkewSafe(edges).as[(Long, Long)].collect().toMap
    assert(plain == salted)
  }

  test("pageRank invariants: scores sum ~ N, hub outranks leaves, deterministic") {
    // star graph: every leaf points at vertex 0
    val edges = (1L to 20L).map(i => (i, 0L)).toDF("src", "dst")
    val ranks = PageRankOp.runLongIds(spark, edges).as[(Long, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 21.0) < 0.5) // GraphX sum-to-N normalization
    val hub = ranks(0L)
    assert((1L to 20L).forall(i => ranks(i) < hub))
    val again = PageRankOp.runLongIds(spark, edges).as[(Long, Double)].collect().toMap
    assert(ranks == again)
  }

  test("resumeLongIds: warm-start drifts little from the full recompute, cold start recovers it") {
    val li = graft.model.Tables.lineitem(spark, sf)
    val oldEdges = Edges.partCoOccurrence(li.filter(col("l_orderkey") % 10 =!= 0))
      .select(col("src"), col("dst"))
    val allEdges = Edges.partCoOccurrence(li).select(col("src"), col("dst"))
    val prev = PageRankOp.runLongIds(spark, oldEdges)
    val warm = PageRankOp.resumeLongIds(spark, allEdges, prev, extraIter = 3)
      .as[(Long, Double)].collect().toMap
    val full = PageRankOp.runLongIds(spark, allEdges)
      .as[(Long, Double)].collect().toMap
    assert(warm.keySet == full.keySet, "warm start changed the vertex set")
    // the drift bound the gate's docs pin: 3 warm rounds after a ~10%
    // edge admission stay within 0.05 of the 10-round recompute on every
    // vertex (the fixpoint contracts by 0.85/round; measured max drift at
    // fixture scale is far below this bound)
    val maxDrift = full.map { case (id, r) => math.abs(warm(id) - r) }.max
    assert(maxDrift < 0.05, s"warm-start drift $maxDrift exceeds the 0.05 bound")
    // the warm top-20 equals the recompute top-20 as a SET (report cut
    // stability — what the serving layer actually consumes)
    def top(m: Map[Long, Double]) =
      m.toSeq.sortBy { case (id, r) => (-r, id) }.take(20).map(_._1).toSet
    assert(top(warm) == top(full), "warm-start changed the top-20 set")
  }

  test("resumeLongIds(extraIter = 0): zero-round resume is the re-normalized init, not a throw") {
    // ADVICE r16: the r16 require(numIter >= 1) broke the "admit edges,
    // keep ranks" no-op resume; it must degrade gracefully again — the
    // prior ranks pass through the sum-to-N normalization over the NEW
    // vertex set (admitted vertices enter cold at 1.0).
    val edges = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
    val prev = PageRankOp.runLongIds(spark, edges)
    val resumed = PageRankOp.resumeLongIds(spark, edges, prev, extraIter = 0)
      .as[(Long, Double)].collect().toMap
    val prevMap = prev.as[(Long, Double)].collect().toMap
    assert(resumed.keySet == prevMap.keySet)
    // prev is already sum-to-N normalized, so a zero-round resume over the
    // same graph re-normalizes a normalized state: values are unchanged
    // up to float re-scaling noise
    prevMap.foreach { case (id, r) =>
      assert(math.abs(resumed(id) - r) < 1e-9, s"vertex $id moved: $r -> ${resumed(id)}")
    }
  }

  test("DataFrame pageRank matches GraphX on the same graph") {
    val edges = Edges.partCoOccurrence(graft.model.Tables.lineitem(spark, sf))
      .select(col("src"), col("dst"))
    val df = PageRankOp.runLongIds(spark, edges).as[(Long, Double)].collect().toMap
    val gx = GraphXPageRank.run(spark, edges).as[(Long, Double)].collect().toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (id, r) =>
      assert(math.abs(r - gx(id)) < 1e-6, s"vertex $id: df=$r gx=${gx(id)}")
    }
  }

  test("personalizedPageRank matches a hand-rolled seeded power iteration") {
    // 1 -> 2 -> 3, 3 -> 2, plus isolated-source 4 -> 1; seed = {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L), (4L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = PageRankOp.personalizedPageRank(edges, seeds, numIter = 10, k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // reference simulation of the same recurrence
    val adj = Map(1L -> Seq(2L), 2L -> Seq(3L), 3L -> Seq(2L), 4L -> Seq(1L))
    val verts = Seq(1L, 2L, 3L, 4L)
    var r = verts.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap
    for (_ <- 1 to 10) {
      val contrib = verts.map { v =>
        v -> verts.filter(u => adj(u).contains(v))
          .map(u => r(u) / adj(u).size).sum
      }.toMap
      r = verts.map(v =>
        v -> ((if (v == 1L) 0.15 else 0.0) + 0.85 * contrib(v))).toMap
    }
    val expect = r.map { case (v, x) => v -> math.round(x * 1e6) / 1e6 }
      .filter(_._2 > 0)
    assert(got == expect, s"got $got expect $expect")
    // vertex 4 never receives mass (nothing points at it, not a seed)
    assert(!got.contains(4L))
  }

  test("neighborJaccard: cycle closes diagonals; hub cap silences the star") {
    // square 1-2-3-4-1: the two diagonals share both neighbors -> 1.0
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Triangles.neighborJaccard(square)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)), s"got $got")
    // star: every leaf pair is predicted via the center — until the pivot
    // cap excludes the hub, then nothing is
    val star = (1L to 5L).map(i => (100L, i)).toDF("src", "dst")
    assert(Triangles.neighborJaccard(star).count() == 10L)
    assert(Triangles.neighborJaccard(star, maxPivotDeg = 4).count() == 0L)
  }

  test("runStringIds drops edges with endpoints outside the vertex set") {
    val vertices = Seq("a", "b", "c").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "zz"), ("zz", "a"))
      .toDF("src", "dst") // zz is dangling — GraphFrames semantics drop both edges
    val ranks = PageRankOp.runStringIds(vertices, edges)
    val ids = ranks.select("id").as[String].collect().toSet
    assert(ids == Set("a", "b", "c")) // isolated-but-declared vertices kept, zz absent
    // surviving chain a -> b -> c: rank accumulates down the chain
    val m = ranks.as[(String, Double)].collect().toMap
    assert(m("c") > m("b") && m("b") > m("a"))
  }

  test("weightedPageRank: weights steer the walk; w=1 reduces to pageRank") {
    // 1 -> 2 with weight 9, 1 -> 3 with weight 1: the heavy edge carries
    // 90% of vertex 1's rank mass
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "weight")
    val m = PageRankOp.weightedPageRank(e)
      .as[(Long, Double)].collect().toMap
    assert(m(2L) > m(3L), s"heavy edge did not win: $m")
    // the 9:1 contribution split survives the reset floor clearly
    assert(m(2L) > 1.3 * m(3L), s"mass split off: $m")
    // uniform weights reduce to the unweighted fixpoint exactly
    val uni = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val w = PageRankOp.weightedPageRank(uni).as[(Long, Double)].collect().toMap
    val p = PageRankOp.runLongIds(spark, uni.select("src", "dst"))
      .as[(Long, Double)].collect().toMap
    w.foreach { case (id, r) =>
      assert(math.abs(r - p(id)) < 1e-12, s"w=1 mismatch at $id: $r vs ${p(id)}")
    }
  }

  test("hopDistances: layered mins, horizon cut, direction, dropped alien seed") {
    // directed path 1->2->3->4->5 plus a shortcut 1->4: BFS layering must
    // record 4 at hop 1 (the shortcut edge), not hop 3 (via the path), and
    // 5 at hop 2 through the shortcut
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("id") // 99 is not a graph vertex
    val got = Bfs.hopDistances(edges, seeds, maxHops = 6)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (4L, 1L), (3L, 2L), (5L, 2L)),
      s"got $got")
    // horizon: maxHops = 1 stops after the first layer
    val cut = Bfs.hopDistances(edges, Seq(1L).toDF("id"), maxHops = 1)
      .as[(Long, Long)].collect().toSeq
    assert(cut == Seq((1L, 0L), (2L, 1L), (4L, 1L)), s"got $cut")
    // direction: nothing reaches upstream of the seed
    val down = Bfs.hopDistances(edges, Seq(4L).toDF("id"), maxHops = 6)
      .as[(Long, Long)].collect().toSeq
    assert(down == Seq((4L, 0L), (5L, 1L)), s"got $down")
  }
}
