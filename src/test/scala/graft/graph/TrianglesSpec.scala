package graft.graph

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  test("vertexTriangles: hand-built graph — counts, coefficients, degree-1 convention") {
    // K3 {1,2,3} plus a pendant 4-1 plus an open wedge 5-6, 6-7.
    // Edges arrive directed/duplicated/self-looped to exercise undirect().
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (4L, 1L), (5L, 6L), (6L, 7L), (6L, 7L))
      .toDF("src", "dst")
    val got = Triangles.vertexTriangles(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // vertex 1: degree 3 (2,3,4), one triangle, C = 2*1/(3*2) = 0.3333
    assert(got(1L) == ((3L, 1L, 0.3333)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    // pendant: degree 1 -> zero triangles, coefficient 0 by convention
    assert(got(4L) == ((1L, 0L, 0.0)))
    // open wedge: center 6 has degree 2 but no closing edge
    assert(got(6L) == ((2L, 0L, 0.0)))
    assert(got(5L) == ((1L, 0L, 0.0)) && got(7L) == ((1L, 0L, 0.0)))
  }

  test("bloom-prefiltered closure (shuffle path) is bit-identical to the broadcast path") {
    // the real co-occurrence graph, both branch shapes: the broadcast
    // budget at 0 forces the scale path — wedge stream bloom-dropped
    // map-side, exact semi join on the survivors — which must not change
    // one row vs the all-broadcast plan (bloom FPs are removed exactly)
    val edges = Edges.partCoOccurrence(
      graft.model.Tables.lineitem(spark, sf))
    val want = Triangles.vertexTriangles(edges).collect().toSeq
    val key = Fixpoint.ConfKey
    spark.conf.set(key, "0")
    try {
      val got = Triangles.vertexTriangles(edges).collect().toSeq
      assert(got == want, "shuffle+bloom closure diverged from broadcast closure")
    } finally spark.conf.unset(key)
  }

  test("globalTriangleStats: K4 has 4 triangles, clustering 1 everywhere") {
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)).toDF("src", "dst")
    val r = Triangles.globalTriangleStats(k4).head()
    assert(r.getLong(0) == 4L)      // vertices
    assert(r.getLong(1) == 6L)      // edges
    assert(r.getLong(2) == 4L)      // triangles: C(4,3)
    assert(r.getDouble(3) == 1.0)   // every neighborhood is complete
  }

  test("kCore: clique survives, path peels end-in; fixed-round contract observable") {
    // triangle {1,2,3} (2-core) plus path 10-11-12-13-14 (peels to nothing)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("src", "dst")
    val got = Triangles.kCore(edges, k = 2, rounds = 10).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L).forall(got(_) == ((true, 2L))), s"got $got")
    assert(Seq(10L, 11L, 12L, 13L, 14L).forall(got(_) == ((false, 0L))), s"got $got")
    // ONE round only: the path's interior {11,12,13} survives (their
    // degree was >= 2 before the ends died) — the documented fixed-round
    // semantics, with core_degree measured in the SURVIVING subgraph
    val one = Triangles.kCore(edges, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(one(12L) == ((true, 2L)) && one(11L) == ((true, 1L)) &&
      one(10L) == ((false, 0L)), s"got $one")
  }

  test("degree orientation enumerates each triangle exactly once under skew") {
    // a hub h connected to 1..10, with spokes i-(i+1) forming triangles
    // (h, i, i+1) for i in 1..9 — the skewed shape id-orientation handles
    // badly and degree-orientation was built for
    val hub = (1L to 10L).map(i => (100L, i))
    val ring = (1L to 9L).map(i => (i, i + 1))
    val got = Triangles.globalTriangleStats((hub ++ ring).toDF("src", "dst")).head()
    assert(got.getLong(2) == 9L, s"expected 9 hub triangles, got $got")
  }

  test("degreeAssortativity: star is -1, regular cycle has no variance (null)") {
    // star: center degree 5, leaves degree 1 -> perfectly disassortative
    val star = (1L to 5L).map(i => (100L, i)).toDF("src", "dst")
    val s = Triangles.degreeAssortativity(star).head()
    assert(s.getLong(0) == 6L && s.getLong(1) == 5L)
    assert(s.getDouble(2) == -1.0, s"star: $s")
    // 4-cycle: every degree 2 -> corr undefined over zero variance
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = Triangles.degreeAssortativity(cycle).head()
    assert(c.getLong(0) == 4L && c.getLong(1) == 4L && c.isNullAt(2), s"cycle: $c")
  }
}
