package graft

import graft.ops.{Analytics, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  import SparkSuite._

  /** Independent reference: dense PageRank loop over a tiny graph. */
  private def refPagerank(edges: Seq[(String, String, Double)], d: Double,
                          tele: Double, iters: Int): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      pr = nodes.map { v =>
        val in = edges.filter(_._2 == v)
          .map { case (u, _, w) => pr(u) * (w / outW(u)) }.sum
        v -> (tele / n + d * in)
      }.toMap
    }
    pr.map { case (k, v) => k -> BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  /** Reference label propagation: per node, the row_number top-1 vote
    * ordered by (count desc, label asc) — the rule labelPropagationAssign
    * implements as a combinable aggregate.
    */
  private def refLabels(edges: DataFrame, rounds: Int): Set[(Any, Any)] = {
    val und = edges.select(col("a").as("n"), col("b").as("m"))
      .union(edges.select(col("b").as("n"), col("a").as("m"))).distinct()
    var lab = und.select(col("n").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val top = Window.partitionBy(col("n")).orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to rounds) {
      lab = und.join(lab.withColumnRenamed("node", "m"), "m")
        .groupBy(col("n"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(top))
        .filter(col("rk") === 1).select(col("n").as("node"), col("lbl"))
    }
    lab.collect().map(r => (r.get(0), r.get(1))).toSet
  }

  private def assignedLabels(edges: DataFrame, rounds: Int): Set[(Any, Any)] =
    Graph.labelPropagationAssign(edges, "a", "b", rounds)
      .collect().map(r => (r.get(0), r.get(1))).toSet

  test("labelPropagationAssign: string node IDs match the row_number reference") {
    import spark.implicits._
    // string order differs from numeric order ("n10" < "n2" < "n9"):
    // after round 1, n9 (neighbours n10, n2, y) holds "n10"
    val edges = Seq(("n10", "n9"), ("n9", "n2"), ("n2", "n10"),
      ("n2", "x"), ("x", "y"), ("y", "n9")).toDF("a", "b")
    for (rounds <- 1 to 3) {
      val got = assignedLabels(edges, rounds)
      assert(got == refLabels(edges, rounds), s"rounds=$rounds")
      assert(got.size == 5 && got.forall(_._2 != null), s"rounds=$rounds")
    }
    assert(assignedLabels(edges, 1).contains(("n9", "n10")))
  }

  test("labelPropagationAssign: Long.MinValue ID matches the row_number reference") {
    import spark.implicits._
    val edges = Seq((Long.MinValue, 0L), (0L, 1L), (Long.MinValue, 1L),
      (1L, 2L), (2L, Long.MaxValue)).toDF("a", "b")
    for (rounds <- 1 to 3)
      assert(assignedLabels(edges, rounds) == refLabels(edges, rounds), s"rounds=$rounds")
    // the triangle holding Long.MinValue adopts it after one round
    assert(assignedLabels(edges, 1).collect { case (n, l) if n == 0L => l } == Set(Long.MinValue))
  }

  test("degreeAssortativity: a star is exactly -1") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(star, "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 3L, -1.0)))
    // two disjoint edges: all endpoint degrees 1 -> zero variance ->
    // the correlation is undefined (null/NaN), never a crash
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val p = Graph.degreeAssortativity(pairs, "a", "b").collect().head
    assert(p.isNullAt(2) || p.getDouble(2).isNaN)
  }

  test("localClustering: triangle+pendant hand values survive dirty input") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4 on node 1; dirty: dup edge,
    // reversed edge, self-loop — all must be canonicalized away
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (1L, 4L),
      (1L, 2L), (3L, 3L)).toDF("a", "b")
    val got = Graph.localClustering(edges, "a", "b", topK = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // node 1: d=3, one triangle -> c = 2/(3*2) = 0.333333, top by degree
    assert(got(1L) == ((3L, 1L, 1L, 0.333333)))
    // nodes 2,3: d=2 inside the triangle -> c = 1; rank ties by id
    assert(got(2L) == ((2L, 1L, 2L, 1.0)))
    assert(got(3L) == ((2L, 1L, 3L, 1.0)))
    // pendant: degree 1 -> coefficient 0 by convention
    assert(got(4L) == ((1L, 0L, 4L, 0.0)))
    // topK truncates by degree rank
    assert(Graph.localClustering(edges, "a", "b", topK = 2).count() == 2L)
  }

  test("adamicAdar: hand scores on path and square, cap drops hub centers") {
    import spark.implicits._
    // path 1-2-3 (dirty: dup + reversed + self edges must canonicalize
    // away): only non-edge is (1,3), one shared neighbor of degree 2
    // -> score = round(1e9/ln 2)/1e9 = 1.442695
    val path = Seq((1L, 2L), (2L, 3L), (2L, 1L), (1L, 2L), (3L, 3L))
      .toDF("a", "b")
    val p = Graph.adamicAdar(path, "a", "b").collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).toSeq == Seq((1L, 3L, 1.442695, 1L)))
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) each share two
    // degree-2 neighbors -> 2*round(1e9/ln 2)/1e9 = 2.88539; equal
    // scores rank by (u,v)
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val sq = Graph.adamicAdar(square, "a", "b").collect()
    assert(sq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).toSeq ==
      Seq((1L, 3L, 2.88539, 1L), (2L, 4L, 2.88539, 2L)))
    // a star center above the cap contributes nothing -> no candidates
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    assert(Graph.adamicAdar(star, "a", "b",
      maxCenterDegree = 2L).count() == 0L)
    // below the cap the three leaf pairs tie at 1/ln 3
    val leafs = Graph.adamicAdar(star, "a", "b").collect()
    assert(leafs.length == 3 && leafs.forall(_.getDouble(2) == 0.910239))
  }

  test("labelPropagation: disjoint triangles collapse to two size-3 communities") {
    import spark.implicits._
    // two triangles; by round 3 each settles on its min node label
    // (hand trace: (2,1,1) after r1, (1,1,1) after r2, stable r3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 2L)))
    // a single edge: both endpoints adopt each other every round ->
    // with an odd round count they hold swapped labels (still 2 nodes,
    // 2 singleton communities after r1? no: a adopts b, b adopts a ->
    // labels {b, a}: two communities of size 1... histogram (1, 2))
    val pair = Seq((10L, 11L)).toDF("a", "b")
    val g2 = Graph.labelPropagation(pair, "a", "b", rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g2 == Set((1L, 2L)))
  }

  test("modularity: two triangles give exactly 0.5, one community gives 0") {
    import spark.implicits._
    // label prop finds the two triangles; per community e_c=3, d_c=6,
    // m=6 -> Q = 2 * (3/6 - (6/12)^2) = 0.5 exactly
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("a", "b")
    val r = Graph.modularity(twoTri, "a", "b", rounds = 3).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 6L, 0.5)))
    // everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
    val oneTri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val s = Graph.modularity(oneTri, "a", "b", rounds = 3).collect().head
    assert((s.getLong(0), s.getLong(1), s.getDouble(2)) == ((1L, 3L, 0.0)))
  }

  test("pagerank matches the dense reference on an asymmetric graph") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("a", "c", 1.0), ("b", "c", 1.0),
      ("c", "a", 1.0))
    val got = Graph.pagerank(edges.toDF("s", "d", "w"), "s", "d", "w",
        damping = 0.85, teleport = 0.15, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == refPagerank(edges, 0.85, 0.15, 3))
    // rank mass is conserved when every node has out-edges
    assert(math.abs(got.values.sum - 1.0) < 1e-5)
  }

  test("pagerank: sink node leaks mass, source node settles at teleport/N") {
    import spark.implicits._
    // a -> b -> c, c is a sink (no out-edges), a has no in-edges
    val edges = Seq(("a", "b", 2.0), ("b", "c", 1.0))
    val got = Graph.pagerank(edges.toDF("s", "d", "w"), "s", "d", "w",
        damping = 0.85, teleport = 0.15, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == refPagerank(edges, 0.85, 0.15, 3))
    assert(got("a") == 0.05) // teleport/N = 0.15/3 from iteration 1 on
    assert(got.values.sum < 1.0) // sink leak, by design
  }

  test("topPaths counts trigrams in time order and ranks deterministically") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: v c p v c p  -> vcp x2, cpv, pvc; user 2: v c p -> vcp
    val rows = Seq(
      (1L, 1L, ts(1), "v"), (2L, 1L, ts(2), "c"), (3L, 1L, ts(3), "p"),
      (4L, 1L, ts(4), "v"), (5L, 1L, ts(5), "c"), (6L, 1L, ts(6), "p"),
      (7L, 2L, ts(1), "v"), (8L, 2L, ts(2), "c"), (9L, 2L, ts(3), "p"))
    val df = rows.toDF("event_id", "user_id", "ts", "event_type")
    val got = Analytics.topPaths(df, "user_id", "ts", "event_id",
        "event_type", topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // vcp appears 3x; cpv and pvc once each -> lexicographic tie-break
    assert(got.toSeq == Seq(("v", "c", "p", 3L), ("c", "p", "v", 1L)))
  }

  test("triangleStats: planted triangles, dup/reversed/self edges cleaned") {
    import spark.implicits._
    // K3 on {1,2,3} plus (2,4),(3,4) -> triangles {1,2,3},{2,3,4};
    // (4,5) dangles. Input deliberately dirty: duplicates, reversed
    // orientation, a self-loop.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L),
      (2L, 4L), (4L, 5L), (4L, 5L), (5L, 5L)).toDF("s", "t")
    val r = Graph.triangleStats(edges, "s", "t").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((5L, 6L, 2L, 10L, 0.6)))
  }

  test("kCorePeeling: cascade removes the tail, profile fixes at the 2-core") {
    import spark.implicits._
    // triangle {1,2,3} (all deg>=2) + a path 3-4-5 tail: k=2 peels 5
    // (deg 1), then 4 (deg drops to 1) -> fixpoint = the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "t")
    val got = Graph.kCorePeeling(edges, "s", "t", k = 2, rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((4L, 4L), (3L, 3L), (3L, 3L), (3L, 3L)))
  }

  test("bfsReach: path graph from the hub, saturation tail goes flat") {
    import spark.implicits._
    // star center 1 (deg 3) + chain 2-5-6: seed = 1;
    // hop1 {2,3,4}, hop2 {5}, hop3 {6}, hop4 {} (saturated)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (5L, 6L))
      .toDF("s", "t")
    val got = Graph.bfsReach(edges, "s", "t", hops = 4)
      .orderBy("hop").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((3L, 4L), (1L, 5L), (1L, 6L), (0L, 6L)))
  }

  test("triangleStats: triangle-free graph has zero count, zero cc") {
    import spark.implicits._
    // a path 1-2-3-4: wedges exist but no triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    val r = Graph.triangleStats(edges, "s", "t").collect().head
    assert(r.getLong(2) == 0L && r.getDouble(4) == 0.0)
    assert(r.getLong(3) == 2L)
  }
}
