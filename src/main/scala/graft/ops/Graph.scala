package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics expressed as iterative DataFrame joins — the shape
  * that scales: each PageRank iteration is one shuffle-join of the
  * normalized edge table with the current rank vector plus one
  * map-side-combinable aggregate on the destination key. No driver-side
  * adjacency, no windowing; a 100 TB edge table just makes the joins
  * bigger. (Connected components for dedup clusters live in
  * [[Dedup]]; this file is for weighted-propagation analytics.)
  */
object Graph {

  /** `iters` unrolled PageRank iterations over a weighted digraph.
    *
    * pr_0(v) = 1/N;
    * pr_{t+1}(v) = teleport/N + damping * sum_u pr_t(u) * w(u,v)/outW(u).
    *
    * `damping` and `teleport` are BOTH caller-supplied literals rather
    * than deriving teleport = 1 − damping: the binary subtraction can
    * land half an ulp from the decimal literal an oracle parses, and an
    * iterated recurrence amplifies that seed. Nodes with no out-edges
    * leak their mass (the classic simplification); nodes with no
    * in-edges settle at teleport/N. Ranks round to 6dp only at the end —
    * per-node in-sums are short, so cross-engine summation-order drift
    * stays far below the rounding grain.
    *
    * Scale shape: `nodes` and the rank vector are node-domain-sized;
    * the per-iteration cost is one join of edges with ranks on `src`
    * (both hash-partitioned on the node key — AQE reuses the exchange)
    * and one combinable sum on `dst`. The normalized edge table is
    * computed once and cached by Catalyst plan reuse across the
    * unrolled iterations; for deep iteration counts checkpoint the rank
    * vector instead of unrolling.
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, damping: Double, teleport: Double,
               iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(damping > 0 && damping < 1 && teleport > 0 && teleport < 1,
      s"need damping, teleport in (0,1), got ($damping, $teleport)")
    // materialized: the edge table is read by every iteration (plus the
    // node/out-weight derivations) — without this, an expensive upstream
    // (e.g. a windowed transition extraction) re-runs once per use
    val e = graft.data.ScopedCaches.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("w")))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nCnt = nodes.agg(count(lit(1)).cast("double").as("__n"))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("__outw"))
    val p = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("__outw")).as("p"))
    var pr = nodes.crossJoin(broadcast(nCnt))
      .select(col("node"), (lit(1.0) / col("__n")).as("pr"))
    for (_ <- 1 to iters) {
      val mass = p.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("p") * col("pr")).as("__mass"))
      pr = nodes.crossJoin(broadcast(nCnt))
        .join(mass.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) / col("__n") +
            lit(damping) * coalesce(col("__mass"), lit(0d))).as("pr"))
    }
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** Synchronous label-propagation community detection (Raghavan 2007)
    * over an undirected graph, `rounds` pinned iterations: every node
    * starts as its own community and each round adopts the most
    * frequent label among its neighbors (ties → smallest label — the
    * determinism the classic random-order LPA gives up; synchronous
    * updates can oscillate on bipartite structures, which pinned
    * rounds render harmless and replayable). Returns the community
    * SIZE HISTOGRAM (size, n_communities) — the shape a corpus-level
    * community audit reads (one giant component? thousands of pairs?),
    * stable under label renaming.
    *
    * Scale shape: each round is one edge⋈label join, one combinable
    * (node, label) count, and a per-node top-1 window (partitioned by
    * node, never global), MATERIALIZED between rounds to truncate
    * lineage exactly like [[pagerank]]. All counts exact integers.
    */
  /** Node → community label after `rounds` synchronous majority votes
    * (ties by smallest label) — the assignment surface behind
    * [[labelPropagation]] and [[modularity]].
    */
  def labelPropagationAssign(edges: DataFrame, aCol: String, bCol: String,
                             rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // simple graph: duplicate and reversed input pairs collapse, so a
    // pair co-occurring in many baskets still casts ONE vote.
    // Cached PRE-PARTITIONED on the join key m: the per-round label
    // join then reads the cache's partitioning instead of re-shuffling
    // the edge table once per round (only the domain-sized label table
    // moves).
    val und = graft.data.ScopedCaches.materialize(
      edges.select(col(aCol).as("n"), col(bCol).as("m"))
        .union(edges.select(col(bCol).as("n"), col(aCol).as("m")))
        .distinct()
        .repartition(col("m")))
    var lab = und.select(col("n").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      // one explicit repartition on n, then BOTH aggregates ride it
      // (HashPartitioning(n) satisfies the (n, lbl) clustering): two
      // exchanges per round total, and the per-node top-1 is a
      // combinable min(struct(-c, lbl)) aggregate — same row as the
      // former row_number window (c desc, lbl asc over distinct
      // (n, lbl) rows has a unique head), without sorting the vote
      // table every round. The count is negated, never the label, so
      // any orderable label type (strings, Long.MinValue) is safe
      val votes = und.join(lab.withColumnRenamed("node", "m")
            .hint("shuffle_hash"), "m")
        .select(col("n"), col("lbl"))
        .repartition(col("n"))
      lab = graft.data.ScopedCaches.materialize(
        votes.groupBy(col("n"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("n"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
          .select(col("n").as("node"), col("m.lbl").as("lbl")))
    }
    lab
  }

  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame =
    labelPropagationAssign(edges, aCol, bCol, rounds)
      .groupBy(col("lbl")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))

  /** Newman modularity Q of the [[labelPropagationAssign]] partition:
    * Q = Σ_c [e_c/m − (d_c/2m)²] — how much denser the found
    * communities are than a degree-preserving random rewiring. The
    * quality number that tells you whether the partition is real
    * structure (Q ≳ 0.3 in practice) or noise — label prop alone
    * reports sizes, not whether they mean anything.
    *
    * Exact: Q = Σ_c (4·m·e_c − d_c²) / (4m²) — numerator terms are
    * plain BIGINT products summed in DECIMAL(38,0), one double divide
    * at the end. Work: the label-prop rounds (domain-sized label
    * table joined to the edge list per round), one degree aggregate,
    * one community-keyed edge count; nothing touches the corpus after
    * the edge build.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 rounds: Int): DataFrame = {
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val canonC = graft.data.ScopedCaches.track(canon)
    val assign = graft.data.ScopedCaches.track(
      labelPropagationAssign(canonC, "u", "v", rounds))
    val deg = canonC.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val mTot = canonC.agg(count(lit(1)).as("m"))
    val dc = assign.join(deg.withColumnRenamed("x", "node"), "node")
      .groupBy(col("lbl")).agg(sum(col("d")).as("d_c"))
    val ec = canonC
      .join(assign.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(assign.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_c"))
    val terms = dc.join(ec, Seq("lbl"), "left")
      .crossJoin(broadcast(mTot))
      .select(((lit(4L) * col("m") * coalesce(col("e_c"), lit(0L))) -
        col("d_c") * col("d_c")).cast("decimal(38,0)").as("t"))
    terms.agg(count(lit(1)).as("n_communities"), sum(col("t")).as("num"))
      .crossJoin(broadcast(mTot))
      .select(col("n_communities"), col("m").as("n_edges"),
        when(col("m") > 0,
          round(col("num").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")),
            6)).as("modularity"))
  }

  /** k-core peeling profile: `rounds` pinned iterations of "drop every
    * node with degree < k, discard its edges", reporting surviving
    * (nodes, edges) after each round — the density-skeleton extraction
    * behind community cores and spam-ring detection (Seidman 1983).
    * Peeling cascades: removing a weak node can push neighbors below
    * k, so one round is NOT the k-core; the profile converging (two
    * equal consecutive rows) certifies the fixpoint, and a profile
    * still moving at round R says to raise `rounds`. Rounds past the
    * fixpoint repeat the final row — harmless and deterministic.
    *
    * Scale shape: each round is one combinable degree aggregate plus
    * two node-keyed semi-joins, MATERIALIZED between rounds (the next
    * round's aggregate and this round's stats row both re-read it;
    * without the cut the plan doubles per round exactly like an
    * unrolled power iteration). Stats rows are lazy one-row aggregates
    * unioned at the end — no driver-side result assembly.
    */
  def kCorePeeling(edges: DataFrame, aCol: String, bCol: String,
                   k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    // localCheckpoint, not cache: each round references the previous
    // survivor set TWICE (degree aggregate + semi-join probe), so an
    // un-truncated lineage doubles per round — 2^rounds copies of the
    // edge-generation subtree blow up analysis before a single task
    // runs. Checkpointing pins the round to its RDD blocks.
    var e = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct().localCheckpoint(true)
    val roundSets = (1 to rounds).map { r =>
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val keep = broadcast(deg.filter(col("d") >= k).select(col("x")))
      e = e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      r -> e
    }
    roundSets.map { case (r, er) =>
      val nodes = er.select(explode(array(col("u"), col("v"))).as("x"))
        .agg(count_distinct(col("x")).as("n_nodes"))
      val cnt = er.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(cnt).select(lit(r).as("round"), col("n_nodes"),
        col("n_edges"))
    }.reduce(_.unionByName(_))
  }

  /** BFS reach profile from the top-degree node: per hop, the frontier
    * size and cumulative reach — the small-world audit ("how many hops
    * until a hub touches everything") that sizes iteration counts for
    * label propagation, PageRank convergence, and contamination blast
    * radius. The seed is the max-(degree, smaller-id) node, so the
    * probe is deterministic. Hops past saturation emit frontier 0 and
    * a flat reach — harmless, and the flat tail certifies saturation.
    *
    * Scale shape: each hop is one node-keyed join of the adjacency
    * with the (broadcast) frontier plus an anti-join against reached,
    * `localCheckpoint`ed — frontier/reached are re-read next hop AND
    * by the stats rows, the same 2^hops lineage trap as
    * [[kCorePeeling]]. No collect; the seed is a one-row broadcast.
    */
  def bfsReach(edges: DataFrame, aCol: String, bCol: String,
               hops: Int): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val canon = edges.filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val adj = canon.select(col("u").as("s"), col("v").as("t"))
      .unionByName(canon.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint(true)
    val deg = adj.groupBy(col("s")).agg(count(lit(1)).as("d"))
    val seed = deg.agg(max(struct(col("d"), (-col("s")).as("ns")))
        .as("m"))
      .select((-col("m.ns")).as("x"))
      .localCheckpoint(true)
    var frontier = seed
    var reached = seed.localCheckpoint(true)
    val hopStats = (1 to hops).map { h =>
      val next = adj.join(broadcast(frontier.select(col("x").as("s"))),
          Seq("s"))
        .select(col("t").as("x")).distinct()
        .join(reached, Seq("x"), "left_anti")
        .localCheckpoint(true)
      reached = reached.unionByName(next).localCheckpoint(true)
      frontier = next
      val f = next.agg(count(lit(1)).as("frontier"))
      val rr = reached.agg(count(lit(1)).as("reached"))
      f.crossJoin(rr).select(lit(h).as("hop"), col("frontier"),
        col("reached"))
    }
    hopStats.reduce(_.unionByName(_))
  }

  /** Triangle count + global clustering coefficient of an undirected
    * graph, via the degree-ordered (compact-forward) enumeration —
    * the classic distributed-triangle trick (Suri & Vassilvitskii's
    * MR algorithm; Latapy 2008): orient every edge from its lower-
    * (degree, id) endpoint to the higher, enumerate length-2 paths
    * ONLY at each node's outgoing side, and close them against the
    * oriented edge set. Orientation bounds every node's out-degree by
    * O(√m), so the wedge join never explodes on hubs — the naive
    * per-node wedge count is Σd², which a single celebrity node turns
    * quadratic, while the oriented Σ out-d² is O(m^1.5) worst case.
    *
    * Input: `edges` with two node columns; rows are deduplicated and
    * canonicalized (u < v) here, self-loops dropped. Output: one row —
    * nodes, edges, triangles, wedges (open+closed = Σ d(d−1)/2), and
    * the global clustering coefficient 3·T / wedges (0 when wedge-
    * free), all exact integers except the 6dp-rounded coefficient.
    *
    * Scale shape: degree is one combinable aggregate; orientation is
    * two broadcast-or-shuffle joins on the node key; the wedge join
    * self-joins the oriented edges on the spoke node and probes the
    * closing edge on (b, c) — three shuffles total, all on node/edge
    * keys, no window, no collect.
    */
  def triangleStats(edges: DataFrame, aCol: String,
                    bCol: String): DataFrame = {
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val canonC = graft.data.ScopedCaches.track(canon)
    val deg = canonC.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val degC = graft.data.ScopedCaches.track(deg)
    val withDeg = canonC
      .join(degC.select(col("x").as("u"), col("d").as("du")), "u")
      .join(degC.select(col("x").as("v"), col("d").as("dv")), "v")
    // orient low-(degree, id) -> high-(degree, id)
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("b"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("dv"))
        .otherwise(col("du")).as("db"))
    val orientedC = graft.data.ScopedCaches.track(oriented)
    val w1 = orientedC.select(col("a"), col("b").as("x1"),
      col("db").as("d1"))
    val w2 = orientedC.select(col("a"), col("b").as("x2"),
      col("db").as("d2"))
    // wedges at the low end, ordered so each triangle closes once
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("x1") < col("x2")))
    val closing = orientedC.select(col("a").as("x1"), col("b").as("x2"))
    // shuffled-hash, not sort-merge: the streamed side is the oriented
    // wedge set (Σ out-d² rows) and a sort-merge join would SORT it;
    // the hash build side is the edge set, bounded per partition
    val tri = wedges.join(closing.hint("shuffle_hash"), Seq("x1", "x2"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = degC.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") /
            col("n_wedges"), 6)).as("global_clustering"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive means
    * hubs attach to hubs (social-network shape), negative means hubs
    * fan out to leaves (infrastructure/star shape). One number that
    * predicts how the graph responds to hub removal and how fast
    * label-prop/PageRank mix.
    *
    * All five moment sums are exact integers (DECIMAL(38,0) for the
    * products — degree² × edges overflows BIGINT on dense graphs); the
    * final r is one fixed-order double expression. One combinable
    * degree aggregate + two node-keyed joins; moments over the edge
    * list, no window.
    */
  def degreeAssortativity(edges: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val canonC = graft.data.ScopedCaches.track(canon)
    val deg = canonC.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val degC = graft.data.ScopedCaches.track(deg)
    // symmetrize: each undirected edge contributes (du,dv) and (dv,du)
    val ends = canonC
      .join(degC.select(col("x").as("u"), col("d").as("du")), "u")
      .join(degC.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(explode(array(struct(col("du").as("x"), col("dv").as("y")),
        struct(col("dv").as("x"), col("du").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    val dec = "decimal(38,0)"
    val mom = ends.agg(count(lit(1)).as("m"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val stats = degC.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"))
    val den =
      sqrt(col("m").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) *
      sqrt(col("m").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double"))
    stats.crossJoin(broadcast(mom))
      .select(col("n_nodes"), col("n_edges"),
        // zero degree variance (e.g. a perfect matching or a cycle)
        // leaves the correlation undefined — null, not a zero-div
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round((col("m").cast("double") *
              col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) / den,
            6)).as("assortativity"))
  }

  /** Per-node local clustering coefficient — c(v) = 2·T(v)/(d(v)·(d(v)−1)),
    * the fraction of v's neighbor pairs that are themselves connected —
    * for the `topK` highest-degree nodes (tie → lower id). The node-level
    * readout [[triangleStats]]'s single global number averages away:
    * a hub with c ≈ 0 is a broker bridging otherwise-separate baskets, a
    * hub with high c sits inside a dense community.
    *
    * Same degree-ordered enumeration as [[triangleStats]] (each triangle
    * closes exactly once), then each closed triangle credits all THREE
    * corners via one explode — so per-node counts cost one extra
    * combinable aggregate over 3·T rows, nothing quadratic. Exact
    * integers throughout; only the 6dp coefficient divides.
    */
  def localClustering(edges: DataFrame, aCol: String, bCol: String,
                      topK: Int = 50): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val canonC = graft.data.ScopedCaches.track(canon)
    val deg = canonC.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val degC = graft.data.ScopedCaches.track(deg)
    val withDeg = canonC
      .join(degC.select(col("x").as("u"), col("d").as("du")), "u")
      .join(degC.select(col("x").as("v"), col("d").as("dv")), "v")
    val low = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(low, col("u")).otherwise(col("v")).as("a"),
      when(low, col("v")).otherwise(col("u")).as("b"),
      when(low, col("dv")).otherwise(col("du")).as("db"))
    val orientedC = graft.data.ScopedCaches.track(oriented)
    val w1 = orientedC.select(col("a"), col("b").as("x1"), col("db").as("d1"))
    val w2 = orientedC.select(col("a"), col("b").as("x2"), col("db").as("d2"))
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("x1") < col("x2")))
    val closing = orientedC.select(col("a").as("x1"), col("b").as("x2"))
    // shuffled-hash: stream the wedge set, hash-build the edge set —
    // same rationale as [[triangleStats]]'s closing join
    val triNodes = wedges.join(closing.hint("shuffle_hash"), Seq("x1", "x2"))
      .select(explode(array(col("a"), col("x1"), col("x2"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("t"))
    // top-k cut FIRST (TakeOrdered, never a global one-partition sort
    // of the whole node table), THEN the rank window over ≤ topK rows —
    // the same shape as [[adamicAdar]]'s ranking
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("degree").desc, col("node").asc)
    degC.join(triNodes, Seq("x"), "left")
      .select(col("x").as("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"))
      .orderBy(col("degree").desc, col("node").asc).limit(topK)
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .select(col("node"), col("degree"), col("n_triangles"),
        col("rn").as("degree_rank"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * col("n_triangles") /
            (col("degree").cast("double") * (col("degree") - 1L)), 6))
          .as("local_clustering"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): score every
    * non-adjacent pair (u,v) by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — shared
    * rare neighbors are strong evidence of a missing edge, shared hubs
    * almost none — and return the `topK` predicted links. The standard
    * "which parts will be bought together next" / "which entities are
    * the same" readout over any co-occurrence graph.
    *
    * Execution: wedges through each center w (adjacency self-joined on
    * w, spokes ordered u<v so each pair forms once per shared
    * neighbor), weight 1/ln(deg w) pinned to a ×10⁹ integer at the
    * center — the per-pair score is then an exact integer sum, so the
    * ranking is total-order deterministic and replays exactly in SQL.
    * Known edges leave by left-anti join on the canonical pair; the
    * ranking is TakeOrdered (sort+limit), never a global window.
    *
    * Scale: wedge fan-out is Σ deg(w)² — quadratic ONLY at hub
    * centers, which contribute the least score (1/ln d → 0) and the
    * least signal. `maxCenterDegree` drops centers above the cap
    * (default 10k: a 10k-degree hub still costs 10⁸ wedge rows but
    * adds ≤0.1086 per pair); the cap is part of the operator's
    * definition and is replayed identically by the oracle.
    *
    * Shape note (measured, do not "optimize" back): a per-center
    * sorted-neighbor-array + two-level-explode variant (collect_list →
    * posexplode → explode(slice(tail))) was A/B'd at sf0.1 and read
    * 26.1 s vs this join's 21.6 s min-of-3 — the object-hash
    * collect_list aggregate and per-row slice copies cost more than
    * the join saves, because the self-join stays in whole-stage
    * codegen over one materialized adjacency. The groupBy(u,v)
    * shuffle of the wedge set dominates either way.
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 topK: Int = 20, maxCenterDegree: Long = 10000L): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    require(maxCenterDegree >= 2, s"need maxCenterDegree >= 2")
    val canon = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val canonC = graft.data.ScopedCaches.track(canon)
    val deg = canonC.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // symmetrized adjacency with the center's pinned weight attached
    val adj = canonC
      .select(explode(array(struct(col("u").as("w"), col("v").as("n")),
        struct(col("v").as("w"), col("u").as("n")))).as("e"))
      .select(col("e.w").as("w"), col("e.n").as("n"))
      .join(deg.select(col("x").as("w"), col("d")), "w")
      .filter(col("d") >= 2L && col("d") <= maxCenterDegree)
      .select(col("w"), col("n"),
        round(lit(1e9) / log(col("d").cast("double"))).cast("long")
          .as("w9"))
    // materialized: the self-join's two map stages are submitted
    // concurrently and each would recompute the explode + degree join
    // (the two sides project different columns, so ReuseExchange never
    // fires on the raw plan)
    val adjC = graft.data.ScopedCaches.materialize(adj)
    val s1 = adjC.select(col("w"), col("n").as("u"), col("w9"))
    val s2 = adjC.select(col("w"), col("n").as("v"))
    val scores = s1.join(s2, Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(sum(col("w9")).as("score9"))
      // shuffled-hash, not sort-merge: the streamed side is the
      // Σdeg²-sized pair-score table and a sort-merge anti join would
      // SORT it; the hash build side is only the edge set, bounded per
      // partition. Scale-safe at any corpus size (both sides stay
      // shuffled) — this only skips the sort.
      .join(canonC.hint("shuffle_hash"), Seq("u", "v"), "left_anti")
    val top = scores
      .orderBy(col("score9").desc, col("u"), col("v")).limit(topK)
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("score9").desc, col("u"), col("v"))
    top.withColumn("rank", row_number().over(wRank).cast("long"))
      .select(col("u"), col("v"),
        round(col("score9").cast("double") / lit(1e9), 6).as("aa_score"),
        col("rank"))
  }
}
