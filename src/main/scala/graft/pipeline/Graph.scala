package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.Materialize
import graft.exec.Materialize.Pin

/** Graph analytics over edge lists — the second graph primitive after
  * [[Dedup.connectedComponents]]. PageRank here is EXACT FIXED-POINT
  * arithmetic end to end: ranks live as integer micro-units and every
  * per-iteration operation is an integer division or an integer sum, so
  * the result is bit-identical under any partitioning, any addition
  * order, and any engine — an independent SQL engine reproduces every
  * rank value exactly (the q134-class portability discipline, applied to
  * an iterative algorithm). Floating-point PageRank cannot make that
  * promise: its per-node sums are addition-order-sensitive at the last
  * ulp, which compounds across iterations.
  */
object Graph {

  /** The directed edge list every graph operator reads: `(__s, __d)` with
    * both endpoints cast to strings and rows with a NULL endpoint dropped.
    * With `weight = Some((weightCol, op))` it also carries `__w`: the
    * column must be integral (checked on the driver — a cast would
    * truncate 2.5 to 2), a NULL weight drops the row, and a non-positive
    * weight raises `"$op: non-positive weight in '…'"` (zero is a deleted
    * edge, a negative weight has no mass or path semantics).
    */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String,
      weight: Option[(String, String)] = None): DataFrame = {
    Inputs.present(edges, "edge list",
      Seq(srcCol, dstCol) ++ weight.map(_._1): _*)
    val wExpr = weight.map { case (w, op) =>
      Inputs.integral(edges, op, "weight column", w)
      when(col(w).cast("long") <= 0L,
        raise_error(concat(lit(s"$op: non-positive weight in '$w': "),
          col(w).cast("string"))).cast("long"))
        .otherwise(col(w).cast("long"))
    }
    edges
      .select(Seq(col(srcCol).cast("string").as("__s"),
        col(dstCol).cast("string").as("__d")) ++ wExpr.map(_.as("__w")): _*)
      .where(wExpr.map(_ => col("__w").isNotNull)
        .foldLeft(col("__s").isNotNull && col("__d").isNotNull)(_ && _))
  }

  /** The undirected simple graph of `edges`: one `(__u, __v)` row with
    * `__u < __v` per connected pair — direction, duplicate rows and
    * self-loops normalized away.
    */
  private def simple(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    directed(edges, srcCol, dstCol)
      .where(col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("__u"),
        greatest(col("__s"), col("__d")).as("__v"))
      .distinct()

  /** The undirected simple graph of `edges` in BOTH orientations: a
    * `(__u, __v)` and a `(__v, __u)` row per pair, self-loops dropped.
    *
    * assumeCanonical (r14, guide §2.4 — remove shuffles outright): the
    * `distinct` is a full shuffle of BOTH orientations (2|E| rows) whose
    * only job is to collapse duplicate input rows and mutual orientations.
    * A caller whose edge list is already DISTINCT with at most one
    * orientation per pair (e.g. produced with a `src < dst` guard, or
    * bipartite with disjoint endpoint namespaces) gets the identical
    * symmetric simple graph without it — the swapped copy of a
    * one-orientation distinct set cannot collide with the original. The
    * burden of proof is the CALLER's; a wrong claim double-counts edges.
    */
  private def symmetric(edges: DataFrame, srcCol: String, dstCol: String,
      assumeCanonical: Boolean): DataFrame = {
    val d = directed(edges, srcCol, dstCol).where(col("__s") =!= col("__d"))
    val both = d.select(col("__s").as("__u"), col("__d").as("__v"))
      .unionByName(d.select(col("__d").as("__u"), col("__s").as("__v")))
    if (assumeCanonical) both else both.distinct()
  }

  /** Both orientations `(__s, __w)` of a [[simple]] edge table. */
  private def adjacency(und: DataFrame): DataFrame =
    und.select(col("__u").as("__s"), col("__v").as("__w"))
      .unionByName(und.select(col("__v").as("__s"), col("__u").as("__w")))

  /** The distinct non-NULL ids of `seeds` as strings, in column `name`. */
  private def seedSet(
      seeds: DataFrame, seedCol: String, name: String): DataFrame = {
    Inputs.present(seeds, "seeds side", seedCol)
    seeds.select(col(seedCol).cast("string").as(name))
      .where(col(name).isNotNull).distinct()
  }

  /** PageRank with integer fixed-point arithmetic.
    *
    * Semantics (the public power-iteration formulation, e.g. Brin & Page
    * 1998, with the common "dangling mass dropped" simplification):
    *   r_0(v)    = scale div N                      (integer)
    *   c_t(u->v) = r_t(u) div outdeg(u)             (integer division)
    *   r_{t+1}(v) = ((den-num) * (scale div N)) div den
    *              + (num * sum_incoming c_t) div den
    * with damping d = num/den (default 85/100). Dropped division
    * remainders vanish at `scale` = 1e12 micro-units (relative error
    * ~N/scale per iteration); what matters is that BOTH engines drop the
    * SAME remainders, so the released longs agree bit for bit. Nodes are
    * the distinct endpoints of `edges`; dangling nodes (no out-edges)
    * keep receiving the teleport term but leak their rank mass, the
    * standard simplification when the release is a ranking rather than a
    * probability (documented so the oracle can mirror it).
    *
    * Scale shape: per iteration, ONE join of the rank table (N rows)
    * against the edge list on the source key and ONE destination-keyed
    * sum — both shuffle bounded-width (node, long) rows, never payloads.
    * The rank table is localCheckpoint'd each round so the plan stays
    * O(1) deep instead of doubling (the [[Dedup.connectedComponents]]
    * discipline); iterations is explicitly bounded. Multi-edges count
    * multiply — pre-`distinct` the edge list for simple-graph semantics.
    *
    * Returns (node, rank_fp): the fixed-point rank in `scale` units.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingNum: Long = 85L, dampingDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, dampingNum, dampingDen,
      scale, seeds = None, weightCol = None)

  /** Weighted PageRank: each edge u->v carries a positive INTEGER weight
    * and u's rank mass splits proportionally —
    * c_t(u->v) = (r_t(u) * w(u->v)) div totalOutWeight(u) — the natural
    * ranking when edges have magnitudes (trade volume, message counts,
    * shared-item counts). Same exact fixed-point arithmetic, same
    * one-join-one-sum iteration shape as [[pageRank]]; with all weights 1
    * the two are bit-identical. The weight column must be integral; rows
    * with a NULL weight drop like NULL endpoints, and a non-positive weight
    * fails loudly (a zero weight is a deleted edge). Caller
    * contract: scale * max(weight) must fit a signed 64-bit long (the
    * default 1e12 scale leaves ~9.2e6 of weight headroom); weights beyond
    * that should be pre-divided by a common factor, which leaves the
    * proportions — and therefore the ranks — unchanged up to remainders.
    */
  def pageRankWeighted(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int = 5, dampingNum: Long = 85L, dampingDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, dampingNum, dampingDen,
      scale, seeds = None, weightCol = Some(weightCol))

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds`
    * (restricted to nodes present in the graph) instead of uniformly —
    * the graph-proximity measure behind "similar to these accounts" /
    * "related to this cluster" queries. Same exact fixed-point
    * arithmetic and iteration shape as [[pageRank]]: base(v) =
    * scale div |seeds| for seed nodes, 0 otherwise, and the oracle
    * reproduces every rank bit for bit.
    */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 5, dampingNum: Long = 85L, dampingDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, dampingNum, dampingDen,
      scale, seeds = Some(seedSet(seeds, seedCol, "__n")), weightCol = None)

  /** [[personalizedPageRank]] with [[pageRankWeighted]]'s proportional
    * mass split — proximity to a seed set over a weighted graph ("which
    * accounts sit closest to this cluster, by traffic volume"). Both
    * parameter contracts apply verbatim.
    */
  def personalizedPageRankWeighted(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 5, dampingNum: Long = 85L, dampingDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, dampingNum, dampingDen,
      scale, seeds = Some(seedSet(seeds, seedCol, "__n")),
      weightCol = Some(weightCol))

  private def pageRankImpl(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingNum: Long, dampingDen: Long,
      scale: Long, seeds: Option[DataFrame],
      weightCol: Option[String]): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping must be a fraction in [0, 1]: $dampingNum/$dampingDen")
    require(scale >= 1000000L, s"scale too coarse for stable ranks: $scale")
    // exact-arithmetic headroom: every per-iteration term multiplies a
    // value bounded by `scale` (rank mass, teleport base) by a damping
    // component — dampingDen * scale must fit a signed long or the
    // "bit-identical on any engine" promise silently wraps. 85/100 is the
    // same fraction as 85e7/1e9; callers must pass the REDUCED form.
    require(dampingDen <= Long.MaxValue / scale,
      s"dampingDen ($dampingDen) * scale ($scale) exceeds signed-64-bit " +
        "headroom and the exact fixed-point arithmetic would overflow — " +
        "reduce the damping fraction (e.g. 85/100, not 85e10/1e12)")
    // pre-partitioned by source ONCE: every iteration's contribution join
    // keys on __s, so while the pin keeps the physical partitioning the
    // (big) edge table never crosses the wire again — without it, each of
    // the `iterations` joins re-shuffles the whole edge list (the dominant
    // volume at 100 TB). The pin keeps it only with adaptive execution
    // off: under AQE (the default) the pinned frame reports
    // UnknownPartitioning and a non-broadcast join re-shuffles the edges
    val e = directed(edges, srcCol, dstCol,
        weightCol.map(_ -> "pageRankWeighted"))
      .repartition(col("__s"))
      .pin("Graph.pageRank edges")
    // nodes AND out-degree in ONE keyed aggregate (r14, guide §2.4): the
    // old shape ran a union-distinct for the node set plus a separate
    // source-keyed degree aggregate and joined them — two full shuffles of
    // the endpoint list and one join. Tagging each endpoint occurrence
    // with its source-side mass (NULL for destination-only rows) makes a
    // single sum-aggregate produce the distinct node set with its
    // out-degree: sum() ignores NULLs, so a node that only ever appears
    // as a destination (dangling) groups to NULL → coalesce 0, exactly
    // the old left-join + na.fill(0).
    val nodesDeg = e
      .select(col("__s").as("__n"),
        (if (weightCol.isEmpty) lit(1L) else col("__w")).as("__o"))
      .unionByName(e.select(col("__d").as("__n"),
        lit(null).cast("long").as("__o")))
      .groupBy("__n").agg(coalesce(sum(col("__o")), lit(0L)).as("__deg"))
    val nodes = nodesDeg.select("__n")
    // per-node teleport base: uniform scale div N, or — personalized —
    // scale div |seeds in graph| on the seed nodes and 0 elsewhere. One
    // broadcastable count row keeps N out of the driver either way.
    val withBase = seeds match {
      case None =>
        val base = nodes.agg(count(lit(1)).as("__cnt"))
          .select(expr(s"${scale}L div __cnt").as("__base"))
        nodesDeg.crossJoin(broadcast(base))
      case Some(sd) =>
        val inGraph = sd.join(nodes, Seq("__n"), "left_semi")
        // fail loud on an empty in-graph seed set: `scale div 0` is NULL in
        // Spark SQL, which would silently degrade every rank to zero — the
        // opposite of the repo's fail-loud discipline. The check rides the
        // same single-row aggregate (no extra job).
        val base = inGraph.agg(count(lit(1)).as("__cnt"))
          .select(when(col("__cnt") === 0L,
            raise_error(lit("personalizedPageRank: no seed node is present " +
              "in the graph (seeds ∩ edge endpoints is empty)")).cast("long"))
            .otherwise(expr(s"${scale}L div __cnt")).as("__base"))
        nodesDeg
          .join(inGraph.withColumn("__isSeed", lit(true)), Seq("__n"), "left")
          .crossJoin(broadcast(base))
          .select(col("__n"),
            when(col("__isSeed"), col("__base")).otherwise(0L).as("__base"),
            col("__deg"))
    }
    // STATIC per-node columns (base, outdeg — 0 for dangling) live in
    // their own checkpointed table; the evolving rank table carries only
    // (node, rank, deg) — one long narrower per round than the pre-r14
    // shape, which duplicated __base into every round's materialization.
    // The per-round checkpoint itself STAYS: an experiment fusing all
    // rounds into one lazy plan (single-reference recurrence, checkpoint
    // every 8) was measured SLOWER at bench scale — AQE re-optimizes the
    // whole accumulated plan at every stage boundary, so per-round driver
    // overhead grew with the round number instead of staying O(1). Small
    // per-round plans are what keep AQE's replanning constant-time.
    val statics = withBase
      .select(col("__n"), col("__base"), col("__deg"))
      .pin("Graph.pageRank statics")
    var ranks = statics.select(col("__n"), col("__base").as("__r"),
      col("__deg"))
    val teleport = expr(s"((${dampingDen - dampingNum}L * __base) div ${dampingDen}L)")
    for (it <- 1 to iterations) {
      // contribution per edge. Unweighted: c = r div deg is CONSTANT per
      // source, so it is computed once per node (N divisions) and the
      // edge join carries a single long — the narrowest possible shuffle.
      // Weighted: c = (r * w) div deg depends on the edge, so the join
      // carries (r, deg) and divides per edge inside the post-join
      // codegen stage. With unit weights the two formulations are
      // arithmetically identical, keeping results bit-stable either way.
      val perEdge = weightCol match {
        case None => e
          .join(ranks.where(col("__deg") > 0L)
            .select(col("__n").as("__s"), expr("__r div __deg").as("__c")),
            "__s")
        case Some(_) => e
          .join(ranks.where(col("__deg") > 0L)
            .select(col("__n").as("__s"), col("__r"), col("__deg")), "__s")
          .select(col("__d"), expr("(__r * __w) div __deg").as("__c"))
      }
      val contrib = perEdge
        .groupBy(col("__d").as("__n")).agg(sum(col("__c")).as("__in"))
      ranks = statics
        .join(contrib, Seq("__n"), "left")
        .select(col("__n"),
          (teleport +
            expr(s"(${dampingNum}L * coalesce(__in, 0L)) div ${dampingDen}L"))
            .as("__r"),
          col("__deg"))
        .pin(s"Graph.pageRank round $it")
    }
    ranks.select(col("__n").as("node"), col("__r").as("rank_fp"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan,
    * Albert & Kumara 2007), made fully deterministic: every node starts
    * labeled with its own id, and each round SIMULTANEOUSLY relabels
    * every node with the most frequent label among its neighbors —
    * frequency ties broken by the SMALLEST label (the classic LPA
    * randomizes tie-breaks and update order; both choices are pinned
    * here so any engine reproduces every label, the exact-arithmetic
    * discipline of [[pageRank]] applied to community structure). The
    * corpus-curation use: topical communities in co-occurrence /
    * co-citation graphs built by [[bipartiteProjection]], feeding
    * diversity sampling and per-community review.
    *
    * Edges are treated as UNDIRECTED simple edges (both orientations
    * added, then distinct — multi-edges do not multiply votes); NULL
    * endpoints drop; self-loops are ignored (a node voting its own label
    * freezes it). Isolated nodes cannot appear in an edge list, so every
    * released node has >= 1 neighbor. Released: (node, label) after
    * `iterations` rounds — labels are node ids, so |distinct labels| =
    * community count; synchronous LPA on bipartite-ish regions can
    * oscillate 2-cycles rather than converge, which bounded `iterations`
    * (and determinism) makes a defined, reproducible release rather
    * than a run-dependent one.
    *
    * Scale shape per round: the label table joins the (pre-partitioned,
    * checkpointed) edge list on the neighbor key — the edge table does not
    * re-shuffle while the pin keeps its partitioning, which holds today
    * only with adaptive execution off (the [[pageRankImpl]] caveat) — then one
    * (node, label)-keyed count with map-side partials and one node-keyed
    * min-of-(-count, label) argmax, both bounded-width; the label table
    * re-checkpoints per round so the plan stays O(1) deep.
    */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, assumeCanonical: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    // node __u takes the most frequent label among its neighbors __v
    val e = symmetric(edges, srcCol, dstCol, assumeCanonical)
      .repartition(col("__v"))
      .pin("Graph.labelPropagation edges")
    var labels = e.select(col("__u").as("__n")).distinct()
      .select(col("__n"), col("__n").as("__lab"))
      .pin("Graph.labelPropagation labels")
    // per-round checkpoint kept deliberately: fusing all rounds into one
    // lazy plan was measured SLOWER at bench scale (the pageRankImpl
    // note — AQE re-optimizes the accumulated plan at every stage
    // boundary), so each round stays a small, constant-size plan
    for (round <- 1 to iterations) {
      labels = e
        .join(labels.select(col("__n").as("__v"), col("__lab")), "__v")
        .groupBy(col("__u"), col("__lab"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__u"))
        .agg(min(struct((-col("__c")).as("nc"), col("__lab").as("l")))
          .as("__b"))
        .select(col("__u").as("__n"), col("__b").getField("l").as("__lab"))
        .pin(s"Graph.labelPropagation round $round")
    }
    labels.select(col("__n").as("node"), col("__lab").as("label"))
  }

  /** Bipartite projection: collapse a two-mode edge list (shared, proj)
    * into the one-mode co-occurrence graph on `projCol` — (u, v,
    * n_shared) for every pair of proj-nodes with >= `minShared` common
    * shared-nodes. The co-purchase / co-authorship / co-occurrence graph
    * builder that feeds [[triangleCounts]], [[pageRank]], and community
    * work.
    *
    * Scale shape: one distinct, one self-equi-join keyed on the shared
    * node, one (u, v)-keyed count. The join fans out deg(shared)^2 per
    * shared node — a single hub ("everyone bought milk") quadratically
    * floods the projection with edges that carry no signal, so
    * `maxSharedDegree` DROPS shared nodes above the cap before the join
    * (the graph analogue of stopword removal; deterministic and mirrored
    * exactly in SQL). Pass None only when the shared side's degree is
    * structurally bounded (e.g. suppliers per order).
    */
  def bipartiteProject(
      edges: DataFrame, sharedCol: String, projCol: String,
      minShared: Long = 1L, maxSharedDegree: Option[Long] = None): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    maxSharedDegree.foreach(m =>
      require(m >= 1L, s"maxSharedDegree must be >= 1, got $m"))
    Inputs.present(edges, "edge list", sharedCol, projCol)
    val base = edges
      .select(col(sharedCol).cast("string").as("__sh"),
        col(projCol).cast("string").as("__p"))
      .where(col("__sh").isNotNull && col("__p").isNotNull)
      .distinct()
    val kept = maxSharedDegree match {
      case None => base
      case Some(cap) =>
        val deg = base.groupBy("__sh").agg(count(lit(1)).as("__deg"))
          .where(col("__deg") <= cap).select("__sh")
        base.join(deg, "__sh")
    }
    kept.select(col("__sh"), col("__p").as("__u"))
      .join(kept.select(col("__sh"), col("__p").as("__v")), "__sh")
      .where(col("__u") < col("__v"))
      .groupBy(col("__u").as("u"), col("__v").as("v"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-node triangle counts on the UNDIRECTED simple graph of `edges`
    * (direction, duplicates, and self-loops are normalized away) — the
    * clustering/community signal behind cohesion metrics.
    *
    * Degree-ordered compact-forward (Schank & Wagner 2005 / Latapy
    * 2008, the standard distributed-triangle trick): every edge orients
    * from its (degree, id)-smaller endpoint, so each node's out-degree
    * is O(sqrt(m)) and the wedge join generates O(m^1.5) candidates
    * TOTAL regardless of hub skew — the naive shared-vertex wedge join
    * is O(sum deg^2), which one celebrity node turns into a full
    * cross-join. Every triangle appears exactly once as an oriented
    * wedge (a->b, a->c) closed by the oriented edge (b->c).
    *
    * Plan shape: a degree aggregate, two equi-joins to orient, one
    * wedge self-join keyed on the wedge apex, one closing equi-join on
    * the (b, c) pair, one explode + keyed count. All shuffles carry
    * (node, node) string pairs. Deterministic: the orientation is a
    * pure function of (degree, id), so the oracle reproduces it in SQL
    * row for row.
    */
  def triangleCounts(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = simple(edges, srcCol, dstCol).pin("Graph.triangleCounts edges")
    val deg = und.select(col("__u").as("__n"))
      .unionByName(und.select(col("__v").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    // orient each edge from its (degree, id)-smaller endpoint
    val oriented = und
      .join(deg.select(col("__n").as("__u"), col("__deg").as("__du")), "__u")
      .join(deg.select(col("__n").as("__v"), col("__deg").as("__dv")), "__v")
      .select(
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          struct(col("__u").as("s"), col("__v").as("d")))
          .otherwise(struct(col("__v").as("s"), col("__u").as("d")))
          .as("__e"))
      .select(col("__e.s").as("__s"), col("__e.d").as("__d"))
      .pin("Graph.triangleCounts oriented")
    // wedges at apex a: out-neighbor pairs (b, c) in orientation order
    val degOf = deg // (node, deg) — reused to order the wedge pair
    val out = oriented
      .join(degOf.select(col("__n").as("__d"), col("__deg").as("__dd")), "__d")
    val wedges = out.select(col("__s"), col("__d").as("__b"), col("__dd").as("__db"))
      .join(out.select(col("__s"), col("__d").as("__c"), col("__dd").as("__dc")),
        "__s")
      .where(struct(col("__db"), col("__b")) < struct(col("__dc"), col("__c")))
    val triangles = wedges
      .join(oriented.select(col("__s").as("__b"), col("__d").as("__c")),
        Seq("__b", "__c"))
      .select(col("__s").as("a"), col("__b").as("b"), col("__c").as("c"))
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distances: every node reachable from `seeds`
    * within `maxHops` directed hops, labeled with its MINIMUM hop count —
    * the blast-radius / contamination-spread primitive ("everything
    * within k hops of these flagged accounts"). Unreached nodes are
    * absent.
    *
    * Level-synchronous frontier expansion, the textbook distributed BFS:
    * each round joins only the PREVIOUS round's newly-settled frontier
    * against the edge list (never the full distance table), anti-joins
    * out already-settled nodes, and stops early when a frontier comes
    * back empty. Distances are exact integers — deterministic under any
    * partitioning, trivially mirrored by a recursive SQL CTE. Rounds are
    * bounded by `maxHops`; each is one equi-join + one anti-join
    * shuffling (node, hop) pairs only, with the accumulated table
    * localCheckpoint'd so the plan stays O(1) deep.
    */
  def bfsDistances(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops must be in [0, 64], got $maxHops")
    // NOT pre-partitioned by source (unlike pageRankImpl): the frontier
    // side broadcasts, so the edge table never shuffles anyway — an
    // upfront repartition would only add an exchange (measured +15%)
    val e = directed(edges, srcCol, dstCol).pin("Graph.bfsDistances edges")
    val seed0 = Materialize(seedSet(seeds, seedCol, "__n")
      .withColumn("__dist", lit(0L)), "Graph.bfsDistances seeds")
    frontierLoop(e, seed0, Nil, maxHops, "Graph.bfsDistances")
      .select(col("__n").as("node"), col("__dist").as("dist"))
  }

  /** The level-synchronous expansion shared by [[bfsDistances]] (no key)
    * and [[reachProfile]] (keyed by `__seed`): `settled0` holds the hop-0
    * rows `(key..., __n, __dist)`. Each round joins the previous round's
    * new (key, node) pairs against the edge table `e` (`__s`, `__d`),
    * dedupes, anti-joins out the already-settled pairs and checkpoints the
    * new level at `__dist = hop`; it stops after `maxHops` rounds or at
    * the first empty level, read from the level's own pin. `op` names the
    * caller in the pin labels. Returns the settled table.
    *
    * ONE accumulated settled table, re-checkpointed per round, instead of
    * a growing list of per-level frontiers: with the list, round k's
    * anti-join scheduled k separate scans and the final union was k-wide,
    * so deep traversals paid O(hops) plan width per round; with the
    * accumulator, every round reads exactly one in-memory table and the
    * plan stays O(1) wide at any depth. The union write is the frontier
    * appended to memory-resident blocks — the already-settled partitions
    * are cached, so the incremental cost per round is the new level, not V.
    */
  private def frontierLoop(e: DataFrame, settled0: Materialize.Pinned,
      key: Seq[String], maxHops: Int, op: String): DataFrame = {
    val pair = key :+ "__n"
    var settled = settled0.df
    var frontier = settled.select(pair.map(col): _*)
    var hop = 0L
    var exhausted = settled0.isEmpty
    while (hop < maxHops && !exhausted) {
      hop += 1
      val next = Materialize(frontier.join(e, frontier("__n") === e("__s"))
        .select(key.map(col) :+ col("__d").as("__n"): _*).distinct()
        .join(settled.select(pair.map(col): _*), pair, "left_anti")
        .withColumn("__dist", lit(hop)), s"$op round $hop")
      if (next.isEmpty) exhausted = true
      else {
        // per-round re-checkpoint of the accumulator KEPT deliberately: a
        // lazy union of the checkpointed levels (strictly less write work
        // on paper) was tried in r14 and measured ~+1.2 s on q141 across
        // two independent bench runs — the per-round anti-join and the
        // final assembly pay more in plan width / broadcast rebuilds over
        // the union than the single materialized table costs to write.
        settled = settled.unionByName(next.df).pin(s"$op settled round $hop")
        frontier = next.df.select(pair.map(col): _*)
      }
    }
    settled
  }

  /** k-core decomposition by iterative peeling (Seidman 1983, "Network
    * structure and minimum degree"): repeatedly delete every node whose
    * degree in the SURVIVING graph is below `k` until none remains —
    * what survives is the k-core, the standard cohesion filter before
    * community work (LPA seeds, spam-farm pruning, dense-subgraph
    * mining). Returns (node, core_deg): surviving nodes with their
    * degree inside the core.
    *
    * The graph is undirected simple: edges are symmetrized and
    * `distinct`-ed, self-loops and NULL endpoints drop. Peeling is
    * bounded by `maxRounds`; on a graph that has not converged by then
    * the result is the `maxRounds`-round peel — a documented
    * overapproximation of the core (every true k-core node is present;
    * some sub-k stragglers may remain). The loop exits early at the
    * fixed point, which by construction equals running all `maxRounds`
    * rounds, so a bounded SQL unroll of the identical recurrence
    * reproduces the output exactly.
    *
    * Scale shape: per round, ONE degree aggregate over the edge table
    * (bounded-width (node, long) rows) and TWO semi-joins filtering the
    * edge list to surviving endpoints — all keyed equi-joins, nothing
    * quadratic, no driver-resident state. The edge table is
    * pinned per round so the plan stays O(1) deep; the round's degree
    * table carries a `__deg < k` flag, and the convergence test reads its
    * count from that table's own pin job.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 16,
      assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k must be in [1, 1e6], got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    var e = symmetric(edges, srcCol, dstCol, assumeCanonical)
      .pin("Graph.kCore edges")
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val deg = Materialize(e.groupBy("__u").agg(count(lit(1)).as("__deg"))
        .withColumn("__low", col("__deg") < k),
        s"Graph.kCore round $round", Some("__low"))
      if (deg.flagged == 0L) converged = true
      else {
        val keep = deg.df.where(col("__deg") >= k).select("__u")
        e = e.join(keep, Seq("__u"), "left_semi")
          .join(keep.select(col("__u").as("__v")), Seq("__v"), "left_semi")
          .pin(s"Graph.kCore edges round $round")
      }
    }
    e.groupBy("__u").agg(count(lit(1)).as("core_deg"))
      .select(col("__u").as("node"), col("core_deg"))
  }

  /** k-truss decomposition by iterative edge peeling (Cohen 2008, "Trusses:
    * cohesive subgraphs for social network analysis"): repeatedly delete
    * every edge whose SUPPORT — the number of triangles it closes in the
    * surviving graph — is below k-2, until none remains. The truss is the
    * edge-level cohesion filter one notch stronger than [[kCore]]: a
    * k-core node merely has k neighbors, a k-truss edge's endpoints share
    * k-2 of them. Returns the surviving canonical edges as
    * (u, v, support) with u < v and support measured inside the truss.
    *
    * Same bounded-peel contract as [[kCore]]: undirected simple graph
    * (canonicalized, deduped, self-loops and NULLs drop), `maxRounds`
    * caps the peel, early exit at the fixed point equals running every
    * remaining round, so a bounded SQL unroll reproduces the output
    * exactly whether or not the peel converged.
    *
    * Scale shape: per round ONE wedge join (each edge against both
    * endpoints' adjacency lists — two keyed equi-joins, fan-out deg(u)
    * per edge, the O(m·d) truss cost) + one (u, v)-keyed count + one
    * left-join filter; the support table is pinned per round with a
    * `support < k-2` flag, so the convergence test reads its count from
    * the pin job, the filter re-scans the pin and the plan stays O(1) deep.
    * The wedge fan-out is the real cost at 100 TB, so a mega-hub fails
    * LOUDLY up front: one bounded degree probe refuses graphs whose max
    * degree exceeds `maxDegree` instead of silently scheduling a
    * deg² explosion — pre-truncate hubs (the [[triangleCounts]]
    * `maxSharedDegree` discipline) and rerun.
    */
  def kTruss(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 16, maxDegree: Long = 10000L): DataFrame = {
    require(k >= 3 && k <= 1000000, s"k must be in [3, 1e6], got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    require(maxDegree >= 2L, s"maxDegree must be >= 2, got $maxDegree")
    var e = simple(edges, srcCol, dstCol).pin("Graph.kTruss edges")
    val hub = adjacency(e).groupBy("__s").agg(count(lit(1)).as("__deg"))
      .where(col("__deg") > maxDegree).limit(1).collect()
    require(hub.isEmpty,
      s"kTruss: node ${hub.headOption.map(_.getString(0)).getOrElse("")} " +
        s"exceeds maxDegree=$maxDegree — the wedge join would fan out " +
        "quadratically on it; truncate hub adjacency first " +
        "(triangleCounts' maxSharedDegree discipline) or raise the cap")
    // triangle support of every edge of `ed`: the two-keyed wedge join,
    // shared by the peel rounds and both release branches so the support
    // semantics cannot fork between them
    def supportOf(ed: DataFrame): DataFrame = {
      val a = adjacency(ed)
      val sup = ed
        .join(a.withColumnsRenamed(Map("__s" -> "__u", "__w" -> "__w1")),
          Seq("__u"))
        .join(a.withColumnsRenamed(Map("__s" -> "__v", "__w" -> "__w1")),
          Seq("__v", "__w1"))
        .groupBy(col("__u"), col("__v")).agg(count(lit(1)).as("__c"))
      ed.join(sup, Seq("__u", "__v"), "left")
        .select(col("__u"), col("__v"),
          coalesce(col("__c"), lit(0L)).as("support"))
    }
    var round = 0
    var converged = false
    var withSup: DataFrame = null
    while (round < maxRounds && !converged) {
      round += 1
      val pinned = Materialize(
        supportOf(e).withColumn("__low", col("support") < k - 2),
        s"Graph.kTruss round $round", Some("__low"))
      withSup = pinned.df
      if (pinned.flagged == 0L)
        converged = true
      else
        // narrow filter/projection over the JUST-checkpointed support
        // table: the next round's three references (edge stream + both
        // adjacency orientations) re-scan cached blocks and re-apply the
        // filter — no recompute to pin, so the old second checkpoint per
        // round was a pure extra materialization job (r14, guide §1.2)
        e = withSup.where(col("support") >= k - 2).select("__u", "__v")
    }
    if (converged)
      withSup.select(col("__u").as("u"), col("__v").as("v"), col("support"))
    else
      // maxRounds hit mid-peel: release the bounded-peel edges with their
      // support measured in the released subgraph (the oracle's rule)
      supportOf(e).select(col("__u").as("u"), col("__v").as("v"),
        col("support"))
  }

  /** Single-source shortest paths with positive INTEGER edge weights —
    * frontier-limited Bellman–Ford (relaxations only ever originate from
    * nodes whose tentative distance improved last round, the classic
    * delta-optimization; Bellman 1958). After round r the settled table
    * holds, exactly, the minimum path weight over paths of <= r edges —
    * so a hop-bounded recursive SQL walk reproduces every distance bit
    * for bit, and `maxRounds` >= the graph's hop diameter yields true
    * shortest paths. Distances are exact longs: deterministic under any
    * partitioning, any addition order, any engine.
    *
    * NULL endpoints and NULL weights drop like [[pageRankWeighted]];
    * non-positive weights raise (a zero-weight cycle would make bounded
    * relaxation order-sensitive, and negative weights break the
    * invariant above). Multi-edges are fine — the per-destination `min`
    * absorbs them.
    *
    * Scale shape: the edge table is pre-partitioned by source ONCE (the
    * [[pageRank]] discipline), so each round's candidate join moves only
    * the frontier while the pin keeps that partitioning — today only with
    * adaptive execution off; under AQE the pinned edges report
    * UnknownPartitioning and re-shuffle. Per round ONE equi-join + ONE
    * destination-keyed min + ONE settled-merge full-outer join, all
    * bounded-width (node, long) shuffles. The merge carries a `__chg`
    * improved-flag in its own projection (the connectedComponents
    * discipline, r15/guide §1.2):
    * ONE pinned table per round serves as the new settled set, the
    * convergence test (the `__chg` count its pin job returns), and the
    * next frontier (a lazy filter) — where the old shape
    * materialized `improved` and `settled` separately and re-aggregated
    * the whole settled table through a union+groupBy each round. Early
    * exit on an empty improvement frontier. The merged table is
    * checkpointed per round, keeping the plan O(1) deep.
    */
  def ssspWeighted(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: DataFrame, seedCol: String, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    val e = directed(edges, srcCol, dstCol, Some(weightCol -> "ssspWeighted"))
      .repartition(col("__s"))
      .pin("Graph.ssspWeighted edges")
    val seed0 = Materialize(seedSet(seeds, seedCol, "__n")
      .withColumn("__dist", lit(0L)), "Graph.ssspWeighted seeds")
    var settled = seed0.df
    var frontier = seed0.df
    var round = 0
    var exhausted = seed0.isEmpty
    while (round < maxRounds && !exhausted) {
      round += 1
      val cand = frontier.join(e, frontier("__n") === e("__s"))
        .select(col("__d").as("__n"), (col("__dist") + col("__w")).as("__nd"))
        .groupBy("__n").agg(min("__nd").as("__nd"))
      // one full-outer merge replaces the old left_outer improved-filter +
      // union + re-aggregate of the WHOLE settled table: `least` skips
      // NULLs, so settled-only rows keep __dist, newly reached rows take
      // __nd, and both-sides rows take the min — exactly the old
      // union+groupBy(min). __chg rides the same projection, so the
      // convergence test is the flag count of the round's own pin job and
      // the next frontier is a lazy filter — one pinned table per round
      // and no probe job
      val merged = Materialize(settled.join(cand, Seq("__n"), "full_outer")
        .select(col("__n"),
          least(col("__dist"), col("__nd")).as("__dist"),
          (col("__nd").isNotNull &&
            (col("__dist").isNull || col("__nd") < col("__dist")))
            .as("__chg")),
        s"Graph.ssspWeighted round $round", Some("__chg"))
      if (merged.flagged == 0L) exhausted = true
      else {
        settled = merged.df.select("__n", "__dist")
        frontier = merged.df.where(col("__chg")).select("__n", "__dist")
      }
    }
    settled.select(col("__n").as("node"), col("__dist").as("dist"))
  }

  /** Per-seed reach profile: for each seed the number of nodes reachable
    * within `maxHops` directed hops and the SUM of their hop distances —
    * the exact-integer building blocks of closeness/harmonic centrality
    * for a chosen seed set ("how far does each influencer's blast radius
    * extend?"). Closeness itself divides in floats at display time; the
    * release carries only (seed, n_reached, sum_dist, max_dist), so any
    * engine reproduces it bit for bit. The seed does not count itself;
    * unreachable nodes contribute nothing (the standard hop-bounded
    * convention — releasing "n" alongside "sum" is what keeps truncated
    * reach comparable across seeds).
    *
    * Unlike [[bfsDistances]] (which collapses seeds into one MIN-hop
    * field), state here is keyed (seed, node) — |seeds| x reach rows —
    * so the seed count is require-bounded (`maxSeeds`, loud): a
    * thousand-seed sweep is a deliberate fan-out the caller opts into.
    *
    * Scale shape: level-synchronous frontier expansion carrying (seed,
    * node) pairs; per round one node-keyed equi-join against the edge
    * table, one distinct, one anti-join against the settled table, all
    * bounded-width; accumulated settled table re-checkpointed per round
    * (plan stays O(1) deep); early exit on an empty frontier. The final
    * profile is one seed-keyed aggregate of the settled table.
    */
  def reachProfile(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      maxSeeds: Int = 128): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64], got $maxHops")
    require(maxSeeds >= 1, s"maxSeeds must be >= 1, got $maxSeeds")
    val e = directed(edges, srcCol, dstCol).pin("Graph.reachProfile edges")
    val seed0 = Materialize(seedSet(seeds, seedCol, "__seed"),
      "Graph.reachProfile seeds")
    val nSeeds = seed0.rows
    require(nSeeds <= maxSeeds,
      s"reachProfile: $nSeeds seeds exceed maxSeeds=$maxSeeds — settled " +
        "state is |seeds| x reach; raise the cap only if that product " +
        "is budgeted")
    val start = Materialize(seed0.df.select(col("__seed"),
      col("__seed").as("__n"), lit(0L).as("__dist")), "Graph.reachProfile start")
    frontierLoop(e, start, Seq("__seed"), maxHops, "Graph.reachProfile")
      .where(col("__dist") > 0L)
      .groupBy(col("__seed").as("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("__dist")).as("sum_dist"),
        max(col("__dist")).as("max_dist"))
      .join(seed0.df.select(col("__seed").as("seed")), Seq("seed"), "right")
      .na.fill(0L, Seq("n_reached", "sum_dist", "max_dist"))
  }

  /** Link prediction by shared neighborhood: for every NON-edge pair at
    * distance 2 the common-neighbor count and the exact truncating
    * neighborhood-Jaccard `jaccard_ppm = (cn * ppmScale) div (deg_a +
    * deg_b - cn)` — the two classic "who should connect next" signals
    * (Liben-Nowell & Kleinberg 2003) kept in integer arithmetic so any
    * engine reproduces the ranking bit for bit (Adamic–Adar's 1/log(deg)
    * weights are deliberately NOT released — they tie the score to a
    * libm).
    *
    * Graph semantics match [[triangleCounts]]: undirected, simple
    * (multi-edges collapse), self-loops dropped, nodes as strings.
    * Existing edges are anti-joined out — the release is exactly the
    * candidate set. `minCommon` prunes the long tail before the join
    * back to degrees.
    *
    * Scale shape: candidate pairs come from ONE apex-keyed self-join of
    * the adjacency (fan-out deg^2 per apex — refused loudly past
    * `maxDegree`, the [[kTruss]] hub discipline), then one (pair)-keyed
    * count with map-side partials, one anti-join against the edge set,
    * and two keyed joins to the degree table. Nothing is quadratic in
    * nodes; everything shuffles bounded-width rows.
    */
  def linkPrediction(
      edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 1L, maxDegree: Long = 10000L,
      ppmScale: Long = 1000000L): DataFrame = {
    require(minCommon >= 1L, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 2L, s"maxDegree must be >= 2, got $maxDegree")
    Inputs.ppmScale(ppmScale)
    val und = simple(edges, srcCol, dstCol).pin("Graph.linkPrediction edges")
    val adj = adjacency(und)
    // the loud hub refusal rides the degree table's own (mandatory, eager)
    // materialization: raise_error fires during the pin job,
    // so validation costs ZERO extra jobs — the previous limit(1) probe
    // was a separate scan of the checkpointed degrees
    val deg = adj.groupBy(col("__s").as("__n"))
      .agg(count(lit(1)).as("__deg"))
      .select(col("__n"),
        when(col("__deg") > maxDegree,
          raise_error(concat(lit("linkPrediction: node "), col("__n"),
            lit(s" exceeds maxDegree=$maxDegree — the apex self-join " +
              "would fan out quadratically on it; truncate hub adjacency " +
              "first or raise the cap"))).cast("long"))
          .otherwise(col("__deg")).as("__deg"))
      .pin("Graph.linkPrediction degrees")
    val cn = adj.select(col("__s"), col("__w").as("__a"))
      .join(adj.select(col("__s"), col("__w").as("__b")), Seq("__s"))
      .where(col("__a") < col("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .where(col("common_neighbors") >= minCommon)
    val candidates = cn.join(
      und.select(col("__u").as("__a"), col("__v").as("__b")),
      Seq("__a", "__b"), "left_anti")
    candidates
      .join(deg.select(col("__n").as("__a"), col("__deg").as("deg_a")),
        Seq("__a"))
      .join(deg.select(col("__n").as("__b"), col("__deg").as("deg_b")),
        Seq("__b"))
      .select(col("__a").as("node_a"), col("__b").as("node_b"),
        col("common_neighbors"), col("deg_a"), col("deg_b"),
        expr(s"(common_neighbors * ${ppmScale}L) div " +
          "(deg_a + deg_b - common_neighbors)").as("jaccard_ppm"))
  }
}
