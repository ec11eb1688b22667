package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph scoring for crawl curation (SURVEY §2.6
  * beyond-reference). A crawl frontier ranks hosts/URLs by link
  * authority before spending fetch budget; dedup clusters and spam
  * farms show up as dense subgraphs. This is the batch PageRank read
  * over an edge table, built deterministic and engine-exact so the
  * correctness gate can replay every iteration.
  */
object Graph {

  /** 18-decimal order-invariant sum (the Exact.dsum rule at rank
    * scale: ranks are ~1/N, so the 6-decimal money grid is too
    * coarse; 38,18 keeps 18 fractional digits and stays
    * order-independent). */
  private def dsum18(c: Column): Column =
    sum(c.cast("decimal(38,18)")).cast("string").cast("double")

  /** PageRank (Page et al. 1999) over (src, dst) edges for a FIXED
    * iteration count, with uniform dangling-mass redistribution.
    * Engine-exact by construction: per-edge contributions rank/outdeg
    * are single IEEE divisions, the per-target sum uses 18-decimal
    * accumulation (order-invariant), and the damping constants are
    * interpolated as exact doubles — so any engine replays every
    * iteration bit-for-bit (the 2-iteration oracle proves it).
    *
    * Scale shape per iteration: ONE shuffle join of the rank table
    * onto the (pre-degreed) edges keyed by src + one partial-agg
    * groupBy dst; dangling mass is a left-anti + 1-row broadcast;
    * node count is a 1-row broadcast. The rank table is (node,
    * double) — never wider. Iterations unroll in-plan: fine for the
    * handful of rounds a curation score needs; for deep iteration on
    * billion-edge graphs, persist-or-checkpoint the rank frame each
    * round (the kmeansLloyd driver-round-trip trick does NOT apply —
    * the rank table is node-sized, not k-sized).
    * Output: (node, rank), one row per node. */
  def pageRank(edges: DataFrame, src: String, dst: String, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"pageRank: iters=$iters out of the in-plan unroll range [1,20]")
    require(damping > 0.0 && damping < 1.0,
      s"pageRank: damping=$damping must be in (0,1)")
    val e = edges.select(col(src).as("__s"), col(dst).as("__d"))
    val nodes = e.select(col("__s").as("node"))
      .unionByName(e.select(col("__d").as("node"))).distinct()
    val nDf = nodes.agg(count(lit(1)).cast("double").as("__N"))
    val outdeg = e.groupBy(col("__s")).agg(count(lit(1)).cast("double").as("__od"))
    val edgesOd = e.join(outdeg, "__s")
    val base = lit(1.0 - damping)
    val d = lit(damping)
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), (lit(1.0) / col("__N")).as("rank"))
    for (_ <- 1 to iters) {
      val inflow = edgesOd.join(ranks, col("__s") === col("node"))
        .groupBy(col("__d").as("node"))
        .agg(dsum18(col("rank") / col("__od")).as("__in"))
      val dangling = ranks.join(outdeg, col("node") === col("__s"), "left_anti")
        .agg(coalesce(dsum18(col("rank")), lit(0.0)).as("__dang"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nDf))
        .select(col("node"),
          (base / col("__N") +
            d * (coalesce(col("__in"), lit(0.0)) + col("__dang") / col("__N")))
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank (topic-sensitive — Haveliwala 2002): the
    * crawl-curation variant that ranks authority RELATIVE to a seed
    * set (trusted domains, a topic's known-good pages) — teleports
    * land only on seeds, so score flows outward from them and spam
    * farms far from the seeds stay cold. Same per-iteration shape and
    * 18-decimal exactness as [[pageRank]]; dangling mass also
    * teleports to the seeds (the standard PPR closure).
    * Output: (node, rank). */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
                           seeds: DataFrame, seedCol: String, iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"personalizedPageRank: iters=$iters out of the unroll range [1,20]")
    require(damping > 0.0 && damping < 1.0,
      s"personalizedPageRank: damping=$damping must be in (0,1)")
    val e = edges.select(col(src).as("__s"), col(dst).as("__d"))
    val nodes = e.select(col("__s").as("node"))
      .unionByName(e.select(col("__d").as("node"))).distinct()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val flagged = nodes.join(seedSet.withColumn("__seed", lit(true)),
        Seq("node"), "left")
      .withColumn("__seed", coalesce(col("__seed"), lit(false)))
    val nS = flagged.agg(
      sum(when(col("__seed"), 1.0).otherwise(0.0)).as("__nS"))
    val outdeg = e.groupBy(col("__s")).agg(count(lit(1)).cast("double").as("__od"))
    val edgesOd = e.join(outdeg, "__s")
    val base = lit(1.0 - damping)
    val d = lit(damping)
    var ranks = flagged.crossJoin(broadcast(nS))
      .select(col("node"), col("__seed"),
        when(col("__seed"), lit(1.0) / col("__nS")).otherwise(0.0).as("rank"))
    for (_ <- 1 to iters) {
      val inflow = edgesOd.join(ranks.select(col("node"), col("rank")),
          col("__s") === col("node"))
        .groupBy(col("__d").as("node"))
        .agg(dsum18(col("rank") / col("__od")).as("__in"))
      val dangling = ranks.join(outdeg, col("node") === col("__s"), "left_anti")
        .agg(coalesce(dsum18(col("rank")), lit(0.0)).as("__dang"))
      ranks = flagged.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nS))
        .select(col("node"), col("__seed"),
          (when(col("__seed"), base / col("__nS")).otherwise(0.0) +
            d * (coalesce(col("__in"), lit(0.0)) +
              when(col("__seed"), col("__dang") / col("__nS")).otherwise(0.0)))
            .as("rank"))
    }
    ranks.select("node", "rank")
  }

  /** HITS hubs & authorities (Kleinberg 1999) — PageRank's
    * complement for crawl curation: PageRank finds globally endorsed
    * pages, HITS separates DIRECTORIES (hubs — link out to good
    * content; crawl frontiers expand from them) from CONTENT
    * (authorities — linked by good hubs). Fixed iteration count, the
    * standard update order (auth from current hubs, then hub from the
    * NEW auths), L1-normalized each round.
    *
    * Engine-exact by the pageRank recipe: per-target sums are
    * 18-decimal order-invariant accumulations, normalization is one
    * IEEE division per node by a 1-row broadcast total — the
    * 2-iteration oracle replays every value. Per iteration: two
    * shuffle joins + two partial aggs; score tables stay (node,
    * double). Output: (node, hub, auth). */
  def hits(edges: DataFrame, src: String, dst: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"hits: iters=$iters out of the in-plan unroll range [1,20]")
    val e = edges.select(col(src).as("__s"), col(dst).as("__d"))
    val nodes = e.select(col("__s").as("node"))
      .unionByName(e.select(col("__d").as("node"))).distinct()
    var scores = nodes.select(col("node"),
      lit(1.0).as("hub"), lit(1.0).as("auth"))
    for (_ <- 1 to iters) {
      val auth = e.join(scores.select(col("node"), col("hub")),
          col("__s") === col("node"))
        .groupBy(col("__d").as("node")).agg(dsum18(col("hub")).as("__a"))
      val aTot = auth.agg(dsum18(col("__a")).as("__at"))
      val authN = nodes.join(auth, Seq("node"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          (coalesce(col("__a"), lit(0.0)) / col("__at")).as("auth"))
      val hub = e.join(authN.select(col("node"), col("auth")),
          col("__d") === col("node"))
        .groupBy(col("__s").as("node")).agg(dsum18(col("auth")).as("__h"))
      val hTot = hub.agg(dsum18(col("__h")).as("__ht"))
      val hubN = nodes.join(hub, Seq("node"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          (coalesce(col("__h"), lit(0.0)) / col("__ht")).as("hub"))
      scores = hubN.join(authN, Seq("node"))
    }
    scores.select("node", "hub", "auth")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the link graph: dedup clusters, mirror networks,
    * and spam farms surface as dense communities that PageRank's
    * global score can't separate. Every node starts as its own label;
    * each round every node adopts the most frequent label among its
    * (undirected) neighbors, ties broken by the SMALLEST label —
    * the deterministic synchronous variant, so a fixed iteration
    * count replays exactly on any engine (integer counts + integer
    * tie-break; no floats anywhere). Isolated nodes keep their label.
    *
    * Scale shape per iteration: ONE shuffle join of the (node, label)
    * table onto the symmetrized edges keyed by neighbor + one partial
    * agg to (node, label, cnt) + one agg to the per-node argmax via
    * `max(struct(cnt, -label))` — a groupBy, never a global window.
    * The label table is (node, long) — never wider. Same in-plan
    * unroll contract as [[pageRank]]; checkpoint per round for deep
    * iteration on billion-edge graphs.
    * Output: (node, label), one row per node. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"labelPropagation: iters=$iters out of the in-plan unroll range [1,20]")
    val dir = edges.select(col(src).cast("long").as("__a"),
      col(dst).cast("long").as("__b"))
    // symmetrize (and drop self-loops: a node's own label shouldn't
    // vote) — distinct so a repeated edge isn't a double vote
    val sym = dir.unionByName(dir.select(col("__b").as("__a"),
        col("__a").as("__b")))
      .filter(col("__a") =!= col("__b")).distinct()
    val nodes = sym.select(col("__a").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      val votes = sym.join(labels, col("__b") === col("node"))
        .groupBy(col("__a"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // argmax by (count desc, label asc): max of (cnt, -label)
      val winner = votes.groupBy(col("__a").as("node"))
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__w"))
        .select(col("node"), (-col("__w.__nl")).as("label"))
      // left join keeps isolated nodes (none here post-symmetrize,
      // but callers may union extra nodes in) on their old label
      labels = labels.select(col("node"), col("label").as("__old"))
        .join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("__old")).as("label"))
    }
    labels
  }

  /** Coreness estimate by ITERATED H-INDEX (Lü et al. 2016) — the
    * k-core read (how deep does each node sit in the graph's dense
    * backbone: crawl-frontier prioritization, spam-ring density
    * beyond [[triangleStats]]'s global count). Classic k-core peeling
    * is inherently sequential; the h-index operator H(v) = h-index of
    * neighbors' current values converges MONOTONICALLY DOWN from the
    * degree to the exact coreness — each fixed iteration is a clean
    * distributed pass, and Lü et al. prove convergence (typically a
    * handful of rounds; pass `iters` accordingly — the result after k
    * iterations is a documented UPPER BOUND on coreness, exact once
    * converged, and all-integer so any engine replays it).
    *
    * Shape per iteration: ONE neighbor-keyed shuffle join of the
    * (node, value) table onto the symmetrized edges + a per-node
    * h-index window (partitioned by node, bounded by degree — the
    * vote-window shape [[labelPropagation]] uses). Output:
    * (node, coreness). */
  def corenessHIndex(edges: DataFrame, src: String, dst: String,
                     iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1 && iters <= 20,
      s"corenessHIndex: iters=$iters out of the in-plan unroll range [1,20]")
    val dir = edges.select(col(src).as("__a"), col(dst).as("__b"))
      .filter(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
    val sym = dir.unionByName(dir.select(col("__b").as("__a"),
      col("__a").as("__b"))).distinct()
    var vals = sym.groupBy(col("__a").as("node"))
      .agg(count(lit(1)).as("value"))
    for (_ <- 1 to iters) {
      // h-index of neighbor values: sort each node's neighbor values
      // descending, h = max rank with value >= rank
      val w = Window.partitionBy(col("__a"))
        .orderBy(col("__nv").desc, col("__b"))
      vals = sym.join(vals, col("__b") === col("node"))
        .select(col("__a"), col("__b"), col("value").as("__nv"))
        .withColumn("__r", row_number().over(w))
        .groupBy(col("__a").as("node"))
        .agg(coalesce(max(when(col("__nv") >= col("__r"), col("__r"))),
          lit(0)).cast("long").as("value"))
    }
    vals.select(col("node"), col("value").as("coreness"))
  }

  /** Triangle census + global clustering coefficient — the density
    * read behind spam-farm / mirror-network triage ([[labelPropagation]]
    * finds the communities; this measures how clique-like the graph is
    * overall): exact triangle count, wedge count, and C = 3·T / W.
    *
    * Counted by DEGREE-ORDERED EDGE ORIENTATION (Schank & Wagner 2005
    * — the compact-forward shape every distributed triangle counter
    * uses): each undirected edge points from its lower-(degree, id)
    * endpoint to the higher, wedges enumerate ONLY at each edge pair's
    * common LOW vertex, and a wedge closes iff its (x, y) pair — x
    * below y in the same order — appears in the oriented edge set.
    * Each triangle is found exactly once (at its lowest-ordered
    * vertex), and per-vertex fan-out is bounded by the oriented
    * out-degree ≤ O(√m) instead of the raw degree — the hub that
    * would explode a naive neighbor self-join only ever RECEIVES
    * edges. Shapes: canonical-edge distinct, one degree agg, the
    * wedge self-join keyed on the low vertex, one closing-edge join,
    * integer-only arithmetic plus a single final division.
    * Output (1 row): n_nodes, n_edges, triangles, wedges,
    * global_clustering (NULL on a wedge-free graph). */
  def triangleStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(least(col(src), col(dst)).as("__a"),
        greatest(col(src), col(dst)).as("__b"))
      .filter(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()
    val deg = e.select(col("__a").as("node"))
      .unionByName(e.select(col("__b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__deg"))
    val withDeg = e
      .join(deg.select(col("node").as("__a"), col("__deg").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("__deg").as("__db")), "__b")
    val lowFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("__a") < col("__b"))
    val oriented = withDeg.select(
      when(lowFirst, col("__a")).otherwise(col("__b")).as("lo"),
      when(lowFirst, col("__b")).otherwise(col("__a")).as("hi"),
      when(lowFirst, col("__db")).otherwise(col("__da")).as("dhi"))
    val o1 = oriented.select(col("lo"), col("hi").as("__x"), col("dhi").as("__dx"))
    val o2 = oriented.select(col("lo"), col("hi").as("__y"), col("dhi").as("__dy"))
    val wedgePairs = o1.join(o2, Seq("lo"))
      .filter(col("__dx") < col("__dy") ||
        (col("__dx") === col("__dy") && col("__x") < col("__y")))
    val closed = wedgePairs.join(
      oriented.select(col("lo").as("__x"), col("hi").as("__y")),
      Seq("__x", "__y"), "left_semi")
    val tri = closed.agg(count(lit(1)).as("triangles"))
    val sizes = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        // deg·(deg−1) is even, so the halving is exact; BIGINT out
        (sum(col("__deg") * (col("__deg") - lit(1L))) / lit(2L))
          .cast("long").as("wedges"))))
    sizes.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("triangles"),
        col("wedges"),
        when(col("wedges") > 0L,
          lit(3.0) * col("triangles").cast("double") /
            col("wedges").cast("double")).as("global_clustering"))
  }

  /** Canonical undirected simple edges: (least, greatest), self-loops
    * dropped, deduped — the shared base for the modularity reads. */
  private def undirected(edges: DataFrame, src: String,
                         dst: String): DataFrame =
    edges.select(least(col(src), col(dst)).as("__a"),
        greatest(col(src), col(dst)).as("__b"))
      .filter(col("__a") =!= col("__b") &&
        col("__a").isNotNull && col("__b").isNotNull)
      .distinct()

  /** Per-community Newman modularity table (Newman & Girvan 2004) —
    * the quality score for a community assignment (e.g.
    * [[labelPropagation]]'s output): how much denser is each
    * community than the degree-preserving random graph? Per community
    * c: q_c = m_c/m − (d_c/2m)², with m_c = intra-community edges,
    * d_c = total degree, m = total edges. This is the acceptance read
    * on a partition BEFORE it drives curation (a spam-farm label set
    * whose communities score ≈0 is noise, not structure).
    *
    * Exactness: m_c, d_c, m are exact integers (graph-sized, exact in
    * double), q_c = one divide − (one divide)² in a fixed chain —
    * replays anywhere. Unlabeled endpoints fall out by the inner
    * join; communities therefore partition the LABELED subgraph and
    * m/degrees are computed over the full canonical edge set.
    *
    * Shape: one distinct + one degree agg + two broadcast-sized label
    * joins + one keyed partial agg — no quadratic step anywhere.
    * Output (community, n_nodes, m_intra, d_total, q_part). */
  def modularity(edges: DataFrame, src: String, dst: String,
                 labels: DataFrame, node: String,
                 label: String): DataFrame =
    modularityWithM(edges, src, dst, labels, node, label)._1

  private def modularityWithM(edges: DataFrame, src: String, dst: String,
                              labels: DataFrame, node: String,
                              label: String): (DataFrame, Long) = {
    // both inputs are referenced by multiple joins below — materialize
    // once (checkpoint dir on a cluster, localCheckpoint in local
    // mode, the dedupClusters convention) instead of re-evaluating the
    // caller's subtree (labels is often a multi-iteration LPA plan)
    // per reference
    val e = Materialize.cp(undirected(edges, src, dst))
    val m = e.count()
    val lab = Materialize.cp(labels.select(col(node).as("__n"), col(label).as("__c")))
    val deg = e.select(col("__a").as("__n"))
      .unionByName(e.select(col("__b").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    val dTot = deg.join(lab, Seq("__n"))
      .groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("d_total"))
    val intra = e
      .join(lab.select(col("__n").as("__a"), col("__c").as("__ca")), "__a")
      .join(lab.select(col("__n").as("__b"), col("__c").as("__cb")), "__b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("m_intra"))
    val mD = lit(m.toDouble)
    val per = dTot.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_intra"), lit(0L)).as("m_intra"), col("d_total"))
      .withColumn("q_part",
        col("m_intra").cast("double") / mD -
          (col("d_total").cast("double") / (lit(2.0) * mD)) *
          (col("d_total").cast("double") / (lit(2.0) * mD)))
    (per, m)
  }

  /** Degree assortativity coefficient (Newman 2002, "Assortative
    * mixing in networks") — does the link graph wire hubs to hubs
    * (r > 0, social/citation shape) or hubs to leaves (r < 0, the
    * web/spam-farm shape)? The single-number topology read beside the
    * triangle census and coreness: r = Pearson correlation of
    * endpoint degrees over the SYMMETRIZED edge list (each canonical
    * edge contributes both orientations — the standard convention
    * that makes the marginals equal).
    *
    * Exactness: degrees and the five moment sums over the 2m-row
    * directed list are exact decimal integers; r closes with the
    * n-scaled Pearson identity — one √ and one ÷ on string-bridged
    * exact operands. Shape: one distinct + one degree agg + two
    * broadcast-sized joins + ONE global agg. Degenerate graphs
    * (regular: zero degree variance) read NULL.
    * Output (1 row): n_edges, r. */
  def assortativity(edges: DataFrame, src: String,
                    dst: String): DataFrame = {
    val Dec = "decimal(38,0)"
    def d2d(c: Column): Column = c.cast("string").cast("double")
    val e = undirected(edges, src, dst)
    val deg = e.select(col("__a").as("node"))
      .unionByName(e.select(col("__b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
    val sym = e.select(col("__a"), col("__b"))
      .unionByName(e.select(col("__b").as("__a"), col("__a").as("__b")))
    val withDeg = sym
      .join(deg.select(col("node").as("__a"), col("__deg").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("__deg").as("__db")), "__b")
    val a = withDeg.agg(
      count(lit(1)).as("__n2"),
      sum(col("__da").cast(Dec)).cast(Dec).as("__sx"),
      sum(col("__db").cast(Dec)).cast(Dec).as("__sy"),
      sum((col("__da").cast(Dec) * col("__db").cast(Dec)).cast(Dec))
        .cast(Dec).as("__sxy"),
      sum((col("__da").cast(Dec) * col("__da").cast(Dec)).cast(Dec))
        .cast(Dec).as("__qx"),
      sum((col("__db").cast(Dec) * col("__db").cast(Dec)).cast(Dec))
        .cast(Dec).as("__qy"))
    val nD = col("__n2").cast(Dec)
    val num = (nD * col("__sxy") - col("__sx") * col("__sy")).cast(Dec)
    val den = ((nD * col("__qx") - col("__sx") * col("__sx")) *
      (nD * col("__qy") - col("__sy") * col("__sy"))).cast(Dec)
    a.select((col("__n2") / lit(2L)).cast("long").as("n_edges"),
      when(den > lit(0).cast(Dec), d2d(num) / sqrt(d2d(den))).as("r"))
  }

  /** Global modularity Q as ONE exact-rational row — the
    * order-independent closed form Σq_c = (4m·Σm_c − Σd_c²)/(4m²)
    * (summing [[modularity]]'s per-community doubles would be
    * order-dependent; this keeps numerator and denominator exact
    * integers and closes with a single IEEE division). Q ∈ [−1/2, 1);
    * ≈0 means the partition is no better than random, ≥0.3 is real
    * community structure. Output (1 row): m, intra_edges, sum_d2, q. */
  def modularityGlobal(edges: DataFrame, src: String, dst: String,
                       labels: DataFrame, node: String,
                       label: String): DataFrame = {
    val (per, m) = modularityWithM(edges, src, dst, labels, node, label)
    per.agg(sum(col("m_intra")).as("intra_edges"),
        sum(col("d_total") * col("d_total")).as("sum_d2"))
      .select(lit(m).as("m"), col("intra_edges"), col("sum_d2"),
        when(lit(m) > 0L,
          (lit(4L) * lit(m) * col("intra_edges") - col("sum_d2"))
            .cast("double") /
            (lit(4L) * lit(m) * lit(m)).cast("double")).as("q"))
  }
}
