package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Fences.fence

/** Link-graph analytics as pure dataflow. PageRank is the standard
  * graph-derived quality prior for crawl curation (harmonic-centrality
  * and PageRank filters in Common Crawl-scale corpus construction), so
  * the engine carries it next to the text quality screens.
  */
object Graph {

  /** Canonical undirected edge list — endpoints ordered (least,
    * greatest), self-loops and null endpoints dropped, one row per
    * undirected edge — MATERIALIZED through [[Fences.fence]]. Every
    * undirected operator derives this table and then references it
    * 2–9 times (degree aggregate, wedge join, confirm join, adjacency
    * union); unfenced, the caller's edge derivation (typically the
    * [[Baskets.frequentPairs]] self-join on the gate) replayed once
    * per reference — Explain-audited r18: graph_links carried ~9
    * copies of the full upstream subtree, graph_triangles ~4 (95
    * Exchange/Scan nodes in one plan; ReuseExchange cannot fire
    * because alias pruning de-canonicalizes the copies). */
  private def canonEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    fence(edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct())

  /** PageRank (Brin & Page 1998) by fixed-point power iteration:
    * rank = (1−d)/N + d·Σ_in rank(src)/outdeg(src), the classic
    * teleport-only formulation — mass arriving at dangling nodes is
    * NOT redistributed (rank totals sum below 1), which drops the
    * per-iteration global float reduction and keeps every step a
    * keyed dataflow. Fixed iteration count: at pipeline scale you run
    * a budgeted number of rounds, not a convergence loop.
    *
    * Scale shape: per iteration ONE join of the rank table onto the
    * out-degree-annotated edge list (shuffle on src — AQE broadcasts
    * the rank side only if it is genuinely small) and one shuffle of
    * contributions on dst with map-side combine. Lineage stays linear
    * (each iteration references its predecessor exactly once), so no
    * checkpoint is needed for small iteration budgets; persist the
    * edge list upstream if the input scan is expensive.
    *
    * MODE CONTRACT — `deterministic = true` is the ORACLE mode, not
    * the production mode: it replaces the in-neighbor `sum` with a
    * sequential fold in src order (`collect_list` + `array_sort`),
    * bit-stable under any partitioning so a DuckDB replay can hash-
    * match, but it builds each node's full in-neighbor list in ONE
    * aggregation buffer — a hub with 10^7 in-edges means a 10^7-
    * element array on one task. Use it only for conformance replay
    * on bounded graphs (`maxInDegree` enforces this loudly: the
    * deterministic pass first asserts no node's in-degree exceeds
    * it, failing fast instead of OOMing an executor). Production
    * mode (`deterministic = false`, the default) is the 100 TB path:
    * a plain map-side-combined `sum` — constant-size aggregation
    * state per node, 1e-16-level reorder noise per iteration, and
    * rank ORDER is what downstream consumers read.
    *
    * Deterministic mode EARLY-EXITS when two consecutive rounds'
    * in-sum tables are bit-equal: the update is then a pure function
    * F with F(L) = L, so every later round is also L and the exit
    * equals the full budget ([[kCore]]'s monotone-peel argument in
    * fixed-point form — sound here precisely because the folds are
    * bit-stable; production float sums never take this path).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85,
      deterministic: Boolean = false,
      eager: Boolean = true,
      maxInDegree: Int = 1000000,
      onFences: Seq[DataFrame] => Unit = null): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations=$iterations")
    require(damping > 0 && damping < 1, s"damping=$damping")
    require(maxInDegree >= 1, s"maxInDegree=$maxInDegree")
    // nodes and the degree-annotated edge list are referenced every
    // iteration — persist them or the upstream scan/join replays
    // `iterations` times (measured 5x on the gate graph). Storage
    // level spills to disk, so a 100 TB-derived edge list degrades to
    // re-reading local shuffle files, never recomputing the join.
    // The distinct edge list itself is persisted too (r18): it feeds
    // the node union (2 scans), the out-degree aggregate, the ew join
    // and the deterministic-mode hub guard — unpersisted, the caller's
    // upstream derivation (a 600k-row join at sf0.1) replayed 5×.
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .distinct().persist(storage)
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct().persist(storage)
    // N is ONE long (the documented bounded-collect class, like the
    // IVF nlist seeds): folding it into literals removes a 1-row
    // aggregate + cross-join stage from EVERY iteration.
    val n = nodes.count()
    require(n > 0, "empty graph")
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    val ew = e.join(outdeg, "_src").persist(storage)
    if (deterministic) {
      // oracle mode builds per-node in-neighbor arrays: fail fast on
      // hub graphs instead of OOMing one aggregation buffer (the
      // production sum path has no such limit).
      val hubs = e.groupBy(col("_dst")).agg(count(lit(1)).as("_ind"))
        .filter(col("_ind") > maxInDegree).count()
      require(hubs == 0,
        s"deterministic pageRank: a node exceeds maxInDegree=$maxInDegree " +
          "(oracle mode collects in-neighbor lists; use deterministic=false " +
          "for hub graphs or raise maxInDegree)")
    }
    val teleport = 1.0 - damping
    var ranks = nodes.select(col("node"), lit(1.0 / n.toDouble).as("rank"))
    // EARLY EXIT (deterministic mode only, r18): the update is a
    // bit-exact pure function F of the rank table, and rank = const +
    // d·s is injective in the in-sum s over a fixed key set, so two
    // consecutive BIT-EQUAL in-sum tables mean F(L) = L — every later
    // round is also L and stopping equals the full budget (the
    // [[kCore]]/[[labelPropagation]] fixed-point argument, now applied
    // to IEEE doubles, which deterministic folds make legitimate).
    // The check persists the round's in-sum (in-degree-node-sized, far
    // below the edge list) and compares it to the previous round's
    // with one keyed join — O(nodes) per round, bought back whenever
    // the budget overshoots the fixed point. Production mode is
    // untouched: reorder noise makes float equality meaningless there,
    // and the plain-sum chain stays one lazy plan.
    var prevSum: DataFrame = null
    var stable = false
    var iter = 0
    while (iter < iterations && !stable) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .select(col("_dst").as("node"), col("_src"),
          (col("rank") / col("_deg").cast("double")).as("_c"))
      val inSum =
        if (deterministic) {
          val s = contribs.groupBy(col("node")).agg(
            aggregate(
              array_sort(collect_list(struct(col("_src"), col("_c")))),
              lit(0.0),
              (acc, x) => acc + x.getField("_c")).as("_s"))
            .persist(storage)
          if (prevSum != null) {
            // INNER join soundness rests on the in-sum key set being
            // round-invariant (it is: ranks covers every node via the
            // left_outer + fill, so contribs always cover the full
            // in-degree key set) — a sparse-ranks refactor would need
            // a count-equality guard here. On the FINAL iteration
            // `stable` is never read, so the O(nodes) probe job is
            // skipped (r18 ADVICE); s stays persisted for the ranks
            // projection and the dead previous round releases either
            // way.
            if (iter < iterations - 1)
              stable = s.join(
                prevSum.select(col("node"), col("_s").as("_ps")), Seq("node"))
                .filter(col("_s") =!= col("_ps")).count() == 0
            prevSum.unpersist(false)
          }
          prevSum = s
          s
        } else
          contribs.groupBy(col("node")).agg(sum(col("_c")).as("_s"))
      ranks = nodes.join(inSum, Seq("node"), "left_outer")
        .na.fill(0.0, Seq("_s"))
        .select(col("node"),
          (lit(teleport / n.toDouble) +
            lit(damping) * col("_s")).as("rank"))
      iter += 1
    }
    // like Dedup.components, the iterative operator is EAGER: the
    // final table is materialized to storage-backed blocks so the
    // loop-invariant caches can be released here instead of leaking
    // into the caller's session (RetrievalSpec's cache hygiene).
    // eager=false hands the still-needed caches to `onFences` so a
    // recurring caller (a per-batch pipeline processor) can release
    // them once the batch is materialized — without the hook each
    // batch would strand two node-sized frames in the CacheManager.
    if (!eager) {
      if (onFences != null)
        onFences(Seq(ew, nodes, e) ++ Option(prevSum))
      return ranks
    }
    // spilled, not fenced: see [[Fences]] for why a result spills
    Fences.spill(ranks, "pageRank(eager=true)", "graft-pagerank",
      Seq(ew, nodes, e) ++ Option(prevSum))
  }

  /** Personalized PageRank (the TrustRank formulation: Gyöngyi,
    * Garcia-Molina & Pedersen, VLDB 2004 — PageRank whose teleport
    * mass lands ONLY on a curated seed set): rank = d·Σ_in
    * rank(src)/outdeg(src), plus (1−d)/|S| at seed nodes. Scores
    * measure endorsement REACHABLE from the seeds — the link-graph
    * trust prior for crawl curation, the damped-mass sibling of
    * [[seedDistance]]'s hop metric.
    *
    * Seeds not present in the graph are ignored; an empty
    * intersection fails loudly (the walk would have nowhere to
    * restart). Same mode contract as [[pageRank]]:
    * `deterministic = true` is the bounded-graph ORACLE mode (in-
    * neighbor sums fold in src order, `maxInDegree`-guarded);
    * production mode is the plain map-side-combined sum.
    *
    * Scale shape: identical to [[pageRank]] — per iteration one join
    * of the rank table onto the degree-annotated edge list and one
    * keyed contribution shuffle; the teleport column rides the
    * persisted node table, so personalization adds ZERO per-iteration
    * work. |S| is one bounded count.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int = 5,
      damping: Double = 0.85,
      deterministic: Boolean = false,
      eager: Boolean = true,
      maxInDegree: Int = 1000000,
      onFences: Seq[DataFrame] => Unit = null): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations=$iterations")
    require(damping > 0 && damping < 1, s"damping=$damping")
    // same persist rationale as [[pageRank]] (r18): the distinct edge
    // list feeds the node union, out-degree, ew join and hub guard —
    // persist it once instead of replaying the upstream derivation.
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .distinct().persist(storage)
    val seedCol = seeds.columns.head
    // ONE derivation of the node set (r18, guide §2.4): the old shape
    // referenced the union-distinct node table twice in the teleport
    // plan (directly and inside the seed semi-join), replaying the
    // edge scan + two distinct exchanges per reference. A single
    // left-semi-as-indicator join persists (node, seed?) once; the
    // |S| count doubles as its materialization fence.
    val marked = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
      .join(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("_seed", lit(true)), Seq("node"), "left_outer")
      .persist(storage)
    val sCount = marked.filter(col("_seed")).count()
    require(sCount > 0,
      "personalizedPageRank: no seed intersects the graph's node set")
    val teleport = 1.0 - damping
    // teleport rides the node table: seed nodes carry (1-d)/|S|,
    // everyone else exactly 0.0 — lazy over the persisted indicator
    val nodes = marked.select(col("node"),
      when(col("_seed"), lit(teleport / sCount.toDouble))
        .otherwise(lit(0.0)).as("_t"))
    val outdeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    val ew = e.join(outdeg, "_src").persist(storage)
    if (deterministic) {
      val hubs = e.groupBy(col("_dst")).agg(count(lit(1)).as("_ind"))
        .filter(col("_ind") > maxInDegree).count()
      require(hubs == 0,
        s"deterministic personalizedPageRank: a node exceeds maxInDegree=" +
          s"$maxInDegree (oracle mode collects in-neighbor lists)")
    }
    // init = the seed indicator at 1/|S| — computed from the teleport
    // column with the SAME literal arithmetic the oracle replays
    var ranks = nodes.select(col("node"),
      when(col("_t") > 0.0, lit(1.0 / sCount.toDouble))
        .otherwise(lit(0.0)).as("rank"))
    // deterministic-mode early exit on bit-equal consecutive in-sum
    // tables — [[pageRank]]'s fixed-point argument verbatim (rank =
    // _t + d·s is injective in s over the fixed node set)
    var prevSum: DataFrame = null
    var stable = false
    var iter = 0
    while (iter < iterations && !stable) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .select(col("_dst").as("node"), col("_src"),
          (col("rank") / col("_deg").cast("double")).as("_c"))
      val inSum =
        if (deterministic) {
          val s = contribs.groupBy(col("node")).agg(
            aggregate(
              array_sort(collect_list(struct(col("_src"), col("_c")))),
              lit(0.0),
              (acc, x) => acc + x.getField("_c")).as("_s"))
            .persist(storage)
          if (prevSum != null) {
            // same probe contract as [[pageRank]]: inner-join
            // soundness holds because the in-sum key set is
            // round-invariant, and the final iteration skips the
            // never-read probe (r18 ADVICE)
            if (iter < iterations - 1)
              stable = s.join(
                prevSum.select(col("node"), col("_s").as("_ps")), Seq("node"))
                .filter(col("_s") =!= col("_ps")).count() == 0
            prevSum.unpersist(false)
          }
          prevSum = s
          s
        } else
          contribs.groupBy(col("node")).agg(sum(col("_c")).as("_s"))
      ranks = nodes.join(inSum, Seq("node"), "left_outer")
        .na.fill(0.0, Seq("_s"))
        .select(col("node"),
          (col("_t") + lit(damping) * col("_s")).as("rank"))
      iter += 1
    }
    if (!eager) {
      if (onFences != null)
        onFences(Seq(ew, marked, e) ++ Option(prevSum))
      return ranks
    }
    Fences.spill(ranks, "personalizedPageRank(eager=true)", "graft-ppr",
      Seq(ew, marked, e) ++ Option(prevSum))
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) by power
    * iteration with L1 normalization: auth(v) = Σ_{u→v} hub(u),
    * hub(u) = Σ_{u→v} auth(v), each vector divided by its sum after
    * every half-step (L1 keeps the normalizer a plain sum — no sqrt —
    * so the scores stay one IEEE division from exact-order folds).
    * On bipartite interaction graphs (customer→supplier, query→doc)
    * the authority side ranks the right-hand entities by weighted
    * endorsement while PageRank-style prestige needs the transpose
    * walk — the classic complement to [[pageRank]].
    *
    * MODE CONTRACT — same as [[pageRank]]: `deterministic = true` is
    * the ORACLE mode (per-node sums fold in neighbor order and each
    * normalizer folds in node order — bit-stable under any
    * partitioning, but the normalizer builds one n-element array;
    * bounded-graph replay only). Production mode uses plain map-side
    * combined sums.
    *
    * Scale shape: per iteration two keyed join+aggregate shuffles
    * (src then dst) over the persisted edge list, plus one 1-row
    * normalizer collect per half-step. The collect is DELIBERATE:
    * it is simultaneously the half-step's materialization fence and
    * the normalizer, so each half-step computes exactly once. The
    * measured alternative — folding the normalizer back as a
    * broadcast scalar join with one count-fence per round — ran
    * 2.5× SLOWER at sf0.1 (21–26 s vs ~8.5 s): a broadcast stage
    * materializes before its main stage, so the normalizer aggregate
    * recomputed the not-yet-cached half-step from lineage every
    * round (PERF round 10). Round r−1's persisted frames are
    * released inside the loop once round r is materialized, so peak
    * residency is two node-sized frames, not 2·iterations — the
    * r9-flagged fence-lifetime fix, kept.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      deterministic: Boolean = false,
      eager: Boolean = true,
      onFences: Seq[DataFrame] => Unit = null): DataFrame = {
    require(iterations >= 1 && iterations <= 20, s"iterations=$iterations")
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull)
      .distinct().persist(storage)
    require(!e.isEmpty,
      "hits: empty edge set (no non-null distinct edges) — the L1 " +
        "normalizer is undefined on an empty graph")

    def foldSum(tagged: Column): Column =
      if (deterministic)
        aggregate(array_sort(collect_list(tagged)), lit(0.0),
          (acc, x) => acc + x.getField("_c"))
      else sum(tagged.getField("_c"))

    // normalizer: ONE double per half-step, collected — the action
    // doubles as the half-step's cache-materialization fence;
    // deterministic mode folds in node order (bit-stable under any
    // partitioning)
    def l1(df: DataFrame, scoreCol: String): Double = {
      val row =
        if (deterministic)
          df.agg(aggregate(
            array_sort(collect_list(struct(col("node").as("_k"),
              col(scoreCol).as("_c")))), lit(0.0),
            (acc, x) => acc + x.getField("_c")).as("s")).collect().head
        else df.agg(sum(col(scoreCol)).as("s")).collect().head
      row.getDouble(0)
    }

    var prevFences: Seq[DataFrame] = Nil
    // hub_0 ≡ 1.0 for every source BY DEFINITION, so round 1 folds the
    // constant inline instead of materializing a distinct-src table
    // and joining it back onto the edge list (r18, guide §2.4 — the
    // fold sees bit-identical (src, 1.0) structs either way)
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val aTagged =
        if (hub == null)
          e.select(col("_dst"),
            struct(col("_src").as("_k"), lit(1.0).as("_c")).as("_t"))
        else
          e.join(hub.withColumnRenamed("node", "_src"), "_src")
            .select(col("_dst"),
              struct(col("_src").as("_k"), col("hub").as("_c")).as("_t"))
      val aRaw = aTagged
        .groupBy(col("_dst").as("node"))
        .agg(foldSum(col("_t")).as("a"))
        .persist(storage)
      val aSum = l1(aRaw, "a")
      auth = aRaw.select(col("node"), (col("a") / lit(aSum)).as("authority"))
      val hRaw = e.join(auth.withColumnRenamed("node", "_dst"), "_dst")
        .groupBy(col("_src").as("node"))
        .agg(foldSum(struct(col("_dst").as("_k"),
          col("authority").as("_c"))).as("h"))
        .persist(storage)
      val hSum = l1(hRaw, "h")
      hub = hRaw.select(col("node"), (col("h") / lit(hSum)).as("hub"))
      // both half-steps are now cached; the previous round's frames
      // are dead — released HERE, not at the tail (peak residency 2
      // node-sized frames instead of 2·iterations)
      prevFences.foreach(_.unpersist(false))
      prevFences = Seq(aRaw, hRaw)
    }
    // auth's key set IS the distinct-dst set (every dst has an
    // in-edge; hub covers every src by the same induction), so the old
    // dsts/srcs left-outer re-joins were identities — one full-outer
    // stitch of the two final half-steps is the whole output (r18)
    val out = auth.join(hub, Seq("node"), "full_outer")
      .na.fill(0.0, Seq("authority", "hub"))
      .select(col("node"), col("authority"), col("hub"))
    // eager=false (pageRank's contract): return the lazy plan and
    // hand the final round's caches (plus the edge frame) to
    // `onFences` so a per-batch caller can release them after
    // materialization instead of stranding them in the CacheManager
    if (!eager) {
      if (onFences != null) onFences(prevFences :+ e)
      return out
    }
    // eager: materialize, then release every per-round fence instead
    // of leaking persisted frames into the caller's session
    Fences.spill(out, "hits", "graft-hits", prevFences :+ e)
  }

  /** Exact triangle enumeration by degree-oriented node iteration
    * (Chiba & Nishizeki 1985; the MapReduce formulation of Suri &
    * Vassilvitskii, WWW 2011). Triangles are the local clustering
    * signal of a co-occurrence graph — tightly connected item or
    * document neighborhoods in the [[Baskets.frequentPairs]] output.
    *
    * Each undirected edge is ORIENTED from its lower-(degree, id)
    * endpoint to the higher one; wedges are then built only from a
    * node's outgoing edges and confirmed against the undirected edge
    * set. Every triangle has exactly one vertex with two outgoing
    * edges inside it, so each is found exactly once — and the wedge
    * count is Σ outdeg² ≤ O(m^1.5) regardless of skew: a celebrity
    * node of degree d contributes d² wedges in the naive scheme but
    * near-zero here, because almost all its edges are oriented INTO
    * it. Output rows carry the triangle's vertices sorted by id
    * (node_a < node_b < node_c) — a deterministic set under any
    * partitioning.
    *
    * Scale shape: two equi-join shuffles (wedge build on the pivot,
    * confirm on the closing edge) over the edge list, no nested-loop
    * products. On 100 TB-derived graphs the edge list is the small
    * output of an upstream prune (frequent pairs, similarity pairs),
    * so both joins are AQE-broadcastable when it collapses.
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame =
    trianglesCanon(canonEdges(edges, srcCol, dstCol))

  /** [[triangles]] over an ALREADY canonical+fenced (_u,_v) edge list —
    * shared with [[clusteringCoefficient]] so one fenced table feeds
    * both the wedge machinery and the caller's degree join instead of
    * each fencing its own copy. */
  private def trianglesCanon(e0: DataFrame): DataFrame = {
    // deg is node-sized and joined onto the edge list TWICE (once per
    // endpoint) — fence it so the aggregate runs once, not twice
    val deg = fence(e0.select(explode(array(col("_u"), col("_v"))).as("_n"))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d")))
    val withDeg = e0
      .join(deg.select(col("_n").as("_u"), col("_d").as("_du")), "_u")
      .join(deg.select(col("_n").as("_v"), col("_d").as("_dv")), "_v")
    val oriented = withDeg.select(
      when(col("_du") < col("_dv") ||
        (col("_du") === col("_dv") && col("_u") < col("_v")),
        struct(col("_u").as("_s"), col("_v").as("_t")))
        .otherwise(struct(col("_v").as("_s"), col("_u").as("_t")))
        .as("_e"))
      .select(col("_e._s").as("_s"), col("_e._t").as("_t"))
    val wedges = oriented.as("e1")
      .join(oriented.select(col("_s"), col("_t").as("_t2")).as("e2"),
        col("e1._s") === col("e2._s") && col("e1._t") < col("_t2"))
      .select(col("e1._s").as("_p"), col("e1._t").as("_q"),
        col("_t2").as("_r"))
    wedges
      .join(e0,
        least(col("_q"), col("_r")) === col("_u") &&
          greatest(col("_q"), col("_r")) === col("_v"))
      .select(array_sort(array(col("_p"), col("_q"), col("_r"))).as("_tri"))
      .select(col("_tri").getItem(0).as("node_a"),
        col("_tri").getItem(1).as("node_b"),
        col("_tri").getItem(2).as("node_c"))
  }

  /** Local clustering coefficient per node (Watts & Strogatz 1998):
    * cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) = triangles
    * through v — the per-node cohesion signal on co-occurrence
    * graphs, complementing the global [[triangles]] enumeration.
    *
    * Exactness: T and deg are integers under any partitioning; the
    * coefficient is one IEEE division. Nodes of degree < 2 report 0.
    *
    * Scale shape: the [[triangles]] wedge join (Σ outdeg² ≤ O(m^1.5))
    * plus one explode + keyed count over its output and a degree
    * join — no new quadratic surface.
    */
  def clusteringCoefficient(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    // ONE fenced canonical edge list feeds the degree aggregate AND
    // the triangle core (via trianglesCanon — the public triangles()
    // entry would canonicalize+fence a second copy of the same table)
    val e0 = canonEdges(edges, srcCol, dstCol)
    val deg = e0.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val triCnt = trianglesCanon(e0)
      .select(explode(array(col("node_a"), col("node_b"), col("node_c")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triCnt, Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
      .select(col("node"), col("degree"), col("n_triangles"),
        col("clustering"))
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over all directed edge instances (each
    * undirected edge counted both ways). Positive on social-style
    * graphs (hubs link hubs), negative on web/biology-style graphs —
    * the one-number mixing diagnostic for a curated link corpus.
    *
    * Exactness: with both directions included, Σx = Σy and
    * Σx² = Σy², so r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²) — NO square
    * root. All sums are integers folded in decimal(38,0); the output
    * doubles derive from the exact rationals in one fixed expression
    * (the [[Stats.linearTrend]] discipline).
    *
    * Scale shape: one degree aggregation + two node-sized joins onto
    * the edge list + one global 1-row aggregate. No self-join.
    */
  def assortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val e0 = canonEdges(edges, srcCol, dstCol)
    val both = e0.select(col("_u").as("_a"), col("_v").as("_b"))
      .union(e0.select(col("_v").as("_a"), col("_u").as("_b")))
    // node-sized, joined onto the edge list twice — fence like
    // [[trianglesCanon]]'s degree table
    val deg = fence(both.groupBy(col("_a").as("_n"))
      .agg(count(lit(1)).as("_d")))
    val xy = both
      .join(deg.select(col("_n").as("_a"), col("_d").as("_x")), "_a")
      .join(deg.select(col("_n").as("_b"), col("_d").as("_y")), "_b")
      .select(col("_x").cast(d38).as("_x"), col("_y").cast(d38).as("_y"))
    val s = xy.agg(count(lit(1)).cast(d38).as("_m"),
      sum(col("_x")).as("_sx"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"))
    val num = col("_m") * col("_sxy") - col("_sx") * col("_sx")
    val den = col("_m") * col("_sxx") - col("_sx") * col("_sx")
    s.select(col("_m").cast("long").as("m_directed_edges"),
      when(den =!= 0,
        num.cast("double") / den.cast("double")).as("assortativity"))
  }

  /** Undirected degree histogram: how many nodes have each degree —
    * the one-table shape diagnostic (power-law vs bounded) a crawl
    * curator reads before choosing hub caps like
    * [[jaccardLinks]]'s `maxDegree`. Pure integer counts.
    *
    * Scale shape: one degree aggregation + one count aggregation —
    * the histogram is at most max-degree rows.
    */
  def degreeHistogram(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct()
    e0.select(explode(array(col("_u"), col("_v"))).as("_n"))
      .groupBy(col("_n")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Reciprocity of a DIRECTED graph (Wasserman & Faust 1994):
    * the fraction of directed edges whose reverse edge also exists —
    * the mutual-interaction diagnostic for event-transition and
    * mention graphs (near 0 = broadcast-shaped, near 1 = dialog-
    * shaped). Self-loops are excluded.
    *
    * Exactness: pure integer edge counts under any partitioning;
    * the ratio is one IEEE division.
    *
    * Scale shape: one distinct + one self-equi-join on the reversed
    * key (left-semi, AQE-broadcastable) + a 1-row aggregate.
    */
  def reciprocity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    // DIRECTED canonical list (reciprocity must keep direction), same
    // fence rationale as [[canonEdges]]: referenced by both sides of
    // the reversal semi-join plus the m count — 3 upstream replays
    // unfenced
    val e = fence(edges.select(col(srcCol).as("_s"), col(dstCol).as("_t"))
      .filter(col("_s").isNotNull && col("_t").isNotNull &&
        col("_s") =!= col("_t"))
      .distinct())
    val mutual = e.join(
      e.select(col("_t").as("_s"), col("_s").as("_t")),
      Seq("_s", "_t"), "left_semi")
    val m = e.agg(count(lit(1)).as("m_edges"))
    val r = mutual.agg(count(lit(1)).as("n_reciprocal"))
    m.crossJoin(broadcast(r))
      .select(col("m_edges"), col("n_reciprocal"),
        when(col("m_edges") > 0,
          col("n_reciprocal").cast("double") /
            col("m_edges").cast("double")).as("reciprocity"))
  }

  /** k-core membership by bounded iterative peeling (Seidman 1983;
    * the MapReduce formulation of the degeneracy peel): repeatedly
    * drop nodes of undirected degree < k and the edges they carry,
    * up to `maxRounds` times or until a round removes nothing —
    * surviving nodes form the k-core (when converged) with their
    * within-core degree. The standard densest-region prefilter for
    * community detection and spam-farm isolation on co-occurrence
    * graphs.
    *
    * Determinism: pure integer degrees — the surviving set after R
    * rounds is a function of the edge multiset only. Peeling is
    * MONOTONE (a stable subgraph stays stable), so early exit on a
    * no-change round equals running the full budget: a fixed-R
    * replay agrees with the early-exited run whenever either
    * converges within R.
    *
    * Scale shape: per round one degree aggregation + two semi-joins
    * of the edge list against the (node-sized) survivor set; the
    * per-round `count()` that detects convergence doubles as the
    * persist fence keeping lineage linear (1 long to the driver per
    * round — the documented bounded class).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 10,
      eager: Boolean = true,
      onFences: Seq[DataFrame] => Unit = null): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"k=$k maxRounds=$maxRounds")
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def adj(e: DataFrame): DataFrame =
      e.select(col("_u").as("_n"), col("_v").as("_nbr"))
        .union(e.select(col("_v").as("_n"), col("_u").as("_nbr")))
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct().persist(storage)
    var m = e.count()
    val fences = scala.collection.mutable.ArrayBuffer[DataFrame](e)
    var round = 0
    var stable = false
    while (round < maxRounds && !stable && m > 0) {
      val keep = adj(e).groupBy(col("_n")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("_n"))
      val e2 = e
        .join(keep.withColumnRenamed("_n", "_u"), Seq("_u"), "left_semi")
        .join(keep.withColumnRenamed("_n", "_v"), Seq("_v"), "left_semi")
        .persist(storage)
      fences += e2
      val m2 = e2.count()
      stable = m2 == m
      m = m2
      e = e2
      round += 1
    }
    val out = adj(e).groupBy(col("_n").as("node"))
      .agg(count(lit(1)).as("core_degree"))
    if (!eager) {
      // in-pipeline mode: no spill dir may exist — return the lazy
      // plan over the FINAL surviving edge frame (still cached; its
      // release is the caller's, via `onFences`) and drop the earlier
      // rounds' caches, which the convergence counts already
      // materialized past
      fences.filter(_ ne e).foreach(_.unpersist(false))
      if (onFences != null) onFences(Seq(e))
      return out
    }
    Fences.spill(out, "kCore", "graft-kcore", fences.toSeq)
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76, 2007) with the deterministic
    * tie rule: every node starts labeled with its own id; each round
    * it adopts the label that is most frequent among its neighbors
    * PLUS its own current label (the self-vote damps the 2-cycle
    * oscillation of the pure synchronous update), ties broken to the
    * SMALLEST label. All votes are integer counts and the tie rule is
    * a total order, so the result after R rounds is a pure function
    * of the edge multiset — replayable bit-exactly by any engine.
    *
    * Early exit equals the fixed budget: the synchronous update is a
    * deterministic function F of the label table, so F(L) = L means
    * every later round is also L — a converged run and a full-budget
    * replay agree (the [[kCore]] argument).
    *
    * Scale shape: per round ONE join of the label table onto the
    * symmetric adjacency (shuffle on the neighbor key) + one
    * (node, label) count aggregate with map-side combine + one argmax
    * aggregate — constant-size aggregation state per node, no
    * neighbor lists are ever collected. Each round references the
    * label table twice (neighbor join + self-vote), so rounds are
    * lineage-truncated like [[Dedup.components]]; the per-round
    * convergence count is the documented bounded 1-long collect.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations=$iterations")
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct()
    // both adjacency directions in ONE pass (explode, not union of two
    // selects): the union form references e0 twice, so the caller's
    // edge derivation — the frequentPairs self-join on the gate —
    // replayed twice inside this one fence (r18, guide §2.4: same
    // rows, one scan)
    val sym = fence(e0.select(explode(array(
        struct(col("_u").as("_n"), col("_v").as("_nbr")),
        struct(col("_v").as("_n"), col("_u").as("_nbr")))).as("_e"))
      .select(col("_e._n").as("_n"), col("_e._nbr").as("_nbr")))
    var labels = fence(sym.select(col("_n").as("node")).distinct()
      .withColumn("lbl", col("node")))
    var iter = 0
    var stable = false
    while (iter < iterations && !stable) {
      val votes = sym
        .join(labels.select(col("node").as("_nbr"), col("lbl")), "_nbr")
        .select(col("_n"), col("lbl"))
        .union(labels.select(col("node").as("_n"), col("lbl")))
        .groupBy(col("_n"), col("lbl")).agg(count(lit(1)).as("_c"))
      // the moved flag rides the truncated table ([[Dedup.components]]'
      // pattern, r18): the convergence probe is then one filter+count
      // over storage-backed blocks instead of a separate join job
      // re-deriving both label tables every round
      val next = fence(votes
        .groupBy(col("_n").as("node"))
        .agg(min(struct((-col("_c")).as("_nc"), col("lbl").as("_l")))
          .getField("_l").as("lbl"))
        .join(labels.select(col("node"), col("lbl").as("_old")), "node")
        .select(col("node"), col("lbl"),
          (col("lbl") =!= col("_old")).as("_moved")))
      stable = next.filter(col("_moved")).count() == 0
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Modularity of a community partition (Newman & Girvan 2004):
    * Q = Σ_c [e_c/m − (d_c/2m)²] over the undirected graph — the
    * standard quality score for [[labelPropagation]]'s output (Q near
    * 0 ⇒ no better than random, 0.3–0.7 ⇒ strong structure).
    *
    * Exactness: e_c, d_c, m are integers, and Q is accumulated as the
    * EXACT rational Σ_c (4m·e_c − d_c²) over 4m² — the numerator sums
    * in decimal(38,0) (order-insensitive), the output is ONE double
    * division. No per-community float fold, so the result is
    * bit-replayable at any community count.
    *
    * Scale shape: two community joins onto the edge list + one degree
    * aggregate + a communities-sized reduction; m is one bounded
    * count (guarded so 4m² stays exact in long range).
    */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      communities: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct()
    val comm = communities.select(col(communities.columns.head).as("node"),
      col(communities.columns(1)).as("_c"))
    // the edge list feeds three consumers (m, intra, degrees) and its
    // upstream derivation (frequent pairs, similarity output) is the
    // expensive part — persist it; the m count doubles as the fence
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0p = e0.persist(storage)
    val m = e0p.count()
    require(m > 0, "modularity: empty graph")
    require(m < 1500000000L,
      s"modularity: m=$m — 4m² must stay in long range")
    val intra = e0p
      .join(comm.select(col("node").as("_u"), col("_c").as("_ca")), "_u")
      .join(comm.select(col("node").as("_v"), col("_c").as("_cb")), "_v")
      .filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("_c")).agg(count(lit(1)).as("_ec"))
    val dc = e0p.select(explode(array(col("_u"), col("_v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("_d"))
      .join(comm, "node")
      .groupBy(col("_c")).agg(sum(col("_d")).as("_dsum"))
    val num = dc.join(intra, Seq("_c"), "left_outer")
      .na.fill(0L, Seq("_ec"))
      .select(col("_c"),
        (lit(4L * m).cast(d38) * col("_ec").cast(d38) -
          col("_dsum").cast(d38) * col("_dsum").cast(d38)).as("_num"))
    // EAGER: the result is ONE row (the documented bounded-collect
    // class) — materialize it so the persisted edge list releases
    // here instead of leaking into the caller's session
    val row = num.agg(count(lit(1)).as("n_communities"),
        sum(col("_num")).as("_sn"))
      .select(lit(m).as("m_edges"), col("n_communities"),
        (col("_sn").cast("double") / lit((4L * m * m).toDouble))
          .as("modularity"))
      .head()
    e0p.unpersist(false)
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getDouble(2)))
      .toDF("m_edges", "n_communities", "modularity")
  }

  /** Hop distance to the nearest seed by multi-source BFS over the
    * undirected graph — the crawl-frontier trust signal (TrustRank-
    * style seed proximity, Gyöngyi et al., VLDB 2004, with unit
    * hops instead of damped mass): nodes close to a curated seed set
    * are likelier quality pages. Returns (node, hops) for every node
    * REACHED within `maxHops`; unreached nodes are absent, seeds not
    * present in the graph's node set are ignored.
    *
    * Determinism: hop counts are integers and the frontier merge is
    * `min` — the output is a pure function of the edge multiset and
    * seed set. Relaxation is MONOTONE (distances only decrease), so
    * early exit on a no-improvement round equals the full budget.
    *
    * Scale shape: per round ONE join of the current frontier onto the
    * symmetric adjacency (the frontier shrinks to the BFS ring, so
    * AQE broadcasts it on sparse graphs) + one min-merge aggregate;
    * rounds are lineage-truncated, one bounded count per round.
    */
  def seedDistance(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops=$maxHops")
    val seedCol = seeds.columns.head
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct()
    // single-pass symmetric adjacency ([[labelPropagation]]'s explode
    // rationale): the union form replayed the caller's edge
    // derivation twice inside this fence
    val sym = fence(e0.select(explode(array(
        struct(col("_u").as("_n"), col("_v").as("_nbr")),
        struct(col("_v").as("_n"), col("_u").as("_nbr")))).as("_e"))
      .select(col("_e._n").as("_n"), col("_e._nbr").as("_nbr")))
    val nodes = sym.select(col("_n").as("node")).distinct()
    var dist = fence(nodes
      .join(seeds.select(col(seedCol).as("node")).distinct(),
        Seq("node"), "left_semi")
      .withColumn("hops", lit(0L)))
    // frontier = nodes whose distance improved last round; expanding
    // only the ring (not the whole settled set) keeps each round's
    // join input at O(ring), the textbook BFS work bound. Only the
    // RING is truncated per round — the settled set is the lazy union
    // of storage-backed rings (each referenced once per round in the
    // anti-join), so lineage stays linear without re-writing the
    // whole distance table every hop.
    var frontier = dist
    var hop = 0L
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      val reached = sym
        .join(frontier.select(col("node").as("_n")), "_n")
        .select(col("_nbr").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(hop))
      frontier = fence(reached)
      done = frontier.count() == 0
      if (!done) dist = dist.unionByName(frontier)
    }
    dist.select(col("node"), col("hops"))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003,
    * Jaccard variant): for every UNCONNECTED node pair at distance 2,
    * |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — "these two items are never
    * co-bought but share most of their neighborhoods", the recommender
    * and graph-cleaning signal over the same co-occurrence graphs
    * [[triangles]] reads.
    *
    * Exactness: common/deg counts are integers; the union size is
    * deg_a + deg_b − common (inclusion–exclusion, no list ops); the
    * score is one IEEE division.
    *
    * Scale shape: candidates are generated by the wedge join (common
    * neighbor as the join key), so the pair space is Σ deg² — and a
    * single celebrity pivot of degree d would emit d² candidate rows
    * in one key's bucket. `maxDegree` ENFORCES the bound (the
    * `maxBucket`/`boundedSelfPairs` discipline applied to the wedge
    * join): nodes whose degree exceeds it are excluded as PIVOTS
    * (common neighbors), capping candidate generation at
    * Σ deg² ≤ maxDegree · 2m rows, exactly as text pipelines cap
    * document frequency — a stopword-like hub mediating millions of
    * pairs carries no linkage signal anyway. The recall contract is
    * "pairs whose only common neighbors are hubs above the cap are
    * not scored".
    *
    * Scores for SURVIVING pairs are EXACT, hub neighbors included:
    * the capped wedge count is only a lower bound when hub common
    * neighbors exist, so candidates whose endpoints both touch hubs
    * are re-counted exactly by re-expanding ONE endpoint's true
    * neighbor list against the other's (driven by the candidate
    * pairs — never generates new pairs). An upper-bound prune
    * (common ≤ capped + min(hub-degree of either endpoint)) runs
    * first, which also bounds the re-expansion: a surviving pair has
    * deg_a + deg_b ≤ (1 + 1/minJaccard)·min(deg_a, deg_b), so a
    * celebrity endpoint paired with a small node is pruned before
    * its neighbor list is ever expanded. Pairs with no hub neighbors
    * on either endpoint (the entire graph under the default cap)
    * skip the re-count — their capped count is already exact.
    */
  def jaccardLinks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      minJaccard: Double,
      maxDegree: Int = 100000,
      maxExpansion: Long = 100000000L): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, s"minJaccard=$minJaccard")
    require(maxDegree >= 2, s"maxDegree=$maxDegree")
    require(maxExpansion > 0, s"maxExpansion=$maxExpansion")
    // e0 feeds the unlinked anti-join AND the adjacency; adj pivots
    // BOTH sides of the wedge self-join (plus the hub-path expansions);
    // deg joins onto the candidates twice — all three fenced, or the
    // caller's edge derivation replays once per reference (~9 copies of
    // the upstream subtree in the r18 before-plan of graph_links)
    val e0 = canonEdges(edges, srcCol, dstCol)
    val adj = fence(e0.select(explode(array(
        struct(col("_u").as("_n"), col("_v").as("_nbr")),
        struct(col("_v").as("_n"), col("_u").as("_nbr")))).as("_e"))
      .select(col("_e._n").as("_n"), col("_e._nbr").as("_nbr")))
    val deg = fence(adj.groupBy(col("_n")).agg(count(lit(1)).as("_d")))
    val hubs = deg.filter(col("_d") > maxDegree).select(col("_n"))
    def wedge(pivot: DataFrame): DataFrame = pivot.as("a1")
      .join(pivot.select(col("_n"), col("_nbr").as("_nbr2")).as("a2"),
        col("a1._n") === col("a2._n") && col("a1._nbr") < col("_nbr2"))
      .groupBy(col("a1._nbr").as("_x"), col("_nbr2").as("_y"))
      .agg(count(lit(1)).as("_capped"))
    def unlinkedOf(common: DataFrame): DataFrame = common.join(e0,
      col("_x") === col("_u") && col("_y") === col("_v"), "left_anti")
    def withDegrees(df: DataFrame): DataFrame = df
      .join(deg.select(col("_n").as("_x"), col("_d").as("deg_a")), "_x")
      .join(deg.select(col("_n").as("_y"), col("_d").as("deg_b")), "_y")
    def score(df: DataFrame, commonCol: Column) = df
      .withColumn("common", commonCol)
      .withColumn("jaccard", col("common").cast("double") /
        (col("deg_a") + col("deg_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("_x").as("node_a"), col("_y").as("node_b"),
        col("common"), col("deg_a"), col("deg_b"), col("jaccard"))
    // One hub probe up front (a degree aggregation — far below the
    // wedge join) gates the ENTIRE hub machinery, not just the
    // expansion budget: under the default cap on sane graphs there
    // are no hubs, every node may pivot, the capped count IS the true
    // count, and the plan carries none of the hub-degree joins (this
    // was the round-13 graph_links regression — the exactness pass
    // added its joins to the no-hub plan too).
    if (hubs.isEmpty) {
      score(withDegrees(unlinkedOf(wedge(adj))), col("_capped"))
    } else {
      // hub-degree per node: how many of its neighbors are above the
      // cap (node-sized)
      val hubDeg = adj.join(hubs.withColumnRenamed("_n", "_nbr"), "_nbr")
        .groupBy(col("_n")).agg(count(lit(1)).as("_hd"))
      // pivot side: hub nodes above the cap never mediate candidates —
      // the wedge join's per-key fan-out is ≤ maxDegree² by construction
      val pivotAdj = adj.join(
          deg.filter(col("_d") <= maxDegree).select(col("_n")), "_n")
      val annotated = withDegrees(unlinkedOf(wedge(pivotAdj)))
        .join(hubDeg.select(col("_n").as("_x"), col("_hd").as("_hdx")),
          Seq("_x"), "left")
        .join(hubDeg.select(col("_n").as("_y"), col("_hd").as("_hdy")),
          Seq("_y"), "left")
        .na.fill(0L, Seq("_hdx", "_hdy"))
        // upper bound on the true common count: hub commons number at
        // most min(hub-degree of x, hub-degree of y)
        .withColumn("_ub", col("_capped") + least(col("_hdx"), col("_hdy")))
        .filter(col("_ub").cast("double") /
          (col("deg_a") + col("deg_b") - col("_ub")).cast("double")
          >= lit(minJaccard))
      // no hub neighbors on either endpoint ⇒ the capped count IS the
      // true count (a common neighbor above the cap would appear in
      // both endpoints' hub-degrees)
      val fast = score(
        annotated.filter(least(col("_hdx"), col("_hdy")) === 0L),
        col("_capped"))
      // exact re-count for the hub-touching survivors: expand x's TRUE
      // neighbor list (bounded by the upper-bound prune) and keep the
      // neighbors that are also y's
      val slow = annotated.filter(least(col("_hdx"), col("_hdy")) > 0L)
      // expansion budget (the budget aggregate is the documented
      // bounded 1-row collect class and recomputes the candidate
      // lineage once, the price of entering the risky regime)
      val expansion = slow.agg(coalesce(sum(col("deg_a")), lit(0L)).as("_e"))
        .collect().head.getLong(0)
      require(expansion <= maxExpansion,
        s"jaccardLinks: exact hub re-scoring would expand $expansion " +
          s"adjacency rows (> maxExpansion=$maxExpansion) — minJaccard=" +
          s"$minJaccard is small enough to re-admit the quadratic surface " +
          "the maxDegree cap removed; raise minJaccard, lower maxDegree, " +
          "or raise maxExpansion explicitly")
      val exact = slow.select(col("_x"), col("_y"))
        .join(adj.select(col("_n").as("_x"), col("_nbr")), "_x")
        .join(adj.select(col("_n").as("_y"), col("_nbr")), Seq("_y", "_nbr"),
          "left_semi")
        .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_exact"))
      val slowScored = score(
        slow.join(exact, Seq("_x", "_y")), col("_exact"))
      fast.unionByName(slowScored)
    }
  }
}
