package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Corpus
/** Graph operators over the near-dup candidate graph — connected
  * components, canonicals (min-id / keep-longest / soft weights), k-core,
  * PageRank, triangles, random walks, LPA (exact + bounded), duplicate
  * flow and the sketched miss audit. Family of [[graft.operators.Dedup]]
  * (round-11 split); edges come from [[DedupMinHash.lshCandidatePairs]].
  */
private[graft] trait DedupGraph extends Serializable { this: DedupMinHash =>

  /** The symmetric arc list (src, dst) of an undirected (doc_a, doc_b)
    * edge list: each edge in both directions. Callers decide whether it is
    * checkpointed.
    */
  private def arcs(edges: DataFrame): DataFrame = {
    val e = edges.select("doc_a", "doc_b")
    e.union(e.select(col("doc_b"), col("doc_a"))).toDF("src", "dst")
  }

  /** Per-node degree (doc_id, deg) of a symmetric arc list ([[arcs]]):
    * the endpoint-degree table every degree-aware graph op reads. */
  private def degrees(sym: DataFrame): DataFrame =
    sym.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))

  /** Connected components over near-dup edges → duplicate clusters, labeled
    * by the minimum doc_id reachable ([[clustersFromEdges]] over the LSH
    * candidate pairs).
    */
  def duplicateClusters(docs: DataFrame, minEst: Double): DataFrame =
    clustersFromEdges(docs.select("doc_id"),
      lshCandidatePairs(docs, minEst).select("doc_a", "doc_b"))

  /** Min-label connected components over an ARBITRARY (doc_a, doc_b) edge
    * list — [[duplicateClusters]] factored free of the LSH edge source so
    * other verified-pair generators compose with it (q148 runs it over the
    * dHash Hamming-ball image edges; any modality's near-dup pairs work).
    * `ids` is one row per node (doc_id); isolated nodes label themselves.
    *
    * Scale shape: a fixpoint loop on [[graft.core.Lifecycle.roundLoop]],
    * capped at 20 rounds. A round is one shuffle over the edge list (the
    * neighbour min) plus pointer jumping, label[x] ← label[label[x]], a
    * node-keyed self-join: every label is a real doc_id, so convergence
    * takes O(log diameter) rounds instead of O(diameter). Labels only
    * DECREASE, so the label sum is the driver's progress aggregate.
    */
  def clustersFromEdges(ids: DataFrame, edgesIn: DataFrame): DataFrame = {
    import graft.core.Lifecycle.{loopCheckpoint, freeCheckpoint, roundLoop}
    val sym = loopCheckpoint(arcs(edgesIn))
    val labels = roundLoop(ids.select(col("doc_id"), col("doc_id").as("cluster_id")),
        20, progress = Some(sum(col("cluster_id").cast("decimal(38,0)")))) {
        (cur, scratch) =>
      // measured negative result: folding the self-carry into the edge join
      // via self-loops (sym ∪ (id,id), one join+min instead of join+min+left
      // join) ran ~12% SLOWER at bench scale — labels broadcast into the sym
      // join, so the "saved" left join was already shuffle-free, and the
      // self-loop rows only added aggregation work. Don't re-fuse.
      val nbMin = sym
        .join(cur.withColumnRenamed("doc_id", "dst_id"), col("dst") === col("dst_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("cluster_id").as("nb_min"))
      // stepped is node-bounded scratch (round 11): materialized so the
      // pointer-jump self-join's two branches read the tiny table instead
      // of evaluating the sym-join subtree twice per round (measured
      // ~15–20% of the loop's CPU)
      val stepped = scratch(cur.join(nbMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id"))).as("cluster_id")))
      stepped.as("a")
        .join(stepped.select(col("doc_id").as("pj_id"), col("cluster_id").as("pj_cl")).as("b"),
          col("a.cluster_id") === col("pj_id"), "left")
        .select(col("a.doc_id"), coalesce(col("pj_cl"), col("a.cluster_id")).as("cluster_id"))
    }
    freeCheckpoint(sym) // the returned labels are materialized — sym is dead
    labels
  }

  /** k-CORE of an arbitrary (doc_a, doc_b) edge list — iterative peeling
    * (Matula–Beck 1983; distributed round shape à la Montresor et al.,
    * "Distributed k-Core Decomposition", 2011): each round recounts every
    * survivor's degree AMONG survivors and drops nodes under `k`; what
    * remains at the fixpoint is the maximal subgraph where every member
    * keeps ≥ k neighbours inside it. EXACTLY `rounds` rounds run — peeling
    * is idempotent at the fixpoint, so a fixed count is engine-mirrorable.
    * Emits (doc_id, core_deg): the per-node degrees of the final live
    * graph, and the `require` checks that every one clears `k`, so the
    * final live graph is a peel fixpoint and the output is exactly the
    * k-core; a too-small `rounds` fails loudly instead of shipping a
    * half-peeled core. It does NOT check that `rounds` sufficed without
    * that implicit last peel: a node that cleared the last round's filter
    * but lost every live edge in it is absent from the live graph (the
    * answer is still the k-core). The peel depth is O(n) worst case (a k=2
    * path peels from the ends); real duplicate graphs are shallow.
    *
    * Scale shape: a fixed-round loop on [[graft.core.Lifecycle.roundLoop]]
    * whose round table is the LIVE EDGE LIST (survivor-edge carrying,
    * round 12): a round is one keyed count plus two semi-joins of only
    * the edges both of whose endpoints survived. On a 2 M-edge Zipf star
    * + ring that measured wall 12.7 → 5.4 s, cpu −50%, shuffle 46.9 →
    * 18.3 MB against re-scanning the full edge list per round (same JVM,
    * identical output; OPTIMIZATION_r12.md:438-446); flat on the
    * near-uniform LSH graph, where almost nothing peels.
    */
  def kCoreFromEdges(edgesIn: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    val core = graft.core.Lifecycle.roundLoop(arcs(edgesIn), rounds,
        finish = Some(live => degrees(live).select(col("doc_id"), col("deg").as("core_deg")))) {
        (live, _) =>
      val active = degrees(live).filter(col("deg") >= k).select("doc_id")
      live
        .join(active.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
        .join(active.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
    }
    // fixpoint check (see Scaladoc): the implicit final peel must drop
    // nobody — every live endpoint must clear k among the live edges
    require(core.filter(col("core_deg") < k).isEmpty,
      s"k-core peel did not reach its fixpoint within $rounds rounds — raise rounds")
    core
  }

  /** [[kCoreFromEdges]] over the verified near-dup graph — the FIFTH
    * graph-analytic on the same edge list (components q47, PageRank q106,
    * triangles q117, walks q144): connectivity alone (CC) merges anything
    * touching a chain, and degree alone crowns hubs that die in one peel
    * round; the k-core isolates the densely CROSS-LINKED duplication
    * communities (template farms, mirror rings) whose every member stays
    * k-connected inside the community — the strongest of the graph-shaped
    * curation signals.
    */
  def kCore(docs: DataFrame, minEst: Double, k: Int, rounds: Int): DataFrame =
    kCoreFromEdges(lshCandidatePairs(docs, minEst).select("doc_a", "doc_b"),
      k, rounds)

  /** Fixed-iteration PageRank over the symmetrized near-dup graph, in
    * EXACT INTEGER MICRO-UNITS: ranks live as micro-longs (1.0 = 10⁶),
    * each node passes `r div deg` to every neighbour (truncating integer
    * division), and the damped update is
    * `r' = 150000 + (850·Σcontrib) div 1000` — every operation is long
    * arithmetic, so the distributed sum is order-independent and any
    * engine reproduces it bit-for-bit, which a float PageRank cannot do
    * (its per-node Σ depends on reduction order). The centrality weights
    * duplicate-cluster hubs — the corpus-quality signal link analysis
    * gives a training pipeline. Dangling mass is dropped (standard
    * simplified form); isolated docs settle at the 150000 floor.
    *
    * Scale shape: the edge list is LSH-candidate-bounded (never n²) and
    * checkpointed once; each iteration is one join + one keyed sum, the
    * classic Pregel-style round. Micro-scaling keeps every product below
    * 2^63 up to ~10¹² accumulated contribution — far past any real
    * in-degree after the hot-bucket cap.
    */
  def pagerankMicro(docs: DataFrame, minEst: Double, iters: Int): DataFrame = {
    import graft.core.Lifecycle.loopCheckpoint
    // materialized once, or every iteration re-runs the candidate join;
    // both live until the returned (lazy) rank plan is consumed, so the
    // ContextCleaner, not freeCheckpoint, releases them with the plan
    val sym = loopCheckpoint(arcs(lshCandidatePairs(docs, minEst)))
    // node-bounded and referenced by EVERY iteration's contrib join — one
    // materialization instead of `iters` re-aggregations of the arc list
    // (round 11; same class as the CC loop's stepped checkpoint)
    val deg = loopCheckpoint(degrees(sym).withColumnRenamed("doc_id", "src"))
    val base = docs.select(col("doc_id"))
    (1 to iters).foldLeft(base.withColumn("r", lit(1000000L))) { (r, _) =>
      val contrib = sym.join(deg, Seq("src"))
        .join(r.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("give"))
        .groupBy("doc_id").agg(sum("give").as("c"))
      base.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("150000 + (850 * coalesce(c, 0)) div 1000").as("r"))
    }.select(col("doc_id"), col("r").as("rank_micro"))
  }

  /** Deterministic node2vec-style walks over the near-dup graph: one walk
    * per node, `steps` hops, each hop moving to the neighbor that
    * minimizes the hash ((dst·1299721 + step·7) mod M) — a reproducible
    * stand-in for the uniform neighbor draw, with the packed
    * (hash·2³² + dst) argmin making ties exact in any engine. Emits the
    * comma-joined node sequences — the "sentences" skip-gram graph
    * embeddings (DeepWalk/node2vec) train on; downstream they feed q97's
    * PMI/skip-gram machinery unchanged.
    *
    * Scale shape: each hop is ONE keyed join against the per-step argmin
    * table (itself a keyed aggregate of the arc list); `steps` is a small
    * constant, so the lineage is a fixed chain of equi-joins — no
    * iteration-to-convergence, no window, walks never collected.
    */
  def randomWalks(docs: DataFrame, minEst: Double, steps: Int): DataFrame = {
    // the arc list feeds every hop's argmin
    val sym = graft.core.Lifecycle.loopCheckpoint(
      arcs(lshCandidatePairs(docs, minEst)))
    val start = sym.select(col("src")).distinct()
      .select(col("src").as("start"), col("src").as("cur"),
        col("src").cast("string").as("seq"))
    (1 to steps).foldLeft(start) { (walks, step) =>
      val nx = sym
        .groupBy("src")
        .agg(min(((col("dst") * 1299721L + lit(step) * 7L) % M)
          * 4294967296L + col("dst")).as("pk"))
        .select(col("src").as("nsrc"), (col("pk") % 4294967296L).as("nx"))
      walks.join(nx, walks("cur") === nx("nsrc"), "left")
        .select(col("start"),
          coalesce(col("nx"), col("cur")).as("cur"),
          concat(col("seq"), lit(","),
            coalesce(col("nx"), col("cur")).cast("string")).as("seq"))
    }.select(col("start"), col("cur").as("end"), col("seq"))
  }

  /** Cross-source duplicate-flow matrix: near-dup pair counts per
    * unordered (source_a, source_b) cell with the exact sum of signature
    * agreements — the provenance report showing which sources copy from
    * which (mirrors within one source, syndication across two), the
    * aggregate view a curation team reads before deciding per-source
    * dedup policy. Scale shape: the capped candidate pairs ride two
    * id-keyed joins to pick up sources; the matrix is #sources²-bounded.
    */
  def dupFlow(docs: DataFrame, minEst: Double): DataFrame = {
    val meta = docs.select(col("doc_id"), col("source"))
    lshCandidatePairs(docs, minEst)
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        round(col("est_sim") * 8, 0).cast("long").as("agree"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("agree").as("sum_agree"))
  }

  /** Triangle counts and local clustering coefficient over the verified
    * near-dup graph — with connected components (q47) and PageRank (q106)
    * this completes the graph-analytics trio; the coefficient separates
    * tight duplicate cliques (≈1, safe to collapse to one canonical doc)
    * from hub-shaped false-positive stars (≈0, a template shared by many
    * otherwise-unrelated docs — collapsing those loses real data).
    *
    * Scale shape: edges come from the capped LSH candidate join (never
    * all-pairs), so the 3-way triangle join is bounded by the candidate
    * edge list; the a<b<c canonical orientation counts each triangle once
    * with plain equi-joins. Coefficient in exact integer micro-units.
    */
  def triangleStats(docs: DataFrame, minEst: Double): DataFrame =
    triangleStats(docs, minEst, "auto")

  /** As [[triangleStats]]; `orientation` forces the [[triangles]]
    * ENUMERATION plan — q146 gates the degree-ordered enumeration against
    * the same oracle as q117's default arm, which since round 11 counts by
    * adjacency intersection ([[triangleCountsByIntersect]]) instead of
    * enumerating the list (4–5× less CPU on the bench graph, identical
    * output).
    */
  def triangleStats(docs: DataFrame, minEst: Double, orientation: String): DataFrame = {
    // the candidate-sized edge list feeds five plan branches, and deg up
    // to three broadcast builds (each its own job: unpersisted, every build
    // re-ran the aggregation — five redundant deg stages per q117 action,
    // round 11); withPersisted checkpoints the node-bounded stats and drops
    // both caches on exit
    val e = lshCandidatePairs(docs, minEst).select("doc_a", "doc_b")
    val deg = degrees(arcs(e))
    graft.core.Lifecycle.withPersisted(e, deg) {
      val perNode =
        if (orientation == "auto") triangleCountsByIntersect(e, deg)
        else triangles(e, deg, orientation)
          .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      perNode.join(deg, Seq("doc_id"))
        .withColumn("clust_micro",
          expr("CASE WHEN deg >= 2 THEN n_tri * 2000000 div (deg * (deg - 1)) ELSE CAST(0 AS BIGINT) END"))
        .select("doc_id", "n_tri", "deg", "clust_micro")
    }
  }

  /** Per-node triangle COUNTS without materializing the triangle list —
    * set-intersection counting over degree-ordered adjacency (the other
    * classic Chiba–Nishizeki form; Latapy 2008 surveys the bound): orient
    * each edge lower→higher by (deg, id) (out-degrees then capped at
    * O(√m), and on the LSH graph additionally at 4·[[DefaultBucketCap]]
    * by construction — the collect_list state bound), build each node's
    * out-neighbor array once, and per oriented edge (u, v) take
    * cs = N⁺(u) ∩ N⁺(v): every triangle is counted exactly once, at its
    * orientation-lowest edge. Per-node attribution is algebraic — u and v
    * each gain |cs|, every c ∈ cs gains 1 — so the whole job is two keyed
    * aggregations, two node-keyed joins of the m-row edge list against
    * the node-bounded adjacency table, one row-local intersect per edge,
    * and ONE explode of m + 2·(#triangles) contribution structs. The
    * enumeration plan (q146's arm, kept oracle-gated) instead streams
    * Σ out² wedge rows through a closure join, materializes one row per
    * triangle and explodes ×3 corners.
    *
    * Round-11 measurement (sf0.1: 628,591 edges / 4,902 nodes / 78.4 M
    * triangles): 74.7 cpu-s vs 300–386 cpu-s for the id-enumeration arm
    * the auto dispatch used to pick, identical output
    * (OperatorSpec-asserted against the enumeration arm on the hub
    * fixture).
    */
  private[operators] def triangleCountsByIntersect(e: DataFrame,
      deg: DataFrame): DataFrame = {
    val o = orient(e, deg)
    val adj = o.groupBy(col("src")).agg(collect_list(col("dst")).as("ns"))
    // adj feeds TWO broadcast builds (nsa/nsb) — persisted (nested
    // lifecycle: the outer triangleStats scope unpersists it) so the
    // second build reads the cache instead of re-running the orientation
    graft.core.Lifecycle.withPersisted(adj) {
      // dst-side nodes with no out-edges are absent from adj — left join +
      // empty-array default (an empty intersect, not an NPE)
      val emptyArr = expr("CAST(array() AS ARRAY<BIGINT>)")
      val withCs = o
        .join(adj.select(col("src"), col("ns").as("nsa")), Seq("src"), "left")
        .join(adj.select(col("src").as("dst"), col("ns").as("nsb")), Seq("dst"), "left")
        .select(col("src"), col("dst"),
          array_intersect(coalesce(col("nsa"), emptyArr),
            coalesce(col("nsb"), emptyArr)).as("cs"))
      // one explode, one aggregation: (u, |cs|), (v, |cs|) and (c, 1) per
      // member — the union-free single-branch form so the intersect work
      // runs once per action with no interior persist
      withCs.select(explode(concat(
          array(struct(col("src").as("doc_id"), size(col("cs")).cast("long").as("n")),
            struct(col("dst").as("doc_id"), size(col("cs")).cast("long").as("n"))),
          expr("transform(cs, c -> named_struct('doc_id', c, 'n', CAST(1 AS BIGINT)))")))
          .as("x"))
        .groupBy(col("x.doc_id").as("doc_id")).agg(sum(col("x.n")).as("n_tri"))
        .filter(col("n_tri") > 0)
    }
  }

  /** The `"auto"` dispatch decision of [[triangles]], exposed so the
    * fixture tests pin the rule itself. */
  def triangleOrientation(e: DataFrame): String = dispatch(degrees(arcs(e)))

  /** [[triangleOrientation]] over the caller's degree table (doc_id, deg). */
  private def dispatch(deg: DataFrame): String = {
    // coalesce: max/sum over ZERO rows are null — an empty edge list must
    // dispatch (to "id", where the self-joins are trivially empty), not NPE
    val r = deg
      .agg(coalesce(max("deg"), lit(0L)).as("max_deg"),
        coalesce((sum("deg") / 2).cast("long"), lit(0L)).as("m"))
      .collect()(0)
    val (maxDeg, m) = (r.getLong(0), r.getLong(1))
    if (m > 0 && maxDeg > 4 * math.sqrt(m.toDouble)) "degree" else "id"
  }

  /** Each edge of `e` oriented lower→higher by (deg, id) over the degree
    * table `deg` — the Chiba–Nishizeki order both the intersect counter
    * and the degree enumeration arm use: (src, dst) plus `dk`, the head's
    * (deg, id) key, so the wedge join can order its two legs without
    * re-joining degrees (the counter never reads it; it is pruned there).
    */
  private def orient(e: DataFrame, deg: DataFrame): DataFrame = {
    val ed = e
      .join(deg.select(col("doc_id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("doc_id").as("doc_b"), col("deg").as("db")), "doc_b")
    // uniform field names: the two CASE branches must be the same struct type
    val ka = struct(col("da").as("d"), col("doc_a").as("v"))
    val kb = struct(col("db").as("d"), col("doc_b").as("v"))
    ed.select(
      when(ka < kb, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(ka < kb, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(ka < kb, kb).otherwise(ka).as("dk"))
  }

  /** Triangle list (one row per triangle, columns a/b/c) over a canonical
    * `doc_a < doc_b` edge list, with the enumeration ORIENTATION
    * SKEW-DISPATCHED — the q125 diagnostic applied to the graph's own
    * degree distribution instead of a fixed choice:
    *
    *  - `"id"`: orient by doc id — two self-joins, no degree pass. Wedge
    *    work is Σ outdeg(v)², fine when degrees are near-uniform: on the
    *    LSH near-dup graph (628k edges / 5k docs, degrees near-equal)
    *    this MEASURED 13.8 s vs 19.4 s for degree-ordering at sf0.1
    *    (round 5) — the orientation's two extra joins bought nothing.
    *  - `"degree"`: Chiba–Nishizeki — orient each edge lower→higher
    *    (deg, id), capping every out-degree at O(√m) and total wedge work
    *    at O(m^1.5). Wins exactly where "id" collapses: id-ordered wedge
    *    work at a node is (#smaller-id neighbors × #larger-id neighbors),
    *    so a mid-id hub of degree h costs ~(h/2)² wedges through one
    *    node. MEASURED (`Lab time hub:id hub:degree`, star hub + 400
    *    disjoint 5-cliques, local[32]): 6000 spokes → id 1.23 s vs degree 0.54 s;
    *    20000 spokes → id 9.72 s vs degree 0.79 s — the 12× gap is the
    *    (h/2)² hub-wedge count and keeps growing quadratically.
    *  - `"auto"` (default): degree-ordered iff max_deg > 4·√m. Rationale:
    *    out-degrees are ≤ the graph degeneracy ≤ √(2m) under
    *    degree-ordering, so a node whose degree is far past √m RISKS
    *    quadratic fan-out under id order (it pays only if the hub's id
    *    lands mid-range among its neighbors — an extreme-id hub costs
    *    nothing, but the dispatch can't see id layout, so it buys the
    *    guaranteed O(m^1.5) bound); 4× keeps uniform-degree graphs
    *    (max ≈ mean) on the cheaper plan. One bounded driver collect (a
    *    single 2-long row) — skipped under `Lifecycle.planOnly`, where
    *    "auto" takes "degree" (the O(m^1.5) bound) so a plan-only build
    *    runs no job.
    *
    * Each triangle appears exactly once under either orientation (both
    * are strict total orders on the vertices of the triangle).
    */
  def triangles(e: DataFrame, orientation: String = "auto"): DataFrame =
    triangles(e, degrees(arcs(e)), orientation)

  /** [[triangles]] over the caller's degree table of `e` (doc_id, deg). */
  private def triangles(e: DataFrame, deg: DataFrame,
      orientation: String): DataFrame = {
    // plan-only builds run no job: "auto" takes the scale-safe arm (the
    // O(m^1.5) degree order) instead of collecting the degree stats
    val mode =
      if (orientation != "auto") orientation
      else if (graft.core.Lifecycle.planOnly) "degree"
      else dispatch(deg)
    if (mode == "id") {
      e.as("e1")
        .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
        .join(e.as("e3"),
          col("e1.doc_a") === col("e3.doc_a") && col("e2.doc_b") === col("e3.doc_b"))
        .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
          col("e2.doc_b").as("c"))
    } else {
      val o = orient(e, deg)
      // read 3× by the plan (two wedge legs + closure probe); structural
      // lifecycle (round 9): the triangle list is output-bounded, so
      // withPersisted checkpoints it and drops the oriented-edge cache
      graft.core.Lifecycle.withPersisted(o) {
        // Closure-probe build side (round 12, guide §3.1): the Σout²
        // wedge stream is the BIG side of the semi-join — orders of
        // magnitude more rows than the edge list (sf0.1: ~151 M wedges vs
        // 0.63 M edges). Planned from estimates, Spark sort-merge-joins
        // it: the whole wedge stream is exchanged AND sorted on
        // (dst, dst) — measured 684 MB of the query's 708 MB shuffle and
        // the bulk of its 380 cpu-s. The edge list is the side that is
        // actually bounded (candidate-capped), so when a one-row driver
        // count proves it under the broadcast budget, build the hash
        // relation from it and keep the wedge stream PIPELINED (never
        // exchanged). Past the budget the SMJ arm stands — the scale-safe
        // default, same dispatch shape as the q117 orientation collect, and
        // the arm a plan-only build takes without running the count.
        val cl0 = o.select(col("src"), col("dst"))
        val cl = if (!graft.core.Lifecycle.planOnly && o.count() <= MaxBroadcastEdges)
          broadcast(cl0) else cl0
        o.as("w1")
          .join(o.as("w2"),
            col("w1.src") === col("w2.src") && col("w1.dk") < col("w2.dk"))
          .join(cl.as("cl"),
            col("w1.dst") === col("cl.src") && col("w2.dst") === col("cl.dst"),
            "left_semi")
          .select(col("w1.src").as("a"), col("w1.dst").as("b"),
            col("w2.dst").as("c"))
      }
    }
  }

  /** Broadcast budget for the closure-probe edge list (~16 B/row in the
    * hash relation + overhead ⇒ ~300 MB at the bound — inside the guide's
    * "a few hundred MB is usually fine", far under the 8 GB hard cap).
    */
  private val MaxBroadcastEdges = 4000000L

  // ------------------------------------------------------------ winnowing

  /** Duplicate-cluster SIZE SPECTRUM — the one-table summary a dedup
    * report publishes (how much of the corpus sits in clusters of size
    * 1, 2, … k): per cluster size, the number of clusters and the docs
    * they hold. Singleton docs count as size-1 clusters, so the spectrum
    * PARTITIONS the corpus exactly — Σ n_docs == corpus size
    * (test-asserted) — and the size-1 row is the honest "untouched by
    * dedup" denominator most reports omit.
    *
    * Scale shape: two keyed counts over the q47 labels (the CC iteration
    * is the only real work); output is bounded by the number of DISTINCT
    * cluster sizes — at most √(2n) rows by the partition-number bound.
    */
  def clusterSpectrum(docs: DataFrame, minEst: Double): DataFrame =
    duplicateClusters(docs, minEst)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** [[lshMissAudit]]'s prediction core over an explicit (doc_a, doc_b)
    * edge list: non-edges whose common-neighbor support in the symmetrized
    * graph — counted over a BOUNDED per-node neighbor sketch — reaches
    * `minSupport`, with that support count. Separated so the wedge
    * arithmetic is unit-testable on hand graphs.
    *
    * The sketch is the `maxNeighbors` neighbors with the smallest
    * injective-LCG hash (Corpus.lcg is a bijection mod 2³¹, so the pick is
    * deterministic and engine-portable with no tiebreak column). The naive
    * formulation joins the full adjacency with itself — Σ deg² wedge rows,
    * which on a near-clique duplicate cluster of size c is c³ (measured:
    * 629 k edges at sf0.1 → 312 M wedges, 34 s, 5.6 M predicted pairs —
    * output BIGGER than the corpus). Sketching bounds wedges at
    * n·C(B,2) row-local pairs and predicted output at the same, linear in
    * the corpus, while dense clusters still surface with support ≈ the
    * number of shared sketch slots — exactly the link-prediction sketch
    * trade (sampled common-neighbor evidence, not the exhaustive count).
    */
  def missedPairsFromEdges(edgesIn: DataFrame, minSupport: Int,
      maxNeighbors: Int): DataFrame = {
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    require(maxNeighbors >= 2, s"need maxNeighbors >= 2, got $maxNeighbors")
    val e = edgesIn.select("doc_a", "doc_b")
    val sym = arcs(e)
    // per-middle sketch: collect_list state is bounded by the candidate
    // graph's constructive degree cap (≤ NumBands·DefaultBucketCap), the
    // same bound that makes the LSH join itself safe
    val sk = sym
      .select(col("src"),
        struct(Corpus.lcg(col("dst")).as("h"), col("dst").as("dst")).as("hd"))
      .groupBy("src")
      .agg(expr(s"slice(array_sort(collect_list(hd)), 1, $maxNeighbors)")
        .as("ns"))
    // all C(B,2) in-sketch pairs, generated row-local — no self-join
    val wedges = sk.select(explode(expr(
      """flatten(transform(ns, (x, i) ->
           transform(slice(ns, i + 2, size(ns)), y ->
             named_struct('doc_a', least(x.dst, y.dst),
                          'doc_b', greatest(x.dst, y.dst)))))""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    wedges.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minSupport)
      .join(e, Seq("doc_a", "doc_b"), "left_anti")
  }

  /** LSH false-negative recovery by common-neighbor triangulation — the
    * EDGE-level recall audit completing the round-8 audit set (q139/q156
    * audit the estimators, q149/q151/q155/q157 the ANN indexes; this
    * audits the candidate GRAPH itself). LSH misses true near-dup pairs
    * whose bands never collide (or that the hot-bucket cap dropped); but a
    * missed pair inside a duplicate cluster usually shares surviving
    * neighbors. Every non-edge (a, b) with ≥ `minSupport` common neighbors
    * in the symmetrized candidate graph is predicted as a missed near-dup
    * and VERIFIED with the exact distinct-shingle Jaccard (the q139
    * estimand) — emitting (pair, support, exact micro-Jaccard): the
    * measured false-negative evidence behind "one LSH pass + transitive
    * closure is enough" (or not) for a given corpus.
    *
    * Scale shape: common neighbors are counted over a bounded per-node
    * sketch (see [[missedPairsFromEdges]] — the naive Σ deg² wedge join is
    * c³ on a near-clique cluster of size c; the sketch caps both the wedge
    * fan-out and the predicted output at n·C(B,2), linear in the corpus).
    * Prediction is one keyed count over row-local sketch pairs + an
    * anti-join against the edge list; verification rides the same
    * id-keyed set joins as [[lshCalibration]]. No window, no collect.
    */
  def lshMissAudit(docs: DataFrame, minEst: Double, minSupport: Int,
      maxNeighbors: Int = 8): DataFrame = {
    // read three times (sketch build via sym + the anti-join);
    // candidate-sized. Structural lifecycle (round 9): the verified
    // missed-pair list is sketch-bounded (n·C(B,2)), so withPersisted
    // checkpoints it and drops the edge cache on exit. Round-12 measured
    // negative result: adding `sh` to the persist list was a wash (the
    // q139-shape A/B — chained BHJs stream the shingle table once
    // already); not shipped (guide §1.3).
    val e = lshCandidatePairs(docs, minEst).select("doc_a", "doc_b")
    val sh = docs.withColumn("s", shingleSetUdf(col("text")))
      .select(col("doc_id"), col("s"))
    graft.core.Lifecycle.withPersisted(e) {
      val predicted = missedPairsFromEdges(e, minSupport, maxNeighbors)
      val inter = size(array_intersect(col("a.s"), col("b.s"))).cast("long")
      val uni = size(col("a.s")).cast("long") + size(col("b.s")).cast("long") - inter
      predicted
        .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("common_neighbors"),
          inter.as("i"), uni.as("u"))
        .select(col("doc_a"), col("doc_b"), col("common_neighbors"),
          when(col("u") === 0, lit(1000000L))
            .otherwise(expr("i * 1000000 div u")).as("jacc_micro"))
    }
  }

  /** Quality-aware CANONICAL SELECTION — the "keep the BEST copy" dedup
    * action (q66 keeps the min-id member; production pipelines usually
    * keep the LONGEST copy: truncated scrapes lose to the full article).
    * Per near-dup cluster, the kept member maximizes (n_chars, then min
    * doc_id) via one packed integer key (2²² − n_chars)·2⁴⁰ + doc_id (the
    * FIXED 2²² constant, NOT a corpus max — the SQL mirror hard-codes the
    * same literal) — argmax-length/min-id as a plain `min`, the q169
    * packing. Emits the
    * surviving corpus per source plus `n_policy_delta`: kept docs the
    * min-id policy would NOT have kept — the measured difference between
    * the two policies, not an assertion that they differ.
    *
    * Scale shape: labels ride the q47 CC machinery; selection is ONE
    * cluster-keyed min; the survivors come back via an id-keyed join. The
    * packed key's field bounds (n_chars < 2²², ids in [0, 2⁴⁰)) are
    * enforced by a one-row check — chunking (q73) bounds doc length far
    * below 4M chars upstream; anything else must fail loudly.
    */
  def keepLongestCanonical(docs: DataFrame, minEst: Double): DataFrame = {
    import graft.core.PackedKey.{idOf, idRange, pack, requireIdsFit, Shift}
    val b = docs.agg(coalesce(max("n_chars"), lit(0L)),
      idRange(col("doc_id")): _*).collect()(0)
    require(b.getLong(0) < (1L << 22), "keepLongestCanonical packed key " +
      s"needs n_chars < 2^22; got max n_chars ${b.getLong(0)}")
    requireIdsFit("keepLongestCanonical", b.getLong(1), b.getLong(2), Shift)
    val keep = duplicateClusters(docs, minEst)
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(idOf(min(pack(lit(4194304L) - col("n_chars"), col("doc_id")))).as("keep_id"))
    docs.join(keep, docs("doc_id") === keep("keep_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum(when(col("keep_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("n_policy_delta"))
  }

  /** SOFT dedup — DOWNWEIGHT duplicates instead of dropping them: every
    * doc keeps a training weight 1/cluster_size (micro-units), so each
    * near-dup cluster contributes one document's worth of gradient no
    * matter how many copies exist. The third dedup ACTION next to q66
    * (drop all but min-id) and q172 (drop all but longest) — preferred
    * when near-dups carry real variation (edits, translations of
    * boilerplate) that hard dropping would erase; the weight column feeds
    * the q140 weighted sampler directly.
    *
    * Scale shape: the q47 CC labels, one cluster-keyed count, one
    * id-keyed join back — nothing beyond what the labels already cost.
    */
  def softDedupWeights(docs: DataFrame, minEst: Double): DataFrame = {
    val lbl = duplicateClusters(docs, minEst)
    val sizes = lbl.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_micro"))
  }

  /** Synchronous LABEL-PROPAGATION communities (Raghavan et al. 2007) over
    * an arbitrary edge list — the SIXTH graph-analytic on the near-dup
    * graph (CC q47, PageRank q106, triangles q117, walks q144, k-core
    * q158): where CC merges anything chain-connected and k-core keeps only
    * the dense core, LPA partitions the graph into locally-cohesive
    * communities — each node repeatedly adopts the most frequent label in
    * its closed neighbourhood. Deterministic engine-mirrorable form:
    * fixed `rounds` synchronous updates; the vote includes the node's OWN
    * current label (the self-loop variant — a bare two-node component
    * otherwise label-swaps forever under synchronous updates); ties break
    * to the SMALLEST label via one packed integer key
    * (maxc − c)·2⁴⁰ + label, so argmax-count/min-label is a plain `min`.
    *
    * Scale shape: a fixed-round loop on the
    * [[graft.core.Lifecycle.roundLoop]] driver; per round, one dst-keyed
    * join of the (checkpointed) edge list against the label table, one (node, label) count (map-side
    * combined), one node-keyed min — the CC round shape without pointer
    * jumping; labels are node-keyed rows, never collected.
    *
    * Bounds and dispatch (round 9): the id bound (ids in [0, 2⁴⁰)) is
    * ENFORCED by a one-row up-front check — inherent to the packing, an
    * arbitrary edge list must fail loudly instead of truncating silently.
    * The DEGREE bound (degree+1 < 2²⁰) is a dispatch boundary, not a
    * failure: this auto arm runs every-neighbor voting below it (the q169
    * oracle plan — the near-dup graph sits here by construction) and the
    * BOUNDED-vote sample above it (deterministic, suite-gated, NOT
    * SQL-oracle-paired — sampled votes can differ from every-neighbor
    * LPA). A caller that must never silently switch to sampled votes
    * forces `arm = "exact"`, which still refuses loudly past the bound.
    */
  def lpaFromEdges(edgesIn: DataFrame, rounds: Int): DataFrame =
    lpaFromEdges(edgesIn, rounds, "auto")

  /** The bounded-vote sampling key: a two-round multiply-xor-shift over
    * the house string fold of "src:dst", in [0, 2³²). Each round
    * multiplies by an odd ~2²⁰ constant mod 2³² (bijective, and the
    * product of a < 2³² value by a < 2²⁰ multiplier stays < 2⁵² — no
    * 64-bit overflow in either engine's BIGINT) and xors in the high
    * halfword, so residue-class structure in the ids cannot survive into
    * the threshold compare. Keyed on the PAIR so each hub draws its own
    * sample (a dst-only key would hand every hub the same globally-low
    * neighbors). Every step is plain BIGINT arithmetic both engines
    * share, so the q181 DuckDB oracle mirrors it token-for-token via
    * `javaHashSql`.
    */
  private[operators] def voteSampleHash(src: Column, dst: Column): Column = {
    def mix(v: Column, mult: Long): Column = {
      val m = pmod(v * lit(mult), lit(4294967296L))
      m.bitwiseXOR(shiftright(m, 16))
    }
    val u = pmod(graft.functions.JavaHashExpr.of(
      concat_ws(":", src.cast("string"), dst.cast("string"))).cast("long"),
      lit(4294967296L))
    mix(mix(u, 1000003L), 999983L)
  }

  /** As [[lpaFromEdges]]; `arm` forces the vote plan (the q146
    * orientation pattern, so BOTH arms stay testable, not just the one
    * the dispatch picks):
    *  - `exact` — every neighbor votes (the q169 oracle plan). The packed
    *    vote key holds (count, label) in (24, 40) bits, so this arm
    *    REQUIRES max degree + 1 < 2²⁰ — loud, never silently truncated.
    *  - `bounded` — each node takes votes from a deterministic
    *    ≤ `maxVotes`-neighbor sample (min-`maxVotes` by the injective-LCG
    *    hash, the q160 sketch pick), so vote counts are bounded by
    *    maxVotes + 1 regardless of hub degree and ANY graph runs. The
    *    sample is drawn once (the vote topology is fixed across rounds)
    *    behind a degree-proportional hash threshold — `collect_list`
    *    state is ~4·maxVotes rows in expectation even on a 10⁹-degree
    *    hub, never the full adjacency — then sliced to exactly the
    *    maxVotes smallest. Below maxVotes degree the sample IS the full
    *    neighbor set, so bounded ≡ exact there (OperatorSpec-asserted).
    *  - `auto` — exact below the degree bound, bounded above it (one
    *    bounded 1-row collect, the q117 dispatch shape).
    * Both arms still require ids in [0, 2⁴⁰) — that bound is inherent to
    * the packing, not to the vote plan.
    */
  def lpaFromEdges(edgesIn: DataFrame, rounds: Int, arm: String,
      maxVotes: Int = 64): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(Set("auto", "exact", "bounded")(arm), s"unknown arm $arm")
    require(maxVotes >= 1 && maxVotes + 2 < (1L << 20),
      s"need 1 <= maxVotes and maxVotes + 2 < 2^20, got $maxVotes")
    import graft.core.Lifecycle.{loopCheckpoint, freeCheckpoint, roundLoop}
    import graft.core.PackedKey.{idOf, idRange, pack, requireIdsFit, Shift}
    val sym = loopCheckpoint(arcs(edgesIn))
    // field-bound check and the exact arm's degree bound up front, in one
    // bounded 1-row collect
    val b = degrees(sym).agg(coalesce(max("deg"), lit(0L)),
      idRange(col("doc_id")): _*).collect()(0)
    requireIdsFit("lpaFromEdges", b.getLong(1), b.getLong(2), Shift)
    val exactSafe = b.getLong(0) + 1 < (1L << 20)
    require(arm != "exact" || exactSafe, "lpaFromEdges exact arm needs degree+1 " +
      s"< 2^20; got max degree ${b.getLong(0)} — use the bounded arm")
    val useExact = arm == "exact" || (arm == "auto" && exactSafe)
    val adj =
      if (useExact) sym
      else {
        // degree-proportional hash threshold: expected ~4·maxVotes
        // survivors per src (P[fewer than maxVotes] ≤ e^(−9·maxVotes/8),
        // Chernoff), then exact min-maxVotes by (hash, dst) — bounded
        // state, deterministic. deg ≤ 4·maxVotes keeps every neighbor,
        // which is what makes bounded ≡ exact below the sample size.
        // The sampling key is [[voteSampleHash]] over (src, dst) — NOT
        // the affine LCG (constant on id classes mod 2³¹: a hub whose
        // neighbor ids share a residue would land entirely on one side
        // of the threshold — full-adjacency state or zero votes), and
        // NOT a dst-only hash (every hub would sample the same
        // globally-low-hash neighbors, correlating the vote topology
        // across all nodes and over-weighting those neighbors' labels —
        // round-9 ADVICE). Keying on the pair decorrelates per node and
        // stays SQL-expressible, so the bounded arm is DuckDB
        // oracle-paired (q181) like every other arm in the house.
        val h = voteSampleHash(col("src"), col("dst"))
        val sampled = sym.join(degrees(sym).withColumnRenamed("doc_id", "src"), Seq("src"))
          .filter(col("deg") <= 4L * maxVotes ||
            h < expr(s"${4L * maxVotes * 4294967296L} div deg"))
          .select(col("src"),
            struct(h.as("h"), col("dst").as("dst")).as("hd"))
          .groupBy("src")
          .agg(expr(s"transform(slice(array_sort(collect_list(hd)), 1, " +
            s"$maxVotes), x -> x.dst)").as("ns"))
          .select(col("src"), explode(col("ns")).as("dst"))
        loopCheckpoint(sampled)
      }
    val labels = roundLoop(sym.select(col("src").as("doc_id")).distinct()
        .withColumn("community", col("doc_id")), rounds) { (cur, _) =>
      val votes = adj
        .join(cur.select(col("doc_id").as("dst"), col("community").as("nl")),
          Seq("dst"))
        .select(col("src"), col("nl"))
        .unionByName(cur.select(col("doc_id").as("src"),
          col("community").as("nl")))
      votes.groupBy("src", "nl").agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("doc_id"))
        .agg(idOf(min(pack(lit(1048576L) - col("c"), col("nl")))).as("community"))
    }
    if (!useExact) freeCheckpoint(adj)
    freeCheckpoint(sym)
    labels
  }

  /** [[lpaFromEdges]] over the verified near-dup candidate graph. */
  def lpaCommunities(docs: DataFrame, minEst: Double, rounds: Int): DataFrame =
    lpaFromEdges(lshCandidatePairs(docs, minEst).select("doc_a", "doc_b"),
      rounds)
}
