package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the physical-plan properties the 100 TB
  * design depends on, asserted so a refactor can't silently lose them.
  * (Complements `graft.Lab explain`, which is the interactive dump tool.)
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("plan-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) {
    // some query builders persist+count eagerly at construction (q34/q59);
    // drop their blocks so this suite leaves no cache behind
    spark.catalog.clearCache()
    spark.stop()
  }

  private def planOf(q: String): String =
    graft.SparkEntry.queries(q)(spark, Dir)
      .queryExecution.explainString(FormattedMode)

  test("column pruning reaches the scan: q01 reads a subset of lineitem") {
    val p = planOf("q01_view_counts")
    val read = "ReadSchema: ([^\n]+)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    // the view-count path needs the key-derivation columns only — never the
    // full 16-column lineitem row
    assert(read.nonEmpty, p)
    assert(!read.contains("l_extendedprice") && !read.contains("l_quantity"),
      s"over-wide scan: $read")
  }

  test("pyramid queries run on a forked no-coalesce session (AQE's " +
    "byte-sized coalescer under-sizes this family's agg state 10-20x and " +
    "spilled 50 GB at x10) while the parent session keeps coalescing ON") {
    Seq("q45_pyramid", "q109_pyramid_deep", "q111_incremental_pyramid")
      .foreach { q =>
        val df = graft.SparkEntry.queries(q)(spark, Dir)
        assert(df.sparkSession.conf
          .get("spark.sql.adaptive.coalescePartitions.enabled") === "false",
          s"$q lost its no-coalesce session scope (MapBuild.noCoalesceSession)")
        // scope, not a global switch: the iterative graph queries NEED
        // coalescing (q47/q66 measured 2x slower without it)
        assert(spark.conf
          .get("spark.sql.adaptive.coalescePartitions.enabled") !== "false",
          "the no-coalesce scope leaked into the parent session")
      }
  }

  test("q135 salted join stays a SHUFFLED hash join on the salted key — a " +
    "silent broadcast of the toy-scale dim would vacate the skew pattern") {
    val p = planOf("q135_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"q135 lost its shuffle-hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"q135 fell back to broadcast:\n$p")
  }

  test("small-side joins broadcast: q35 (anti), q40/q46 (top-tile)") {
    Seq("q35_small_views", "q40_tile_render", "q46_points_in_tile").foreach { q =>
      val p = planOf(q)
      assert(p.contains("Broadcast"), s"$q lost its broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
  }

  test("pruned pyramid (q145) reads the stored state through a PARTITION " +
    "filter — the property the delta-proportional scan rests on") {
    val p = planOf("q145_pruned_pyramid")
    val pf = "PartitionFilters: \\[[^\\]]*pt[^\\]]*IN".r.findFirstIn(p)
    assert(pf.isDefined,
      s"q145 lost the pt partition filter on its state scan:\n$p")
  }

  test("incremental pyramid: dirty-key joins broadcast (semi-join prune on " +
      "the recompute, anti-join passthrough on clean tiles), no SMJ") {
    val p = planOf("q111_incremental_pyramid")
    assert(p.contains("BroadcastHashJoin"), s"dirty-key join not broadcast:\n$p")
    assert(p.contains("LeftSemi"), s"lost the dirty-tile semi-join prune:\n$p")
    assert(p.contains("LeftAnti"), s"lost the clean-tile anti-join passthrough:\n$p")
    // either join degrading to a corpus-grain shuffle join would turn the
    // delta-proportional maintenance back into a rebuild-shaped plan
    assert(!p.contains("SortMergeJoin"), s"q111 fell back to SMJ:\n$p")
  }

  test("pyramid family exchanges on the long map_key: no hash-partitioned " +
    "exchange of q45/q109/q111/q145/q182 keys on a string map_key, and " +
    "pyramidState is long-keyed") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{LongType, StringType}
    // the plan as planned, before any AQE stage runs; persisted inputs
    // (q111/q145's state) are walked into through their cached plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children
      }
      p +: (kids ++ p.subqueries).flatMap(nodes)
    }
    Seq("q45_pyramid", "q109_pyramid_deep", "q111_incremental_pyramid",
        "q145_pruned_pyramid", "q182_pyramid_full").foreach { q =>
      val exchanges = nodes(graft.SparkEntry.queries(q)(spark, Dir)
          .queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case h: HashPartitioning => h }
      assert(exchanges.nonEmpty, s"$q: no hash-partitioned exchange found")
      val stringKeyed = exchanges.filter(_.expressions.exists(e =>
        e.dataType == StringType && e.references.exists(_.name == "map_key")))
      assert(stringKeyed.isEmpty, s"$q exchanges on a string map_key: $stringKeyed")
    }
    val state = graft.operators.MapBuild.pyramidState(
      graft.operators.OccurrenceView.occ(spark, Dir), "EPSG:4326", 6)
    assert(state.schema("map_key").dataType === LongType)
  }

  test("knn top-k is TakeOrderedAndProject, not a global sort") {
    val p = planOf("q116_knn_geo")
    assert(p.contains("TakeOrderedAndProject"), s"q116 lost its top-k plan:\n$p")
  }

  // count logical Window nodes with an EMPTY partition spec — the
  // single-partition scale-killer. String-matching the formatted physical
  // plan CANNOT detect this (argString omits the empty partition list
  // entirely), so the guard walks the optimized logical plan instead.
  private def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size

  private def unpartitionedWindows(q: String): Int =
    unpartitionedWindows(graft.SparkEntry.queries(q)(spark, Dir))

  // queries whose plan legitimately contains BroadcastNestedLoopJoin: a
  // crossJoin against a BROADCAST side that is structurally BOUNDED —
  // 1-row scalars (top tile / corpus stats / normalizers) or a bounded
  // dimension grid (buckets, query set). A constant-key "hash join"
  // disguise is pointless: lit==lit constant-folds and the plan comes
  // back as exactly this BNLJ (measured round 6).
  private val ScalarCrossJoins =
    Set("q46_points_in_tile", "q71_tfidf_terms", "q78_bm25_topk",
      "q91_bigram_lm", "q97_pmi_pairs",
      // q126: the corpus-wide max timestamp is a broadcast 1-row scalar
      "q126_decay_weights",
      // q132: sources × bucket-grid (both #-bounded) + two 1-row scalars
      "q132_psi_drift",
      // q134: corpus × broadcast bounded query set — the all-pairs
      // fan-out where a broadcast nested loop IS the optimal plan
      "q134_query_ann",
      // q180: the same corpus × broadcast benchmark fan-out (semantic
      // decontamination scans every train vector against the tiny eval
      // set — q134's justification verbatim)
      "q180_semantic_decontam",
      // q183: the recall sweep CONTAINS q180's brute arm as its ground
      // truth (the fan-out appears twice in the lazy planOnly plan —
      // production localCheckpoints it once) plus the 1-row n_train
      // scalar; the IVF arm itself joins on cell via BroadcastHashJoin
      // (plan-asserted below) — the approximate path has NO fan-out
      "q183_ivf_decontam",
      // q149: the same corpus × broadcast query-set fan-out, twice (brute
      // ground-truth arm and IVF probed arm), plus query set × 16-row
      // codebook for the probe table
      "q149_ivf_recall",
      // q150: q149's shape swept over the bounded nprobe grid
      "q150_ivf_sweep",
      // q151/q152: q149's corpus × broadcast query-set fan-out for the PQ
      // recall audit (corpus side pre-fanned over the bounded arm grid)
      "q151_pq_recall",
      "q152_pq_m_sweep",
      // q155: the composed-index audit — q149's fan-out with q151's
      // reconstruction distance, probed arm joined to the bounded
      // (query, cell, rank) probe table
      "q155_ivfpq_recall",
      // q157: the hyperplane-LSH audit — q149's fan-out, arms gated by a
      // row-local bucket bit_count (no probe table)
      "q157_lsh_recall",
      // q137: the Σw normalizer is a broadcast 1-row scalar
      "q137_negative_sampling",
      // q167: the (Nt, Nr) LM totals are a broadcast 1-row scalar joined
      // to the ≤4096-row bucket LM table (q126's shape)
      "q167_dsir_weights",
      // q173: the max-doc-id decile denominator is a broadcast 1-row
      // scalar (twice — first-appearance and occurrence histograms)
      "q173_vocab_growth",
      // q174: the rank assignment is a k-bounded (top-100 × top-100)
      // order-count non-equi join over the TakeOrdered result — the
      // bounded-grid shape, chosen over a global rank window
      "q174_zipf_slope")

  // windows partitioned by `source` ALONE serialize a whole source (a
  // training corpus has few, enormous sources) through one task — the 100 TB
  // killer the round-4 audit flagged on q64/q88. Suite-wide ban. EMPTY
  // since round 9: q75's rank statistic now runs the q86 histogram
  // decomposition (the row-sort arm survives only as the CorpusSpec audit
  // reference, Corpus.tokenQuantilesRowSort) and q130's exact audit arm
  // got the same treatment — no production plan windows on source alone.
  // The map and guard stay (positive-controlled below) so a regression
  // reintroducing one fails loudly. (q69_domain_mix left in round 8 via
  // the q119 KMV mechanism; q75/q130 left in round 9.)
  private val SourceWindowWhitelist = Map.empty[String, String]

  // a Window partitioned by source alone is fine when it runs over an
  // ALREADY-COLLAPSED table — its input aggregated on (source, <value>)
  // (the q86/q125 histogram pattern: rows are value-domain-bounded, not
  // corpus-grain). Walk through row-preserving nodes to the window's input
  // and exempt that shape; everything else on [source] is the one-task-
  // per-source killer.
  private def histogramGrained(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case a: Aggregate =>
        // collapsed on (source, <value>) — but an id in the grouping keys
        // means the "collapse" is still corpus-grain, not a histogram
        a.groupingExpressions.size > 1 &&
          !a.groupingExpressions.exists(_.references.exists(r =>
            Set("doc_id", "event_id", "vec_id", "user_id").contains(r.name)))
      case u: Project => histogramGrained(u.child)
      case u: Filter => histogramGrained(u.child)
      case w: Window => histogramGrained(w.child) // stacked cum/whole windows
      case _ => false
    }
  }

  private def sourceAloneWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.size == 1 &&
            w.partitionSpec.head.references.exists(_.name == "source") &&
            !histogramGrained(w.child) => w
    }.size

  test("suite-wide plan shapes: no single-partition global Window, no " +
    "window partitioned by source alone (whitelist EMPTY since round 9), " +
    "no CartesianProduct, nested-loop " +
    "joins only for broadcast one-row scalars") {
    // positive control: the window detector must actually fire on the
    // textbook global row_number before its zero-counts below mean anything
    val ss = spark; import ss.implicits._
    val global = Seq(1L, 2L).toDF("id").withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("id")))
    assert(unpartitionedWindows(global) === 1,
      "unpartitioned-Window detector is broken")
    // positive control for the source-alone detector, too
    val bySrc = Seq(("a", 1L)).toDF("source", "id").withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("id")))
    assert(sourceAloneWindows(bySrc) === 1,
      "source-alone-Window detector is broken")
    // EVERY query in the driver contract, all checks per single build —
    // windows must be partitioned (by user/view/source/bucket/hash; q37's
    // dictionary encode was the one historical offender), never by source
    // alone (q64/q88 historically), and no join may degenerate to a
    // cartesian/nested-loop pairwise compare. Lifecycle.planOnly keeps
    // withPersisted operators LAZY here: their production form returns a
    // lineage-truncated localCheckpoint, which would (a) blind these
    // guards to everything inside the operator and (b) execute each
    // operator's full job just to read a plan string.
    graft.core.Lifecycle.planOnly = true
    try graft.SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, Dir)
      assert(unpartitionedWindows(df) === 0, s"$q has an unpartitioned Window")
      if (!SourceWindowWhitelist.contains(q))
        assert(sourceAloneWindows(df) === 0,
          s"$q has a window partitioned by source alone (one task sorts a " +
          "whole source at corpus scale); implement the histogram/KMV twin " +
          "or whitelist it WITH a scale-safe twin")
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      if (!ScalarCrossJoins(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans an unexpected nested-loop join")
    } finally graft.core.Lifecycle.planOnly = false
  }

  test("salted-key path is UDF-free (native codegen hash)") {
    val p = planOf("q17_salted_keys")
    assert(!p.contains("ScalaUDF"), s"q17 reintroduced a UDF:\n$p")
  }

  test("decontamination broadcasts the eval-gram set (corpus never shuffles " +
    "for the membership test)") {
    val p = planOf("q67_decontam")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"q67 lost its broadcast semi-join:\n$p")
  }

  test("decontamination quartet plan shapes: q178/q179 probe the eval " +
    "keys via broadcast semi-join (the train side never shuffles text), " +
    "q180's fan-out is the bounded broadcast NLJ — none degrade to SMJ") {
    Seq("q178_substring_decontam", "q179_decontam_cut").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"$q lost its broadcast eval semi-join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
    val p = planOf("q180_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q180 lost its bounded broadcast fan-out:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q180 degraded:\n$p")
    // q183 must pair train probes to eval vectors via a cell-keyed
    // BroadcastHashJoin — a BNLJ here would mean the IVF blocking silently
    // degenerated to the brute fan-out it exists to replace (the brute
    // ground truth is a keyed min over the same probe-ranked pairs; only
    // the 1-row scalar join rides the whitelist)
    // planOnly: q183 wraps its scored pair table in withPersisted — the
    // production localCheckpoint would truncate the plan to a scan (and
    // execute the query here)
    graft.core.Lifecycle.planOnly = true
    val p183 = try planOf("q183_ivf_decontam")
      finally graft.core.Lifecycle.planOnly = false
    // the guard must see the CELL key specifically — a bare
    // contains("BroadcastHashJoin") is satisfied by the eval-id joins and
    // would stay green if the IVF pair join degenerated
    assert("Left keys \\[1\\]: \\[cell#".r.findFirstIn(p183).isDefined,
      s"q183's IVF arm lost its cell-keyed hash join:\n$p183")
    // exactly 1 nested-loop join: the 1-row n_train scalar; a 2nd means
    // the pair scan degenerated to the all-pairs fan-out
    val bnlj = "BroadcastNestedLoopJoin Cross".r.findAllIn(p183).length
    assert(bnlj <= 1, s"q183 plans $bnlj nested-loop joins (expected <= 1 " +
      s"— the 1-row scalar):\n$p183")
    assert(!p183.contains("CartesianProduct"), s"q183 degraded:\n$p183")
  }

  // formatted mode prints the op tree bare ("Exchange (6)") and the spec in
  // the details ("Arguments: hashpartitioning(...)") — count the latter; the
  // testdata adapter's fan-out repartition is roundrobin, not counted
  private def keyedShuffles(p: String): Int =
    "Arguments: hashpartitioning".r.findAllIn(p).length

  test("as-of join is one keyed shuffle + ONE window pass, no join at all") {
    val p = planOf("q70_asof_join")
    assert(!p.contains("Join"), s"q70 reintroduced a join:\n$p")
    assert(keyedShuffles(p) === 1, s"q70 should shuffle exactly once:\n$p")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).length
    assert(windows === 1, s"q70 carry columns split into $windows Window passes:\n$p")
  }

  test("k-means step is broadcast-codebook + one aggregation exchange") {
    val p = planOf("q72_kmeans_step")
    assert(!p.contains("Join"), s"q72 should have no join (codebook is a closure):\n$p")
    assert(keyedShuffles(p) === 1, s"q72 should shuffle exactly once:\n$p")
  }

  test("fused bin queries shuffle exactly once (record → bin cell, no " +
    "intermediate point/pixel materialization)") {
    Seq("q09_square_bin", "q10_hex_bin").foreach { q =>
      val p = planOf(q)
      assert(keyedShuffles(p) === 1, s"$q regressed to chained exchanges:\n$p")
    }
  }

  test("serving filter gates shuffle exactly once (filter before the only " +
    "keyed aggregation)") {
    Seq("q11_capabilities", "q15_year_filter", "q16_bor_filter").foreach { q =>
      val p = planOf(q)
      assert(keyedShuffles(p) === 1, s"$q regressed to chained exchanges:\n$p")
    }
  }

  test("global training order keeps its offset broadcast (partitioned-window " +
    "half is covered by the suite-wide shape test)") {
    assert(planOf("q81_global_order").contains("Broadcast"),
      "q81 lost its offset broadcast")
  }

  test("BM25 broadcasts df/corpus stats; no sort-merge join on the stats") {
    val p = planOf("q78_bm25_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q78 lost its stat broadcasts:\n$p")
  }

  test("CMS sketch build partial-aggregates directly above the probe " +
    "explode (the d·w map-side bound)") {
    val p = planOf("q82_cms_heavy")
    val gen = p.indexOf("Generate")
    assert(gen >= 0, p)
    val before = p.substring(0, gen)
    val lastAgg = before.lastIndexOf("HashAggregate")
    assert(lastAgg >= 0, s"no aggregate above the probe explode:\n$p")
    assert(!before.substring(lastAgg).contains("Exchange"),
      s"shuffle between probe explode and partial aggregate:\n$p")
  }

  test("boolean retrieval is scan-shaped: ZERO keyed shuffles") {
    assert(keyedShuffles(planOf("q100_bool_phrase")) === 0,
      "q100 gained a shuffle — the predicate/phrase count must stay row-local")
  }

  test("Bloom ingest probes a broadcast bit set (membership is a broadcast " +
    "semi-join; the corpus never shuffles for it)") {
    val p = planOf("q92_bloom_ingest")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"q92 lost its broadcast membership probe:\n$p")
  }

  test("focal density amplifies only the AGGREGATED cell table and " +
    "partial-aggregates directly above its bounded 9-arm explode") {
    val p = planOf("q107_focal_density")
    val gen = p.indexOf("Generate")
    assert(gen >= 0, p)
    // collapse-before-amplify: an aggregate (the cell collapse) must sit
    // BELOW the explode — i.e. appear after it in the top-down printout
    assert(p.substring(gen).contains("HashAggregate"),
      s"explode runs over raw records, not aggregated cells:\n$p")
    // and the focal re-aggregation must combine map-side right above it
    val before = p.substring(0, gen)
    val lastAgg = before.lastIndexOf("HashAggregate")
    assert(lastAgg >= 0, s"no aggregate above the explode:\n$p")
    assert(!before.substring(lastAgg).contains("Exchange"),
      s"shuffle between explode and partial aggregate:\n$p")
  }

  test("pixel aggregation partial-aggregates directly above the explode " +
    "(map-side combine before any shuffle)") {
    val p = planOf("q06_pixel_agg_4326")
    val gen = p.indexOf("Generate")
    assert(gen >= 0, p)
    // the nearest aggregate ABOVE the explode (printed before it, top-down)
    // must reach it without an intervening Exchange — i.e. the partial
    // aggregation consumes the explode output pre-shuffle
    val before = p.substring(0, gen)
    val lastAgg = before.lastIndexOf("HashAggregate")
    assert(lastAgg >= 0, s"no aggregate above the explode:\n$p")
    assert(!before.substring(lastAgg).contains("Exchange"),
      s"shuffle between explode and partial aggregate:\n$p")
  }
}
