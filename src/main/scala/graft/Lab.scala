package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.core.Lifecycle
import graft.operators.{Dedup, MapBuild, OccurrenceView, Similarity}

/** Measurement lab: times declared queries and named operator ARMS under
  * the Bench session and timed step ([[Harness]]), and dumps formatted
  * plans. A measurement instrument only — no gate or test runs it.
  *
  *   runMain graft.Lab time <arm|query>...
  *     per name: one JIT warmup run on SPARK_GRAFT_WARMUP_DIR, then two
  *     GC'd timed runs on SPARK_GRAFT_SF_DIR keeping the min-wall run; one
  *     `[lab]` wall/cpu/shuffle line per timed frame. Repeat names to
  *     interleave an A/B in one JVM: `time a b a b`.
  *   runMain graft.Lab explain <tag> <query>...
  *     formatted plans under Lifecycle.planOnly (full logical subtrees, no
  *     checkpoint truncation) to plans/<tag>/<query>.txt.
  *
  * Arms — each times code that ships today:
  *  - any declared query name;
  *  - `sig`, `bands`, `lsh`, `cc`, `tri_id`, `tri_deg`: the LSH and graph
  *    pieces of q29/q47/q117/q146 on the documents corpus;
  *  - `current` / `noCoalesce`, `q:<query>:<on|off>`: AQE partition
  *    coalescing on/off (the z0–z6 EPSG:4326 pyramid, or any query);
  *  - `fullDepth`, `pyramidCounts`, `perZoom[:<epsg>]`, `saltAB`: the
  *    z0–z16 build per projection, its volume decomposition, its per-zoom
  *    cost, and salted vs unsalted partitioning of the z16 pixel table;
  *  - `ivfDecontam[:<nprobe>]`: q183's IVF arm beside the brute op;
  *  - `hub:<id|degree>`: triangle orientation on a hub-skewed graph
  *    (the `triangleOrientation` 4·√m rule);
  *  - `gram:<0|63>`: exactSubstringSpans keyed by string vs 63-bit grams.
  *
  * The superseded inline arms of earlier rounds are deleted; their results
  * are recorded in OPTIMIZATION_r11.md, OPTIMIZATION_r12.md and PROFILE.md.
  */
object Lab {
  type Arm = Harness => Unit

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: names if names.nonEmpty =>
      val arms = names.map(n => arm(n).getOrElse(sys.error(s"unknown arm $n")))
      val h = Harness()
      try arms.foreach(_(h)) finally h.spark.stop()
    case "explain" :: tag :: names if names.nonEmpty =>
      names.filterNot(SparkEntry.queries.contains).foreach(n => sys.error(s"unknown query $n"))
      // lazy full plans: withPersisted operators would otherwise checkpoint
      // and truncate the interesting subtrees to a LogicalRDD
      Lifecycle.planOnly = true
      val out = Files.createDirectories(Paths.get("plans", tag))
      val h = Harness()
      try names.foreach { n =>
        val s = SparkEntry.queries(n)(h.spark, Harness.sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(out.resolve(s"$n.txt"), s.getBytes("UTF-8"))
        println(s"[lab] wrote $out/$n.txt (${s.length} chars)")
      } finally h.spark.stop()
    case _ =>
      System.err.println("usage: Lab time <arm|query>... | Lab explain <tag> <query>...")
      sys.exit(2)
  }

  /** The arm a name resolves to, if any. */
  def arm(name: String): Option[Arm] = name match {
    case q if SparkEntry.queries.contains(q) => Some(h => time(h, q)(query(h, q)))
    case s"q:$q:$flag" if SparkEntry.queries.contains(q) && (flag == "on" || flag == "off") =>
      Some(h => coalescing(h, flag == "on")(time(h, name)(query(h, q))))
    case s"perZoom:$e" if Projections.contains(e) => Some(perZoom(e))
    case s"ivfDecontam:$np" if np.toIntOption.exists(_ > 0) => Some(ivfDecontam(np.toInt))
    case s"hub:$mode" if mode == "id" || mode == "degree" =>
      Some(h => time(h, name)(_ => Dedup.triangles(hubGraph(h), mode)))
    case s"gram:$bits" if bits == "0" || bits == "63" =>
      Some(h => time(h, name)(d => Dedup.exactSubstringSpans(docs(h, d), 40, bits.toInt)))
    case _ => Named.get(name)
  }

  private val Projections = Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031")

  private val Named: Map[String, Arm] = Map(
    "sig" -> (h => time(h, "sig")(d => Dedup.withMinhashSignature(docs(h, d)))),
    "bands" -> (h => time(h, "bands")(d => Dedup.bandKeys(docs(h, d)))),
    "lsh" -> (h => time(h, "lsh")(d => Dedup.lshCandidatePairs(docs(h, d), 0.5))),
    "cc" -> (h => time(h, "cc")(d =>
      Dedup.clustersFromEdges(docs(h, d).select("doc_id"), edges(h, d)))),
    "tri_id" -> (h => time(h, "tri_id")(d => Dedup.triangles(edges(h, d), "id"))),
    "tri_deg" -> (h => time(h, "tri_deg")(d => Dedup.triangles(edges(h, d), "degree"))),
    "current" -> (h => time(h, "current")(pyramid6(h))),
    "noCoalesce" -> (h => coalescing(h, on = false)(time(h, "noCoalesce")(pyramid6(h)))),
    // the FULL-DEPTH z0–z16 production build, all four projections in the
    // reference's stage order (TileMapBuilder.java:66-69) — the repo-side
    // twin of the only published reference perf table (example.yaml:124-127)
    "fullDepth" -> { h =>
      // page the input in first, or the cold read lands in the first run
      h.spark.read.parquet(s"${Harness.sfDir}/lineitem.parquet")
        .write.format("noop").mode("overwrite").save()
      val s2 = MapBuild.noCoalesceSession(h.spark) // the q45/q109 convention
      val total = Projections.map(e => time(h, s"fullDepth:$e")(d =>
        MapBuild.pyramid(OccurrenceView.occ(s2, d), e, 0, 16)).wall).sum
      println(f"[lab] fullDepth total=$total%.1fs")
    },
    // the volume decomposition behind PROFILE.md's full-depth verdict: raw
    // rows → exploded (view-replicated) rows → distinct z16 pixel groups
    "pyramidCounts" -> { h =>
      val occ = OccurrenceView.occ(MapBuild.noCoalesceSession(h.spark), Harness.sfDir)
      val raw = occ.count()
      val exploded = MapBuild.explodeMapKeys(occ).count()
      Projections.foreach { e =>
        val top = MapBuild.pyramidState(occ, e, 16).count()
        println(s"[lab] pyramidCounts $e raw=$raw exploded=$exploded top16=$top")
      }
    },
    "perZoom" -> perZoom("EPSG:3857"),
    // salted vs unsalted partitioning of the z16 view/pixel table — the
    // reference's `0:0` ALL-view hazard (SURVEY §7.4, ModulusSalt.java:61-97).
    // Unsalted partitions BY MAP KEY, so one partition carries the whole
    // ALL view; salted spreads the full tile key (the KeyedSink convention)
    // over the same partition count. Same rows, sort and sink: the delta is
    // pure partitioning. The pixel table is pinned outside the timed runs.
    "saltAB" -> { h =>
      val s2 = MapBuild.noCoalesceSession(h.spark)
      val px = memo(d => MapBuild.explodeMapKeys(
          MapBuild.withPixels(OccurrenceView.occ(s2, d), "EPSG:3857"))
        .groupBy("map_key", "px", "py").agg(count(lit(1)).as("total"))
        .localCheckpoint())
      val m = 32
      time(h, "saltAB:unsalted")(d => px(d).repartition(m, col("map_key"))
        .sortWithinPartitions("map_key", "px", "py"))
      time(h, "saltAB:salted")(d => px(d)
        .withColumn("key", concat_ws(":", col("map_key"), col("px"), col("py")))
        .withColumn("salt", graft.functions.GeoFunctions.saltOf(col("key"), m))
        .repartition(m, col("salt")).sortWithinPartitions("salt", "key"))
    },
    "ivfDecontam" -> ivfDecontam(2))

  /** One JIT warmup run on the warmup data, then the harness's timed step
    * on the lab data; prints and returns the kept run. */
  private def time(h: Harness, label: String)(mk: String => DataFrame): Harness.Run = {
    h.run(s"[lab] $label", attribute = false)(mk(Harness.warmupDir))
    h.metrics.settle()
    val r = h.best(s"[lab] $label")(mk(Harness.sfDir))
    println(f"[lab] $label%-34s wall=${r.wall}%7.2fs cpu=${r.cpu}%8.1fs shuffle=${r.shuffleMb}%9.1fMB")
    r
  }

  private def query(h: Harness, q: String)(d: String) = SparkEntry.queries(q)(h.spark, d)
  private def docs(h: Harness, d: String) = OccurrenceView.documents(h.spark, d)
  private def edges(h: Harness, d: String) = Dedup.lshCandidatePairs(docs(h, d), 0.5)
    .select("doc_a", "doc_b").localCheckpoint()
  private def pyramid6(h: Harness)(d: String) =
    MapBuild.pyramid(OccurrenceView.occ(h.spark, d), "EPSG:4326", 0, 6)

  /** `body` with AQE partition coalescing set to `on`, then restored. */
  private def coalescing(h: Harness, on: Boolean)(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = h.spark.conf.get(key)
    h.spark.conf.set(key, on)
    try body finally h.spark.conf.set(key, prev)
  }

  /** `f` computed once per data directory. */
  private def memo[A](f: String => A): String => A = {
    val seen = mutable.Map[String, A]()
    d => seen.getOrElseUpdate(d, f(d))
  }

  /** Per-zoom decomposition of the z0–z16 build (PROFILE.md's table): the
    * chunk tops are built as `MapBuild.chunkedLevels` builds them (7-level
    * chunks, one keyed rollup between chunks) and pinned outside the timed
    * runs; each zoom's levelStats (one single-level chunk) and each rollup
    * is then timed on its own. Measurement grain only — `fullDepth` times
    * the production build.
    */
  private def perZoom(e: String): Arm = h => {
    val s2 = MapBuild.noCoalesceSession(h.spark)
    val chunks = Seq(16, 9, 2).map(hz => hz -> math.max(0, hz - 6)) // (highZ, lowZ)
    def rollup(top: DataFrame, hz: Int, lz: Int) =
      MapBuild.rollupPixels(top, hz, lz - 1, Nil, Seq("total"))
    val tops = memo { d =>
      var top = MapBuild.pyramidState(OccurrenceView.occ(s2, d), e, 16).localCheckpoint()
      chunks.map { case (hz, lz) =>
        val cur = top
        if (lz > 0) top = rollup(cur, hz, lz).localCheckpoint()
        hz -> cur
      }.toMap
    }
    time(h, s"perZoom:$e top@z16")(d => MapBuild.pyramidState(OccurrenceView.occ(s2, d), e, 16))
    for ((hz, lz) <- chunks) {
      (hz to lz by -1).foreach(z =>
        time(h, s"perZoom:$e z$z")(d => MapBuild.levelStats(tops(d)(hz), hz, z, z, None)))
      if (lz > 0) time(h, s"perZoom:$e rollup->z${lz - 1}")(d => rollup(tops(d)(hz), hz, lz))
    }
  }

  /** The q183 production arm in isolation: ivfSemanticDecontam(nprobe)
    * beside the brute op on the same data — the nprobe/IvfK eval-scan
    * evidence (the sweep query's wall is dominated by its brute truth). */
  private def ivfDecontam(nprobe: Int): Arm = h => {
    def emb(d: String) = OccurrenceView.embeddings(h.spark, d)
    time(h, "ivfDecontam:brute")(d =>
      Similarity.semanticDecontam(docs(h, d), emb(d), "src0"))
    time(h, s"ivfDecontam:nprobe$nprobe")(d =>
      Similarity.ivfSemanticDecontam(docs(h, d), emb(d), "src0", nprobe))
  }

  /** A hub-skewed graph: a star whose hub id sits MID-RANGE among its
    * 6000 spokes (id-ordered wedge work at a node is #smaller × #larger
    * neighbours, so an extreme-id hub would hide the blowup) plus 400
    * disjoint 5-cliques. */
  private def hubGraph(h: Harness): DataFrame = {
    import h.spark.implicits._
    val hub = 50000L
    val star = (1L to 3000L).flatMap(i => Seq((i, hub), (hub, hub + i)))
    val cliques = for (k <- 0 until 400; i <- 0 until 5; j <- i + 1 until 5)
      yield (100000L + 5 * k + i, 100000L + 5 * k + j)
    (star ++ cliques).toDF("doc_a", "doc_b")
  }
}
