package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{MapBuild, OccurrenceView}

/** One-off experiment harness for the scale probe's findings: runs pyramid
  * plan variants against the already-materialized x10 replica dir and
  * prints the same stage totals as BenchScale's debug listener. The
  * round-5 probe showed the pyramid trio spilling 50–70 GB at x10 while
  * shuffle volume grew sub-linearly — this isolates WHERE (partial-agg
  * maps after the explode vs AQE partition coalescing vs final-agg state).
  */
object ScaleLab {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_LAB_DIR", "/tmp/graft-scale-x10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_LAB_PARTS", "320").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // zstd to MIRROR Bench's session (round 12; SPARK_GRAFT_CODEC=lz4
      // re-runs the historical-PROFILE.md-comparable arm)
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_CODEC", "zstd"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ONE stage-metrics listener implementation repo-wide (BenchScale's,
    // also used by Bench/GramLab) — a second hand-synced copy here skewed
    // cross-tool comparisons the moment one gained a field
    val m = new BenchScale.StageMetrics
    spark.sparkContext.addSparkListener(m)

    // `clear = false` keeps persisted frames alive across the two runs —
    // an arm that times an exchange over a PINNED input must not have its
    // input unpersisted between passes (saltAB: without this, pass 2 timed
    // a full pixel-table rebuild — a 168 vs 565 MB shuffle asymmetry)
    def run(name: String, clear: Boolean = true)(mk: => DataFrame): Unit = {
      // warm once, then two timed runs
      (1 to 2).foreach { i =>
        m.reset(); System.gc()
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (clear) spark.catalog.clearCache()
        // quiescence before reading the line (and before the next run's
        // reset): listener events land async — without this the tail of
        // one run's stages bleeds into the next run's attribution
        m.settle()
        println(f"[lab] $name run$i ${dt}%.1fs ${m.line}")
      }
    }

    val occ = OccurrenceView.occ(spark, dir)

    args.foreach {
      case "current" =>
        run("current")(MapBuild.pyramid(occ, "EPSG:4326", 0, 6))
      case "noCoalesce" =>
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        run("noCoalesce")(MapBuild.pyramid(occ, "EPSG:4326", 0, 6))
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      case "noAqe" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        run("noAqe")(MapBuild.pyramid(occ, "EPSG:4326", 0, 6))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      case s if s.startsWith("adv") =>
        // keep coalescing but size it for agg-state memory, not shuffle IO
        val mb = s.drop(3).toInt
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${mb}m")
        run(s)(MapBuild.pyramid(occ, "EPSG:4326", 0, 6))
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      case "repartAgg" =>
        // repartition the exploded rows by the exact group key BEFORE the
        // aggregation: the exchange then carries raw exploded rows (which
        // the current partial agg barely reduces anyway) and both halves
        // of the aggregate run post-exchange on ~1/parts of the keys each
        run("repartAgg") {
          val top = MapBuild.explodeMapKeys(MapBuild.withPixels(occ, "EPSG:4326"))
            .select(col("map_key"),
              shiftright(col("px"), OccurrenceView.MaxZoom - 6).as("px"),
              shiftright(col("py"), OccurrenceView.MaxZoom - 6).as("py"))
            .repartition(col("map_key"), col("px"), col("py"))
            .groupBy("map_key", "px", "py")
            .agg(count(lit(1)).as("total"))
          MapBuild.levelStats(top, 6, 0, 6, None)
        }
      // q:<name>:<on|off> — run a SparkEntry query against SPARK_GRAFT_LAB_DIR
      // with AQE partition coalescing toggled, tight-succession comparable
      case s if s.startsWith("q:") =>
        val Array(_, name, flag) = s.split(":")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          (flag == "on").toString)
        run(s)(SparkEntry.queries(name)(spark, dir))

      // the FULL-DEPTH z0–z16 production build, all four projections in
      // the reference's stage order (TileMapBuilder.java:66-69) — the
      // repo-side twin of the only published reference perf table
      // (example.yaml:124-127: z16 stage minutes 5/14/42/56 on 560 cores
      // over 2.5 B rows). One wall+cpu+shuffle line per projection run.
      case "fullDepth" =>
        val s2 = MapBuild.noCoalesceSession(spark) // the q45/q109 convention
        val nRows = occ.count()
        println(s"[lab] fullDepth input rows = $nRows, cores = $cpus")
        // ONE measurement protocol with BenchScale (round-10 verdict #2 —
        // the two instruments read the same build 2× apart): (a) pre-page
        // the replica input, or the cold read lands in the first timed run;
        // (b) JIT-warm each projection's full plan shape on the UNSCALED
        // data; (c) interleave projections across two passes with a GC
        // before each timed run and keep the per-projection MIN — the
        // 42→157 s run-to-run swing addendum D reconciled was exactly
        // what (a)+(c) remove.
        val warmDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.1")
        spark.read.parquet(s"$dir/lineitem.parquet")
          .write.format("noop").mode("overwrite").save()
        val projs = Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031")
        projs.foreach { e =>
          MapBuild.pyramid(OccurrenceView.occ(s2, warmDir), e, 0, 16)
            .write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
        }
        val best = scala.collection.mutable.Map[String, Double]()
        (1 to 2).foreach { pass =>
          projs.foreach { e =>
            m.reset(); System.gc()
            val t0 = System.nanoTime()
            MapBuild.pyramid(OccurrenceView.occ(s2, dir), e, 0, 16)
              .write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            m.settle() // async listener quiescence — same rule as run()
            println(f"[lab] fullDepth:$e pass$pass ${dt}%.1fs ${m.line}")
            best(e) = math.min(best.getOrElse(e, Double.MaxValue), dt)
          }
        }
        println("[lab] fullDepth MIN " +
          projs.map(e => f"$e=${best(e)}%.1fs").mkString(" ") +
          f" total=${projs.map(best).sum}%.1fs")

      // the volume decomposition PROFILE.md's full-depth verdict needs:
      // raw rows → exploded (view-replicated) rows → distinct z16 pixel
      // groups, per projection. These are the denominators that make the
      // reference's per-raw-row rate comparable: its z16 stage collapses
      // 2.5 B hot-spotted records into far fewer (mapKey, xy16, borYear)
      // groups, while the synthetic replica is nearly collapse-free.
      case "pyramidCounts" =>
        val s2 = MapBuild.noCoalesceSession(spark)
        val occ2 = OccurrenceView.occ(s2, dir)
        val raw = occ2.count()
        val exploded = MapBuild.explodeMapKeys(occ2).count()
        Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031").foreach { e =>
          val top = MapBuild.pyramidState(occ2, e, 16).count()
          println(s"[lab] pyramidCounts $e raw=$raw exploded=$exploded top16=$top")
        }

      // per-ZOOM decomposition of the z0–z16 build (PROFILE.md's table):
      // build the persisted chunk tops exactly as pyramidIterative does,
      // but time each zoom's levelStats separately off the live chunk
      // top. Measurement grain only — the production build runs 3 chunked
      // passes (timed by fullDepth); this locates WHERE the cost sits.
      case s if s.startsWith("perZoom") =>
        // arg form: perZoom:EPSG:3857 — the variant prefix is one segment,
        // the projection code itself contains a colon
        val e = if (s.contains(":")) s.drop("perZoom:".length) else "EPSG:3857"
        val s2 = MapBuild.noCoalesceSession(spark)
        val occ2 = OccurrenceView.occ(s2, dir)
        m.reset(); System.gc()
        var t0 = System.nanoTime()
        var top = MapBuild.pyramidState(occ2, e, 16)
        top.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
        m.settle()
        println(f"[lab] perZoom:$e top@z16 ${(System.nanoTime() - t0) / 1e9}%.1fs ${m.line}")
        var highZ = 16 // the current chunk top's zoom
        val chunk = 7  // = MapBuild.PyramidChunk, the production chunking
        while (highZ >= 0) {
          val lowZ = math.max(0, highZ - chunk + 1)
          (highZ to lowZ by -1).foreach { z =>
            m.reset()
            t0 = System.nanoTime()
            // single-level stage off the chunk top: pre-shift the top to
            // zoom z so levelStats (grain zoom z) sees a zoom-z pixel
            // table — the same shift+collapse+tile
            // algebra the chunked levelStats runs for this z
            val topAtZ = top.select(col("map_key"),
              shiftright(col("px"), highZ - z).as("px"),
              shiftright(col("py"), highZ - z).as("py"), col("total"))
            MapBuild.levelStats(topAtZ, z, z, z, None)
              .write.format("noop").mode("overwrite").save()
            m.settle()
            println(f"[lab] perZoom:$e z$z ${(System.nanoTime() - t0) / 1e9}%.1fs ${m.line}")
          }
          if (lowZ > 0) {
            m.reset()
            t0 = System.nanoTime()
            // the inter-chunk rollup exactly as pyramidIterative runs it:
            // one keyed sum of the (highZ − lowZ + 1)-shifted top
            val next = top.select(col("map_key"),
                shiftright(col("px"), highZ - lowZ + 1).as("px"),
                shiftright(col("py"), highZ - lowZ + 1).as("py"), col("total"))
              .groupBy("map_key", "px", "py")
              .agg(sum("total").as("total"))
            next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
            m.settle()
            println(f"[lab] perZoom:$e rollup->z${lowZ - 1} " +
              f"${(System.nanoTime() - t0) / 1e9}%.1fs ${m.line}")
            top.unpersist()
            top = next
          }
          highZ = lowZ - 1
        }
        top.unpersist()
        spark.catalog.clearCache()
      // salted vs unsalted partitioning of the z16 view/pixel table — the
      // reference's `0:0` ALL-view hazard (SURVEY §7.4, ModulusSalt.java:
      // 61-97) A/B'd on whatever corpus SPARK_GRAFT_LAB_DIR holds (the
      // Zipf-hot replica is the honest shape: the lattice corpus has no
      // skew for salting to fix). Arm U partitions the sink write BY MAP
      // KEY — '0:0' is in EVERY record, so one partition carries the
      // whole ALL view and the job waits on that straggler; arm S salts
      // the full tile key (the q17/KeyedSink convention) across the same
      // partition count. Same rows, same sort discipline, same sink
      // format — the wall/shuffle delta is pure partitioning.
      case "saltAB" =>
        val s2 = MapBuild.noCoalesceSession(spark)
        val occ2 = OccurrenceView.occ(s2, dir)
        val px = MapBuild.explodeMapKeys(MapBuild.withPixels(occ2, "EPSG:3857"))
          .groupBy("map_key", "px", "py").agg(count(lit(1)).as("total"))
        px.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = px.count()
        val top = px.groupBy("map_key").agg(count(lit(1)).as("rows"))
          .orderBy(col("rows").desc).limit(3).collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
        println(s"[lab] saltAB pixel rows = $n, top view keys: $top")
        val M = 32
        graft.functions.JavaHashExpr.register(s2)
        run("saltAB:unsalted", clear = false) {
          px.repartition(M, col("map_key"))
            .sortWithinPartitions("map_key", "px", "py")
        }
        run("saltAB:salted", clear = false) {
          px.withColumn("key",
              concat_ws(":", col("map_key"), col("px"), col("py")))
            .withColumn("salt", graft.functions.GeoFunctions.saltOf(col("key"), M))
            .repartition(M, col("salt"))
            .sortWithinPartitions("salt", "key")
        }
        px.unpersist()
      // the q183 PRODUCTION arm in isolation: the sweep query's wall is
      // dominated by its built-in brute ground truth, so this times
      // ivfSemanticDecontam(nprobe) beside the brute op on the SAME data —
      // the direct evidence for the nprobe/IvfK eval-scan claim.
      // arg form: ivfDecontam:2
      case s if s == "ivfDecontam" || s.startsWith("ivfDecontam:") =>
        val np = if (s.contains(":")) s.drop("ivfDecontam:".length).toInt else 2
        val docs = OccurrenceView.documents(spark, dir)
        val emb = OccurrenceView.embeddings(spark, dir)
        run(s"ivfDecontam:brute")(
          graft.operators.Similarity.semanticDecontam(docs, emb, "src0"))
        run(s"ivfDecontam:nprobe$np")(
          graft.operators.Similarity.ivfSemanticDecontam(docs, emb, "src0", np))
      case other => System.err.println(s"unknown variant $other")
    }
    spark.stop()
  }
}
