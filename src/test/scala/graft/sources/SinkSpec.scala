package graft.sources

import graft.core.Salt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Salted keyed sink + workflow manifest lifecycle on sf0.001. */
class SinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var work: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The full-depth z0-z16 build's AQE re-plan builds an explain string per
      // plan update; uncapped, that single string allocation OOM'd an 8g JVM
      // (AdaptiveSparkPlanExec.onUpdatePlan -> explainString). This suite never
      // asserts on explain text, so truncate aggressively.
      .config("spark.sql.maxPlanStringLength", "4096")
      .appName("sink-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = java.nio.file.Files.createTempDirectory("graft-work")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Every node of an executed plan, through AQE's final stages and
    * subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(planNodes)
  }

  test("manifest roundtrips paths containing JSON delimiter characters") {
    val dir = java.nio.file.Files.createTempDirectory("man,if{est").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "manifest.json"),
      s"""{"version": 7, "points": "$dir/v7/points", "tiles": "$dir/v7/tiles"}"""
        .getBytes("UTF-8"))
    val m = Workflow.readManifest(dir).get
    assert(m.version === 7L)
    assert(m.points === s"$dir/v7/points") // comma/brace in dir must survive
    assert(m.tiles === s"$dir/v7/tiles")
    // escaped quote/backslash in a JSON-compliant manifest unescapes on read
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "manifest.json"),
      """{"version": 8, "points": "/a\"b\\c/points", "tiles": "/t/tiles"}"""
        .getBytes("UTF-8"))
    val m2 = Workflow.readManifest(dir).get
    assert(m2.points === "/a\"b\\c/points")
  }

  test("workflow build writes salted stores and swaps the manifest") {
    val m1 = Workflow.build(spark, Dir, work.toString)
    assert(m1.version === 1L)
    val m2 = Workflow.build(spark, Dir, work.toString)
    assert(m2.version === 2L)
    assert(Workflow.readManifest(work.toString).get === m2)
    // previous version retained for rollback
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(m1.points)))

    // points store: every row's salt matches its key's salt; lookup works
    val pts = spark.read.parquet(m2.points)
    val salt10 = Salt(10)
    val bad = pts.select("key", "salt")
      .collect().count(r => salt10.saltOf(r.getString(0)) != r.getInt(1))
    assert(bad === 0)
    val one = KeyedSink.lookup(spark, m2.points, 10, "0:0")
    assert(one.count() > 0)
    assert(one.select("map_key").distinct().collect().map(_.getString(0)).toSeq === Seq("0:0"))

    // the job-free GET arm returns the exact same rows AND schema as the
    // scheduled-scan arm (order-insensitive; the store sorts within salt)
    val direct = KeyedSink.lookupDirect(m2.points, 10, "0:0")
    val viaSpark = one.collect()
    assert(direct.nonEmpty)
    assert(direct.head.schema.map(f => (f.name, f.dataType)) ===
      viaSpark.head.schema.map(f => (f.name, f.dataType)),
      s"direct=${direct.head.schema} spark=${viaSpark.head.schema}")
    assert(direct.map(_.toSeq).toSet === viaSpark.map(_.toSeq).toSet)
    // a key that salts to an existing directory but matches no row reads
    // empty through the record filter, and a missing salt dir reads empty
    assert(KeyedSink.lookupDirect(m2.points, 10, "no:such:key").isEmpty)
    assert(KeyedSink.lookupDirect(m2.points + "/does-not-exist", 10, "0:0").isEmpty)

    // tiles store: 4326 z6 MVT blobs decode and conserve the points total
    // (other projections clip to their hemispheres; lower zooms re-count it)
    val tiles = spark.read.parquet(s"${m2.tiles}/srs=EPSG_4326/zoom=6")
      .select("map_key", "mvt").collect()
    val totalFromTiles = tiles.filter(_.getString(0) == "0:0")
      .map(r => graft.functions.Mvt.decodeTile(r.getAs[Array[Byte]](1)).map(_.total).sum).sum
    val expected = spark.read.parquet(m2.points)
      .filter(col("map_key") === "0:0").agg(sum("occ_count")).head.getLong(0)
    assert(totalFromTiles === expected)
  }

  // "incremental store update ..." and "full-depth build ..." moved to
  // StoreIncrementalSpec / StoreDeepSpec (round 12): self-contained, ~7 min
  // combined, now run in their own forked JVMs concurrently (build.sbt
  // concurrency 3) — the sbt-test wall fix for the driver sandbox timeout.

  test("build derives everything from one materialized snapshot (S2/O4): " +
    "plans over the persisted occ read the cache, not the source") {
    import graft.operators.{MapBuild, OccurrenceView}
    val occ = OccurrenceView.occ(spark, Dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    occ.count() // the single source scan, as in Workflow.build
    // every downstream consumer (points + each projection pyramid) must plan
    // an InMemoryTableScan — no second FileScan of the fact table
    Seq(MapBuild.pointAgg(MapBuild.explodeMapKeys(occ)),
      MapBuild.pixelAgg(occ, "EPSG:3857"),
      MapBuild.pixelAgg(occ, "EPSG:3575")).foreach { df =>
      // the executing plan (everything above the InMemoryRelation, whose
      // printout includes the original cached lineage) must read the cache,
      // never the fact table
      val plan = df.queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
      assert(plan.contains("InMemoryTableScan"), s"cache not used:\n$plan")
      assert(!plan.contains("lineitem"), s"source rescan found:\n$plan")
    }
    occ.unpersist()
  }

  test("serving a tile from the store equals computing it from the raw table") {
    import graft.operators.{MapBuild, OccurrenceView, TileServe}
    import graft.core.YearRange
    val m = Workflow.readManifest(work.toString).get
    val first = spark.read.parquet(s"${m.tiles}/srs=EPSG_4326/zoom=6")
      .filter(col("map_key") === "0:0")
      .select("tx", "ty").orderBy("tx", "ty").head
    val (tx, ty) = (first.getLong(0), first.getLong(1))

    val served = TileServe.serveTile(spark, work.toString, "EPSG:4326", "0:0",
      6, tx, ty, YearRange.Unbounded, Nil).toSet

    val z6 = MapBuild.rollupToZoom(
      MapBuild.pixelAgg(OccurrenceView.occ(spark, Dir), "EPSG:4326"), 16, 6)
    val fresh = z6.filter(col("map_key") === "0:0" &&
        (col("px") / 512).cast("long") === tx && (col("py") / 512).cast("long") === ty)
      .groupBy(pmod(col("px"), lit(512)).as("lpx"), pmod(col("py"), lit(512)).as("lpy"))
      .agg(sum("occ_count").as("n"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2))).toSet
    assert(served === fresh)
    assert(served.nonEmpty)

    // year-filtered serve is a subset with smaller totals
    val filtered = TileServe.serveTile(spark, work.toString, "EPSG:4326", "0:0",
      6, tx, ty, YearRange(Some(1995), Some(2005)), Nil)
    assert(filtered.map(_._3).sum < served.toSeq.map(_._3).sum)

    // the pyramid store serves lower zooms too: both z0 tiles of the 2x1
    // scheme together carry the view's full total
    val z0total = (0L to 1L).flatMap(x =>
      TileServe.serveTile(spark, work.toString, "EPSG:4326", "0:0",
        0, x, 0, YearRange.Unbounded, Nil)).map(_._3).sum
    val expected0 = spark.read.parquet(m.points)
      .filter(col("map_key") === "0:0").agg(sum("occ_count")).head.getLong(0)
    assert(z0total === expected0)

    // a zoom the store doesn't carry is an EMPTY response, not a read
    // error (the zoom-targeted GET must keep the old tree-scan's semantics
    // for an unmatched key)
    assert(TileServe.serveTile(spark, work.toString, "EPSG:4326", "0:0",
      9, 0, 0, YearRange.Unbounded, Nil).isEmpty)
  }

  test("point blobs roundtrip: served small view equals the fresh point aggregate") {
    import graft.operators.{MapBuild, OccurrenceView, TileServe}
    import graft.core.YearRange
    val occ = OccurrenceView.occ(spark, Dir)
    val ex = MapBuild.explodeMapKeys(occ)
    val small = MapBuild.filterToViews(ex,
      MapBuild.largeViews(occ, OccurrenceView.Threshold), keep = false)
    val pts = MapBuild.pointAgg(small).cache()
    val key = pts.select("map_key").orderBy("map_key").head.getString(0)

    val served = TileServe.servePoints(spark, work.toString, key,
      YearRange.Unbounded, Nil).toSet
    val fresh = pts.filter(col("map_key") === key)
      .select("lat10", "lng10", "bor_year", "occ_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(served === fresh)
    assert(served.nonEmpty)

    // bor-filtered serve is the exact bor slice
    val borOnly = TileServe.servePoints(spark, work.toString, key,
      YearRange.Unbounded, Seq(0)).toSet
    assert(borOnly === fresh.filter(_._3 % 100 == 0))
    pts.unpersist()
  }

  test("bucketed pixel tables co-locate: groupBy and self-join run with " +
    "ZERO keyed shuffle (S6 at cluster scale — bucket layout replaces the " +
    "exchange)") {
    import graft.operators.{MapBuild, OccurrenceView}
    val pix = MapBuild.pixelAggAt(OccurrenceView.occ(spark, Dir), "EPSG:4326", 6)
    val loc = java.nio.file.Files.createTempDirectory("graft-bucketed")
    pix.write.mode("overwrite")
      .bucketBy(8, "map_key").sortBy("map_key")
      .option("path", s"$loc/pix").saveAsTable("pix_bucketed")
    val t = spark.table("pix_bucketed")

    // aggregation on the bucket key: the scan's hash layout satisfies the
    // required distribution — no Exchange before the final aggregate
    val agg = t.groupBy("map_key").agg(sum("occ_count").as("total"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"), aggPlan)
    // and the result equals the unbucketed computation
    val direct = pix.groupBy("map_key").agg(sum("occ_count").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === direct)

    // bucket-key equi-join of two co-bucketed tables: shuffle-free on BOTH
    // sides (sort-merge over the bucket layout)
    val viewTotals = agg.filter(col("total") > 100)
    val j = t.join(t.groupBy("map_key").agg(count(lit(1)).as("n")), Seq("map_key"))
    val jPlan = j.queryExecution.executedPlan.toString
    assert(!jPlan.contains("Exchange hashpartitioning"), jPlan)
    assert(j.count() === t.count())
    assert(viewTotals.count() > 0)
    spark.sql("DROP TABLE IF EXISTS pix_bucketed")
  }

  test("streaming continuous rebuild: each micro-batch of appends rebuilds " +
    "the store and swaps the manifest atomically") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-in")
    val accum = java.nio.file.Files.createTempDirectory("graft-stream-accum")
    val work2 = java.nio.file.Files.createTempDirectory("graft-stream-work")
    val li = spark.read.parquet(s"$Dir/lineitem.parquet")
    li.repartition(2).write.mode("overwrite").parquet(inDir.toString)
    val q = graft.streaming.EventStream.continuousRebuild(
      spark, inDir.toString, li.schema, accum.toString, work2.toString)
    try q.processAllAvailable()
    finally q.stop()
    // two part files, maxFilesPerTrigger=1 → two batches → two swaps
    val m = Workflow.readManifest(work2.toString).get
    assert(m.version === 2L)
    // the final store covers ALL appended rows: the points store's total
    // equals the exploded count of the full input (5 view keys per record)
    val total = spark.read.parquet(m.points)
      .agg(sum("occ_count")).head.getLong(0)
    assert(total === li.count() * 5)
    // rollback version still on disk
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(work2.toString, "v1", "points")))
  }

  test("lookupDirect is safe under concurrent GETs (serving-grade): 8 " +
    "threads hammering mixed keys all read exactly the single-threaded " +
    "answer, through the shared footer cache") {
    val m = Workflow.readManifest(work.toString).get
    val keys = spark.read.parquet(m.points).select("key").distinct()
      .limit(12).collect().map(_.getString(0)).toSeq
    assert(keys.nonEmpty)
    val expected = keys.map(k =>
      k -> KeyedSink.lookupDirect(m.points, 10, k).map(_.toSeq).toSet).toMap
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      new Thread(() =>
        try (0 until 20).foreach { i =>
          val k = keys((t + i) % keys.length)
          val got = KeyedSink.lookupDirect(m.points, 10, k).map(_.toSeq).toSet
          if (got != expected(k)) errs.add(s"thread $t key $k mismatch")
        } catch { case e: Throwable => errs.add(s"thread $t: $e") })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, errs.toString)
  }

  test("Lifecycle table-backed checkpoint arm: with the conf set, " +
    "withPersisted materializes to a parquet table (executor-loss-safe), " +
    "rows equal the localCheckpoint arm, inputs unpinned either way") {
    import graft.core.Lifecycle
    val src = spark.read.parquet(s"$Dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    def body(in: org.apache.spark.sql.DataFrame) =
      in.groupBy("source").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val local = Lifecycle.withPersisted(src)(body(src))
      .collect().map(_.toSeq).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("wp-table").toString
    spark.conf.set(Lifecycle.CheckpointDirKey, ckpt)
    try {
      val viaTable = Lifecycle.withPersisted(src)(body(src))
      assert(viaTable.collect().map(_.toSeq).toSet === local)
      // the result really is table-backed: a wp-* parquet dir exists and
      // re-collecting reads it (no lineage back to the source persist)
      val wpDirs = java.nio.file.Files.list(java.nio.file.Paths.get(ckpt))
        .iterator()
      assert(wpDirs.hasNext, "expected a wp-<uuid> table under the dir")
      assert(viaTable.queryExecution.analyzed.toString.contains("parquet"),
        viaTable.queryExecution.analyzed.toString)
      // no cache entry survives either arm
      assert(spark.sharedState.cacheManager.isEmpty,
        "withPersisted must leave the SQL cache empty")
    } finally spark.conf.unset(Lifecycle.CheckpointDirKey)
  }

  test("footer cache is a true LRU: overflow evicts only the coldest " +
    "entry, a hot served footer survives 2× the bound of churn, and " +
    "lookupDirect refuses non-local URIs loudly") {
    // a REAL footer from the current store (whatever file the build wrote)
    val m = Workflow.readManifest(work.toString).get
    val aFile = java.nio.file.Files.walk(java.nio.file.Paths.get(m.points))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(aFile.toString),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val hot = "/churn-test/hot.parquet"
    KeyedSink.footerCachePut(hot, meta)
    try {
    // version churn: 2× the bound of distinct cold entries, the hot one
    // touched every 1024 insertions as a live serving key would be
    (0 until KeyedSink.FooterCacheMax * 2).foreach { i =>
      KeyedSink.footerCachePut(s"/churn-test/v$i.parquet", meta)
      if (i % 1024 == 0) assert(KeyedSink.footerCacheTouch(hot),
        s"hot entry evicted after $i churn insertions")
    }
    val (size, hotAlive) = KeyedSink.footerCacheProbe(hot)
    assert(size <= KeyedSink.FooterCacheMax, s"cache exceeded bound: $size")
    assert(hotAlive, "hot entry must survive churn past the bound")
    // the clear-all failure mode this guards against: a cold entry from
    // the early churn is gone, evicted one-by-one, never en masse
    assert(!KeyedSink.footerCacheProbe("/churn-test/v0.parquet")._2)
    // non-local store URIs fail loudly instead of reading Seq.empty
    // through a java.nio miss (round-9 ADVICE)
    val e = intercept[IllegalArgumentException] {
      KeyedSink.lookupDirect("hdfs://namenode/store/points", 10, "0:0")
    }
    assert(e.getMessage.contains("lookup"), e.getMessage)
    // the cache is process-global: leave it empty, not saturated with 8k
    // synthetic paths every later same-JVM test would inherit
    } finally KeyedSink.footerCacheClear()
  }

  test("version churn mid-serve: after a manifest bump the OLD version's " +
    "store keeps answering job-free GETs (rollback window) and a " +
    "re-resolve serves the new version") {
    val mOld = Workflow.readManifest(work.toString).get
    val key = "0:0"
    val before = KeyedSink.lookupDirect(mOld.points, 10, key).map(_.toSeq).toSet
    assert(before.nonEmpty)
    // a new build = new version directory + atomic manifest swap
    val mNew = Workflow.build(spark, Dir, work.toString)
    assert(mNew.version === mOld.version + 1)
    assert(mNew.points !== mOld.points, "a version bump must be a new path")
    // an in-flight server still holding the old manifest keeps answering
    // byte-identically — immutable store, retained for rollback
    assert(KeyedSink.lookupDirect(mOld.points, 10, key).map(_.toSeq).toSet
      === before)
    // and a re-resolve picks up the new version (same query, new store)
    val after = KeyedSink.lookupDirect(mNew.points, 10, key).map(_.toSeq).toSet
    assert(after.nonEmpty)
    // the two builds read the same source rows, so content agrees even
    // though the paths differ
    assert(after === before)
  }

  test("rows within each salt partition are sorted by salted key") {
    val m = Workflow.readManifest(work.toString).get
    import scala.jdk.CollectionConverters._
    val saltDirs = java.nio.file.Files.list(java.nio.file.Paths.get(m.points))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("salt=")).toSeq
    assert(saltDirs.nonEmpty)
    saltDirs.foreach { d =>
      val files = java.nio.file.Files.list(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      files.foreach { f =>
        val keys = spark.read.parquet(f.toString)
          .select("salted_key").collect().map(_.getString(0)).toSeq
        assert(keys === keys.sorted, s"unsorted parquet in $d")
      }
    }
  }

  test("fused tile store: one tile write per projection, one sorted file per " +
    "zoom and salt, rows equal to the per-zoom operators") {
    import graft.operators.{MapBuild, OccurrenceView, TileEncode}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._

    val projections = Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand => writes.add(c.outputPath.toUri.getPath)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // buildFrom on THIS session (build forks one), so the session-scoped
    // listener sees every write
    val occ = OccurrenceView.occ(spark, Dir)
    val dir = java.nio.file.Files.createTempDirectory("fused-store").toString
    spark.listenerManager.register(listener)
    val m = try {
      val m = Workflow.buildFrom(spark, occ, dir, projections, 6)
      // the listener bus delivers events after the call returns: 2 point
      // writes, then per projection the fine and coarse state and the tiles
      eventually(timeout(30.seconds))(assert(writes.size >= 2 + 3 * projections.size))
      m
    } finally spark.listenerManager.unregister(listener)
    val tileWrites = writes.asScala.toSeq.filter(_.startsWith(m.tiles))
    assert(tileWrites.sorted ===
      projections.map(e => s"${m.tiles}/srs=${e.replace(':', '_')}").sorted,
      s"tile writes: $tileWrites")

    projections.foreach { epsg =>
      val sub = s"${m.tiles}/srs=${epsg.replace(':', '_')}"
      val top = MapBuild.pixelAggAt(occ, epsg, 6)
      (0 to 6).foreach { z =>
        val zoomDir = java.nio.file.Paths.get(s"$sub/zoom=$z")
        val saltDirs = java.nio.file.Files.list(zoomDir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("salt=")).toSeq
        assert(saltDirs.nonEmpty, s"$zoomDir holds no salt directory")
        saltDirs.foreach { d =>
          val files = java.nio.file.Files.list(d).iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toSeq
          assert(files.size === 1, s"$d holds ${files.size} parquet files")
        }
        // one scan per zoom; collect keeps each file's row order
        val stored = spark.read.parquet(zoomDir.toString)
        stored.select(input_file_name(), col("salted_key")).collect()
          .groupBy(_.getString(0)).foreach { case (f, rows) =>
            val sk = rows.map(_.getString(1)).toSeq
            assert(sk === sk.sorted, s"unsorted parquet $f")
          }
        // row for row: the kept per-zoom operators over the same pixels
        val cols = Seq("map_key", "z", "tx", "ty", "mvt")
        val want = TileEncode.mvtTiles(spark, MapBuild.rollupToZoom(top, 6, z), z)
          .select(cols.map(col): _*)
        val got = stored.select(cols.map(col): _*)
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"$epsg z$z: stored tiles differ from rollupToZoom + mvtTiles")
        // job-free GETs equal the Spark arm on sampled keys of every zoom
        // (blobs compared by content)
        def values(r: org.apache.spark.sql.Row) =
          r.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }
        stored.select("key").orderBy("key").limit(3).collect().map(_.getString(0))
          .foreach { k =>
            val direct = KeyedSink.lookupDirect(zoomDir.toString, 100, k)
            assert(direct.size === 1, s"$k: ${direct.size} rows")
            assert(direct.map(values) === KeyedSink.lookup(spark, zoomDir.toString,
              100, k).collect().map(values).toSeq)
          }
      }
    }
  }

  test("q145's pruned state sits under the SparkFiles root, which Spark " +
    "deletes when the context stops") {
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
      .getCanonicalPath
    val out = graft.SparkEntry.queries("q145_pruned_pyramid")(spark, Dir)
    val source = new java.io.File(Dir).getCanonicalPath
    val files = out.inputFiles.map(f => new java.io.File(new java.net.URI(f)).getCanonicalPath)
    val state = files.filterNot(_.startsWith(source))
    assert(state.nonEmpty, s"no pruned-state input among ${files.toSeq}")
    state.foreach(f => assert(f.startsWith(root + java.io.File.separator),
      s"$f lies outside the SparkFiles root $root"))
  }

  test("writeSalted shuffles into min(modulus, shuffle partitions) tasks and " +
    "still writes one sorted file per salt directory") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(planNodes(qe.executedPlan)
          .collect { case e: ShuffleExchangeLike => e.numPartitions })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener runs on the listener bus: wait for the write's event,
    // the only execution in this test with a shuffle
    def writeExchanges(df: org.apache.spark.sql.DataFrame, path: String): Seq[Int] = {
      plans.clear()
      KeyedSink.writeSalted(df, col("k"), 100, path)
      eventually(timeout(30.seconds))(assert(plans.asScala.exists(_.nonEmpty)))
      plans.asScala.filter(_.nonEmpty).toSeq.flatten
    }
    val keys = (0 until 150).map(i => s"k$i")
    val df = spark.range(keys.size).select(concat(lit("k"), col("id")).as("k"),
      (col("id") * 3).as("v"))
    val dir = java.nio.file.Files.createTempDirectory("salted-width").toString
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.listenerManager.register(listener)
    try {
      assert(writeExchanges(df, s"$dir/w4") === Seq(4))
      val saltDirs = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/w4"))
        .iterator().asScala.filter(_.getFileName.toString.startsWith("salt=")).toSeq
      assert(saltDirs.size === keys.map(Salt(100).saltOf).distinct.size)
      saltDirs.foreach { d =>
        val files = java.nio.file.Files.list(d).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
        assert(files.size === 1, s"$d holds ${files.size} parquet files")
        val sk = spark.read.parquet(files.head.toString)
          .select("salted_key").collect().map(_.getString(0)).toSeq
        assert(sk === sk.sorted, s"unsorted parquet in $d")
      }
      keys.foreach { k =>
        val direct = KeyedSink.lookupDirect(s"$dir/w4", 100, k)
        assert(direct.size === 1, s"$k: ${direct.size} rows")
        assert(direct.map(_.toSeq) ===
          KeyedSink.lookup(spark, s"$dir/w4", 100, k).collect().map(_.toSeq).toSeq)
      }
      // the modulus caps the fan-out: no empty tasks past one per salt
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      assert(writeExchanges(df, s"$dir/w200") === Seq(100))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", width)
      spark.listenerManager.unregister(listener)
    }
  }

  test("schema evolution: a store appended across versions with an added " +
    "column reads whole under mergeSchema, old rows null-filled") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    // v1 writer has no quality column; a later ingest job adds one — the
    // 100 TB reality where the store outlives any one writer's schema
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/part=v1")
    Seq((3L, "c", 0.9)).toDF("doc_id", "text", "quality")
      .write.parquet(s"$dir/part=v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "quality", "part"))
    val rows = merged.select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty, "pre-evolution rows null-fill")
    assert(rows(3L).contains(0.9))
    // the default reader (no mergeSchema) picks ONE file's schema — the
    // silent column-loss failure mode this option exists to prevent; pin
    // the behavior so readers of the versioned store always pass the flag
    val plain = spark.read.parquet(dir)
    assert(plain.count() === 3)
  }

  test("pruned incremental pyramid: the state SCAN touches only dirty " +
    "coarse-cell partitions (file-level pruning), output equals the " +
    "unpruned incremental path") {
    import graft.operators.MapBuild
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.catalog.clearCache() // isolate the leak check at the end
    val o = graft.operators.OccurrenceView.occ(spark, Dir)
    val base = o.filter(col("l_orderkey") % 10 =!= 0)
    // a spatially CONCENTRATED ingest batch — the case partition pruning
    // exists for (a world-wide delta legitimately dirties every cell)
    val delta = o.filter(col("l_orderkey") % 10 === 0)
      .filter(col("lng") >= 0 && col("lng") < 40 && col("lat") >= 0 && col("lat") < 40)
    val store = java.nio.file.Files.createTempDirectory("pruned-state").toString
    val state = MapBuild.pyramidState(base, "EPSG:4326", 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MapBuild.writePrunedState(state, store, 6, 2)
    val stored = MapBuild.pyramidFromState(state, 0, 6)

    val out = MapBuild.incrementalPyramidPruned(spark, store, stored, delta,
      "EPSG:4326", 0, 6, 2)
    def keyed(r: org.apache.spark.sql.Row) = {
      def l(i: Int) = r.getAs[Number](i).longValue
      (r.getString(0), l(5), l(1), l(2)) -> ((l(3), l(4)))
    }
    val got = out.collect().map(keyed).toMap

    // correctness: identical to the unpruned incremental path
    val want = MapBuild.incrementalPyramid(state, stored, delta, "EPSG:4326", 0, 6)
      .collect().map(keyed).toMap
    assert(got === want, "pruned path diverged from the unpruned incremental path")

    // pruning: walk the EXECUTED plan (post-collect, so scan metrics are
    // final) to the fine-state file scan and assert it opened strictly
    // fewer partitions/files than the store holds
    val fineScans = planNodes(out.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("fine")))
    assert(fineScans.nonEmpty, "no file scan over the fine state found")
    val ptDirs = new java.io.File(s"$store/fine").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("pt="))
    assert(ptDirs > 4, s"store layout collapsed to $ptDirs partitions")
    fineScans.foreach { sc =>
      val readParts = sc.metrics("numPartitions").value
      assert(readParts > 0 && readParts < ptDirs,
        s"state scan read $readParts of $ptDirs coarse cells — not pruned")
    }

    // the minZoom >= zc edge (no coarse side table in play: every
    // requested level recomputes from the pruned fine state alone) must
    // also match the unpruned path
    val outFineOnly = MapBuild.incrementalPyramidPruned(spark, store,
      MapBuild.pyramidFromState(state, 3, 6), delta, "EPSG:4326", 3, 6, 2)
      .collect().map(keyed).toMap
    val wantFineOnly = MapBuild.incrementalPyramid(state,
      MapBuild.pyramidFromState(state, 3, 6), delta, "EPSG:4326", 3, 6)
      .collect().map(keyed).toMap
    assert(outFineOnly === wantFineOnly, "fine-only branch diverged")

    // a z9 state: the fine side spans z2–z9, two 7-level chunks, so the
    // shared pruned recompute also runs its inter-chunk rollup
    val store9 = java.nio.file.Files.createTempDirectory("pruned-state9").toString
    val state9 = MapBuild.pyramidState(base, "EPSG:4326", 9)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    MapBuild.writePrunedState(state9, store9, 9, 2)
    val stored9 = MapBuild.pyramidFromState(state9, 0, 9)
    val out9 = MapBuild.incrementalPyramidPruned(spark, store9, stored9, delta,
      "EPSG:4326", 0, 9, 2).collect().map(keyed).toMap
    val want9 = MapBuild.incrementalPyramid(state9, stored9, delta, "EPSG:4326", 0, 9)
      .collect().map(keyed).toMap
    assert(out9.keys.exists(_._2 == 9L), "the z9 recompute produced no z9 tile")
    assert(out9 === want9, "two-chunk pruned path diverged from the unpruned path")
    state9.unpersist()

    // no SQL-cache entry outlives the calls once the test's own state is
    // unpersisted: the delta top and dirty set are checkpoints
    state.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "the incremental pyramid paths left SQL-cache entries behind")
  }

  test("pruned-state fine write salts WITHIN each coarse cell: a hot cell's " +
    "rows spread across multiple write tasks/files (parallelism scales with " +
    "cells x salt, not cells), layout keeps one directory per cell and the " +
    "rows round-trip unchanged; zc > maxZoom is rejected") {
    import graft.operators.MapBuild
    val o = graft.operators.OccurrenceView.occ(spark, Dir)
    // spatially CONCENTRATED state — the skewed fixture: nearly all pixels
    // land in very few zoom-2 cells, the case where repartition(pt) alone
    // serialized each hot cell through ONE write task
    val hot = o.filter(col("lng") >= 0 && col("lng") < 30 &&
      col("lat") >= -30 && col("lat") < 0)
    val state = MapBuild.pyramidState(hot, "EPSG:4326", 6)
    val store = java.nio.file.Files.createTempDirectory("salted-state").toString
    // at sandbox scale every (pt, salt) split is below the AQE advisory
    // size and coalescing would (correctly) re-merge them — disable it for
    // the write so the salt's task split is observable; at 100 TB a hot
    // cell's splits exceed the advisory size and keep their parallelism
    // with coalescing ON (see writeFineCells' Scaladoc)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try MapBuild.writePrunedState(state, store, 6, 2)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val dirs = new java.io.File(s"$store/fine").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pt="))
    assert(dirs.nonEmpty, "no coarse-cell directories written")
    val filesPerCell = dirs.map(d => d.getName ->
      d.listFiles().count(_.getName.startsWith("part-"))).toMap
    // the hot cell must have been written by >1 task (pre-salt: exactly 1
    // file per cell) and stay bounded by the salt count
    assert(filesPerCell.values.max > 1,
      s"hot cell serialized through one write task: $filesPerCell")
    assert(filesPerCell.values.max <= MapBuild.StateSaltBuckets,
      s"files per cell exceeded the salt bound: $filesPerCell")
    // total write tasks across the store exceed the cell count — the
    // directive's parallelism assertion, phrased on the artifact
    assert(filesPerCell.values.sum > dirs.length,
      s"write used no more tasks than cells: $filesPerCell")
    // rows unchanged by the salted layout
    val back = spark.read.parquet(s"$store/fine")
      .select("map_key", "px", "py", "total")
      .collect().map(_.toSeq).toSet
    assert(back === state.select("map_key", "px", "py", "total")
      .collect().map(_.toSeq).toSet)
    // layout validation now guards the WRITER too (previously only the
    // reader): a zc beyond maxZoom corrupted the partition value silently
    intercept[IllegalArgumentException] {
      MapBuild.writePrunedState(state, store + "-bad", 6, 7)
    }
  }

  test("every store and state write of build and incrementalUpdate carries the " +
    "nio local filesystem as a writer option; the caller's session, its Hadoop " +
    "conf and the FileSystem cache are untouched, and modes match a plain write") {
    import graft.core.NioLocalFileSystem
    import graft.operators.OccurrenceView
    import java.nio.file.{Files, Path}
    import org.apache.hadoop.fs.FileSystem
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._

    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, String])]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand =>
            writes.add(c.outputPath.toUri.getPath -> c.options)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val occ = OccurrenceView.occ(spark, Dir)
    val inBox = col("lng") >= 0 && col("lng") < 40 && col("lat") >= 0 && col("lat") < 40
    val dir = Files.createTempDirectory("nio-store").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val fileUri = new java.net.URI("file:///")
    // the scheme's cached filesystem (Hadoop's LocalFileSystem, or a
    // service-loaded subclass such as Hive's ProxyLocalFileSystem)
    val cached = FileSystem.get(fileUri, hconf)
    spark.listenerManager.register(listener)
    try {
      Workflow.buildFrom(spark, occ.filter(!inBox), dir, Seq("EPSG:4326"), 6)
      Workflow.incrementalUpdate(spark, occ.filter(inBox), dir, Seq("EPSG:4326"), 6)
      // per version: points, blobs, fine state, coarse state, tiles
      eventually(timeout(30.seconds))(assert(writes.size >= 10))
    } finally spark.listenerManager.unregister(listener)
    val ws = writes.asScala.toSeq
    Seq("v1", "v2").foreach { v =>
      Seq("points", "points_blobs", "state/srs=EPSG_4326/fine",
          "state/srs=EPSG_4326/coarse", "tiles/srs=EPSG_4326").foreach { sub =>
        assert(ws.exists(_._1 == s"$dir/$v/$sub"), s"no write of $v/$sub in ${ws.map(_._1)}")
      }
    }
    ws.foreach { case (path, opts) =>
      assert(opts.get("fs.file.impl").contains(classOf[NioLocalFileSystem].getName) &&
        opts.get("fs.file.impl.disable.cache").contains("true"),
        s"$path written without the nio filesystem: $opts")
    }

    // nothing leaked into the caller's session or the JVM-wide cache
    assert(FileSystem.get(fileUri, hconf) eq cached)
    assert(!cached.isInstanceOf[NioLocalFileSystem])
    assert(hconf.get("fs.file.impl") === null)
    assert(!spark.conf.getAll.keys.exists(_.contains("fs.file.impl")))

    // every directory and file of the store has the mode a plain write gives
    def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def tree(root: String): Seq[Path] =
      scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(root)))(_.iterator.asScala.toList)
    val plain = Files.createTempDirectory("plain-write").resolve("t").toString
    spark.range(3).write.parquet(plain)
    val (plainDirs, plainFiles) = tree(plain).partition(Files.isDirectory(_))
    val dirMode = plainDirs.map(mode).distinct
    val fileMode = plainFiles.map(mode).distinct
    assert(dirMode.size === 1 && fileMode.size === 1, s"plain modes $dirMode $fileMode")
    val (storeDirs, storeFiles) = (tree(s"$dir/v1") ++ tree(s"$dir/v2")).partition(Files.isDirectory(_))
    assert(storeFiles.exists(_.getFileName.toString.endsWith(".crc")))
    storeDirs.foreach(d => assert(mode(d) === dirMode.head, s"$d"))
    storeFiles.foreach(f => assert(mode(f) === fileMode.head, s"$f"))
  }

  // one 4326 z2 store the bad-argument ingests below are pointed at
  private lazy val smallStore = {
    val dir = java.nio.file.Files.createTempDirectory("small-store").toString
    Workflow.buildFrom(spark, graft.operators.OccurrenceView.occ(spark, Dir), dir,
      Seq("EPSG:4326"), 2)
    dir
  }

  Seq(
    "maxZoom below the state layout's coarse zoom" ->
      (Seq("EPSG:4326"), Workflow.StateCoarseZoom - 1),
    "maxZoom past the z16 pixel address" -> (Seq("EPSG:4326"), 17),
    "an unsupported projection" -> (Seq("EPSG:4326", "EPSG:9999"), 2),
    // two concurrent writes of one projection would race on its directories
    "a repeated projection" -> (Seq("EPSG:4326", "EPSG:4326"), 2)
  ).foreach { case (what, (projections, maxZoom)) =>
    test(s"buildFrom and incrementalUpdate reject $what before any directory " +
      "is written or any frame cached") {
      import java.nio.file.{Files, Paths}
      val occ = graft.operators.OccurrenceView.occ(spark, Dir)
      val store = smallStore
      assert(spark.sharedState.cacheManager.isEmpty, "cache not empty before the call")
      val fresh = Files.createTempDirectory("bad-args").toString
      intercept[IllegalArgumentException] {
        Workflow.buildFrom(spark, occ, fresh, projections, maxZoom)
      }
      assert(!Files.exists(Paths.get(fresh, "v1")), s"buildFrom wrote $fresh/v1")
      assert(spark.sharedState.cacheManager.isEmpty, "buildFrom left cached frames")
      intercept[IllegalArgumentException] {
        Workflow.incrementalUpdate(spark, occ.limit(10), store, projections, maxZoom)
      }
      assert(!Files.exists(Paths.get(store, "v2")), s"incrementalUpdate wrote $store/v2")
      assert(spark.sharedState.cacheManager.isEmpty, "incrementalUpdate left cached frames")
      assert(Workflow.readManifest(store).map(_.version) === Some(1L))
    }
  }

  test("a failed store write propagates its own exception type and leaves no " +
    "manifest, cached frame or write thread; a rerun into the same directory succeeds") {
    import graft.core.NioLocalFileSystem
    import java.nio.file.{Files, Paths}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val occ = graft.operators.OccurrenceView.occ(spark, Dir)
    val dir = Files.createTempDirectory("failed-write")
    // a plain file where the tile store's parent directory goes: the tile
    // write cannot make its directory (an overwrite would delete a file AT
    // the store path), while the points, blob and state writes can
    val blocker = dir.resolve("v1/tiles")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](1))
    // what the same write throws on its own, outside the pool
    val alone = intercept[Exception] {
      NioLocalFileSystem.writer(spark.range(1).toDF()).parquet(blocker.resolve("probe").toString)
    }
    val thrown = intercept[Exception] {
      Workflow.buildFrom(spark, occ, dir.toString, Seq("EPSG:4326"), 2)
    }
    assert(thrown.getClass === alone.getClass, s"thrown $thrown, alone $alone")
    assert(!thrown.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(!Files.exists(dir.resolve("manifest.json")), "manifest swapped after a failed write")
    assert(spark.sharedState.cacheManager.isEmpty, "failed build left cached frames")
    eventually(timeout(10.seconds)) {
      val alive = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && t.getName.startsWith(Workflow.WriteThreadPrefix))
      assert(alive.isEmpty, s"write threads still alive: ${alive.map(_.getName)}")
    }
    Files.delete(blocker)
    val m = Workflow.buildFrom(spark, occ, dir.toString, Seq("EPSG:4326"), 2)
    assert(m.version === 1L)
    assert(Workflow.readManifest(dir.toString) === Some(m))
    assert(spark.read.parquet(s"${m.tiles}/srs=EPSG_4326").count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty, "rerun left cached frames")
  }

  test("buildFrom runs its independent writes as concurrent Spark jobs: at " +
    "least two write executions overlap") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._

    // the SQL execution events carry start and end times (a
    // QueryExecutionListener sees only a duration, under another id)
    val starts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          starts.put(x.executionId, x.time)
        case x: SparkListenerSQLExecutionEnd => ends.put(x.executionId, x.time)
        case _ => ()
      }
    }
    val occ = graft.operators.OccurrenceView.occ(spark, Dir)
    val dir = java.nio.file.Files.createTempDirectory("concurrent-store").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      Workflow.buildFrom(spark, occ, dir, Seq("EPSG:4326", "EPSG:3857"), 2)
      // points, blobs, then per projection tiles, fine and coarse state
      eventually(timeout(30.seconds)) {
        assert(starts.size === 8)
        assert(starts.keySet.asScala.forall(ends.containsKey))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val spans = starts.asScala.toSeq.map { case (id, t0) => (t0: Long, ends.get(id): Long) }
      .sortBy(_._1)
    // sorted by start, some write overlaps another iff one starts before
    // its predecessor ends
    assert(spans.zip(spans.tail).exists { case ((_, e1), (s2, _)) => s2 < e1 },
      s"no two write executions overlap: $spans")
  }
}
