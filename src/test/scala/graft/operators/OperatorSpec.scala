package graft.operators

import graft.core.YearRange
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level invariants over the sf0.001 testdata — the engine-side port
  * of the reference's golden-tile consistency tests (AggregationsTest.java:
  * 35-93, YearFilteringTest.java:37-88): pyramid conservation, parent==Σ
  * children, filter-partition totals.
  */
class OperatorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("operator-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def exploded = MapBuild.explodeMapKeys(OccurrenceView.occ(spark, Dir))

  test("pyramid conserves totals across zoom levels (O3 rollup)") {
    val px16 = MapBuild.pixelAgg(OccurrenceView.occ(spark, Dir), "EPSG:4326").cache()
    val t16 = px16.agg(sum("occ_count")).head.getLong(0)
    val z8 = MapBuild.rollupToZoom(px16, 16, 8)
    val t8 = z8.agg(sum("occ_count")).head.getLong(0)
    val t0 = MapBuild.rollupToZoom(z8, 8, 0).agg(sum("occ_count")).head.getLong(0)
    assert(t16 === t8 && t8 === t0)
    px16.unpersist()
  }

  test("algebraic map_key long encoding round-trips: decode(encode) is the " +
    "exact string key array on every corpus row, and the string-parse " +
    "encoder agrees with the source-side algebraic one (round-12 pyramid " +
    "key path)") {
    // the pyramid family now runs its keyed exchanges on the long form;
    // a decode/encode mismatch on ANY key type (incl. the 3:A/N/R letter
    // mapping) would silently corrupt every pyramid oracle
    val occ = OccurrenceView.occ(spark, Dir)
    val mism = occ.select(
        OccurrenceView.mapKeysArray.as("ks"),
        transform(MapBuild.mapKeyIdsArray,
          k => MapBuild.decodeMapKey(k)).as("dec"))
      .filter(col("ks") =!= col("dec")).count()
    assert(mism === 0, "decode(encode) diverged from the string key array")
    // string-parse arm (the stored-state entry path) inverts decode too
    val mism2 = occ
      .select(explode(MapBuild.mapKeyIdsArray).as("k"))
      .select(col("k"),
        MapBuild.encodeMapKey(MapBuild.decodeMapKey(col("k"))).as("k2"))
      .filter(col("k") =!= col("k2")).count()
    assert(mism2 === 0, "encode(decode) is not the identity on long keys")
  }

  test("pyramidIterative equals pyramidOnePass on a shared zoom range") {
    // the two strategies must be interchangeable: [[MapBuild.pyramid]]
    // dispatches on depth, so a divergence would ship invisibly whenever
    // only one branch is exercised by the driver gates
    spark.catalog.clearCache() // isolate the leak check below
    val occ = OccurrenceView.occ(spark, Dir)
    val one = MapBuild.pyramidOnePass(occ, "EPSG:4326", 0, 5)
    val iter = MapBuild.pyramidIterative(occ, "EPSG:4326", 0, 5)
    assert(one.exceptAll(iter).count() === 0)
    assert(iter.exceptAll(one).count() === 0)
    // z0–z9 spans two 7-level chunks — exercises the inter-chunk rollup
    // (a single-chunk range would leave the rollup branch untested)
    val one9 = MapBuild.pyramidOnePass(occ, "EPSG:4326", 0, 9)
    val iter9 = MapBuild.pyramidIterative(occ, "EPSG:4326", 0, 9)
    assert(one9.exceptAll(iter9).count() === 0)
    assert(iter9.exceptAll(one9).count() === 0)
    // the chunk tops are loop checkpoints, not SQL-cache entries: a library
    // caller that never calls clearCache() leaks nothing
    assert(spark.sharedState.cacheManager.isEmpty,
      "pyramidIterative left SQL-cache entries behind")
  }

  test("incrementalPyramid equals the full rebuild at every delta ratio tried") {
    // the q111 gate uses a 10% delta; exercise a fat delta (1 in 3) and a
    // skinny one (1 in 50) too — dirty-tile coverage differs radically
    // (a fat delta dirties nearly every tile, a skinny one almost none),
    // and both paths (anti-join passthrough, semi-join recompute) must
    // compose to the rebuild regardless
    val o = OccurrenceView.occ(spark, Dir)
    val full = MapBuild.pyramidOnePass(o, "EPSG:4326", 0, 6)
    for (mod <- Seq(3, 50)) {
      val base = o.filter(col("l_orderkey") % mod =!= 0)
      val delta = o.filter(col("l_orderkey") % mod === 0)
      val state = MapBuild.pyramidState(base, "EPSG:4326", 6).cache()
      val stored = MapBuild.pyramidFromState(state, 0, 6)
      val inc = MapBuild.incrementalPyramid(state, stored, delta, "EPSG:4326", 0, 6)
      assert(inc.exceptAll(full).count() === 0, s"mod=$mod: extra rows")
      assert(full.exceptAll(inc).count() === 0, s"mod=$mod: missing rows")
      spark.catalog.clearCache()
    }
  }

  test("incrementalPyramid fails loudly on a malformed stored map_key " +
    "instead of silently dropping the state row (ANSI on or off)") {
    val o = OccurrenceView.occ(spark, Dir)
    val base = o.filter(col("l_orderkey") % 10 =!= 0)
    val delta = o.filter(col("l_orderkey") % 10 === 0)
    val good = MapBuild.pyramidState(base, "EPSG:4326", 6)
    val stored = MapBuild.pyramidFromState(good, 0, 6)
    val bad = good.unionByName(
      spark.range(1).select(lit("x:7").as("map_key"), lit(3L).as("px"),
        lit(5L).as("py"), lit(2L).as("total")))
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try for (mode <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val err = intercept[Exception] {
        MapBuild.incrementalPyramid(bad, stored, delta, "EPSG:4326", 0, 6).collect()
      }
      assert(causes(err).exists(e => Option(e.getMessage)
          .exists(_.contains("malformed map_key: x:7"))),
        s"ansi=$mode: the failure does not name the malformed key: $err")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("decodeMapKey fails loudly on a bor key outside A/N/R instead of " +
    "decoding it as R (ANSI on or off)") {
    val bad = (3L << 40) + 7
    val keys = spark.range(1).select((lit(3L << 40) + col("id") + 7).as("k"))
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try for (mode <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val err = intercept[Exception] {
        keys.select(MapBuild.decodeMapKey(col("k"))).collect()
      }
      assert(causes(err).exists(e => Option(e.getMessage)
          .exists(_.contains(s"malformed map_key: $bad"))),
        s"ansi=$mode: the failure does not name the malformed key: $err")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("packed tile keys unpack exactly at the widest pixel EPSG:4326 " +
    "reaches at z16 (two tiles wide at z0: px < 2^26, tx < 2^17)") {
    val (px, py) = ((1L << 26) - 1, (1L << 25) - 1)
    val top = spark.range(1).select(lit("1:5").as("map_key"), lit(px).as("px"),
      lit(py).as("py"), lit(3L).as("total"))
    val expected = (0 to 16).map(z => (z, px >> (16 - z + 9), py >> (16 - z + 9))).toSet
    val dirty = MapBuild.dirtyTileKeys(MapBuild.dirtyTiles(top, 0, 16)).collect()
    assert(dirty.map(_.getAs[String]("map_key")).toSet === Set("1:5"))
    assert(dirty.map(r => (r.getAs[Int]("z"), r.getAs[Long]("tx"), r.getAs[Long]("ty")))
      .toSet === expected)
    assert(expected.contains((16, (1L << 17) - 1, (1L << 16) - 1)))
    val stats = MapBuild.levelStats(
      top.withColumn("map_key", lit((1L << 40) + 5)), 16, 0, 16, None).collect()
    assert(stats.map(r => (r.getAs[Int]("z"), r.getAs[Long]("tx"), r.getAs[Long]("ty")))
      .toSet === expected)
    assert(stats.forall(r => r.getAs[Long]("n_pixels") == 1L && r.getAs[Long]("total") == 3L))
  }

  test("pyramidDistinct: register rollup equals building registers directly " +
    "at the coarser zoom (parent sketch = merge of children)") {
    val o = OccurrenceView.occ(spark, Dir)
    val viaRollup = MapBuild.pyramidDistinct(o, "EPSG:4326", 0, 6)
      .filter(col("z") === 5)
    val direct = MapBuild.pyramidDistinct(o, "EPSG:4326", 5, 5)
    assert(viaRollup.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaRollup).count() === 0)
  }

  test("incrementalPyramid with an empty delta is the stored pyramid unchanged") {
    val o = OccurrenceView.occ(spark, Dir)
    val state = MapBuild.pyramidState(o, "EPSG:4326", 6).cache()
    val stored = MapBuild.pyramidFromState(state, 0, 6)
    val inc = MapBuild.incrementalPyramid(
      state, stored, o.filter(lit(false)), "EPSG:4326", 0, 6)
    assert(inc.exceptAll(stored).count() === 0)
    assert(stored.exceptAll(inc).count() === 0)
    spark.catalog.clearCache()
  }

  test("parent tile total equals the sum of its four children (z5 vs z6)") {
    val px16 = MapBuild.pixelAgg(OccurrenceView.occ(spark, Dir), "EPSG:4326").cache()
    val z6 = MapBuild.tileAssembly(MapBuild.rollupToZoom(px16, 16, 6), 6)
    val z5 = MapBuild.tileAssembly(MapBuild.rollupToZoom(px16, 16, 5), 5)
    val fromChildren = z6
      .groupBy(col("map_key"), (col("tx") / 2).cast("long").as("tx"),
        (col("ty") / 2).cast("long").as("ty"))
      .agg(sum("total").as("total"))
    val joined = z5.select("map_key", "tx", "ty", "total").as("p")
      .join(fromChildren.as("c"), Seq("map_key", "tx", "ty"), "full_outer")
      .filter(!(col("p.total") <=> col("c.total")))
    assert(joined.count() === 0)
    px16.unpersist()
  }

  test("year-range filter partitions totals (F6 ≙ verbose slice)") {
    val pts = MapBuild.pointAgg(exploded).cache()
    val total = pts.agg(sum("occ_count")).head.getLong(0)
    val lo = TileServe.yearRangeFilter(pts, YearRange(None, Some(2003)))
      .agg(sum("occ_count")).head.getLong(0)
    val hi = TileServe.yearRangeFilter(pts, YearRange(Some(2004), None))
      .agg(sum("occ_count")).head.getLong(0)
    val unknown = pts.filter(col("bor_year") < 100)
      .agg(coalesce(sum("occ_count"), lit(0L))).head.getLong(0)
    assert(lo + hi + unknown === total)
    pts.unpersist()
  }

  test("buffer replicas strictly extend the plain tile assembly (G2)") {
    val px16 = MapBuild.pixelAgg(OccurrenceView.occ(spark, Dir), "EPSG:4326")
    val z6 = MapBuild.rollupToZoom(px16, 16, 6).cache()
    val plain = MapBuild.tileAssembly(z6, 6)
      .groupBy("map_key").agg(sum("n_pixels").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val buffered = MapBuild.tileReplicaAssembly(z6, "EPSG:4326", 6)
      .groupBy("map_key").agg(sum("n_pixels").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain.keySet === buffered.keySet)
    plain.foreach { case (k, n) => assert(buffered(k) >= n, s"view $k") }
    z6.unpersist()
  }

  test("incremental streaming pixel index equals the batch z6 rollup") {
    import java.nio.file.Files
    val occ = OccurrenceView.occ(spark, Dir)
    val tmp = Files.createTempDirectory("occstream")
    // two append batches, as if two ingest waves arrived
    occ.filter(col("l_orderkey") % 2 === 0).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    occ.filter(col("l_orderkey") % 2 === 1).write.parquet(tmp.resolve("b2").toString)
    val schema = occ.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val agg = graft.streaming.EventStream.incrementalPixelCounts(stream, "EPSG:4326", 6)
    val q = agg.writeStream.format("memory")
      .queryName("occ_pixels").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    // state sizing: exactly one state row per LIVE (view, pixel, bor_year)
    // group — the store tracks the live aggregate, nothing accumulates
    // across batches beyond it (the z-bounded guarantee the docstring
    // promises for serving zooms)
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    val streamed = spark.table("occ_pixels").collect().map(_.toSeq).toSet
    val batch = MapBuild.rollupToZoom(
      MapBuild.pixelAgg(occ, "EPSG:4326"), 16, 6).collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(stateRows === batch.size.toLong,
      s"state store holds $stateRows rows for ${batch.size} live pixel groups")
    // and every live group sits inside the z6 grid (2×1 tile scheme: x has
    // one extra bit) — the structural bound that makes serving-zoom state
    // safe to keep online
    val gpx = (1L << 6) * 512L
    streamed.foreach { r =>
      val px = r(1).asInstanceOf[Long]; val py = r(2).asInstanceOf[Long]
      assert(px >= 0 && px < 2 * gpx && py >= 0 && py < gpx, s"pixel off-grid: $r")
    }
  }

  test("streaming pyramid serve: multi-zoom tiles off the streaming pixel " +
    "state equal the batch pyramid over the ingested prefix, at each of " +
    "two successive micro-batches") {
    import java.nio.file.Files
    val occ = OccurrenceView.occ(spark, Dir)
    val tmp = Files.createTempDirectory("occpyr")
    val p1 = occ.filter(col("l_orderkey") % 2 === 0)
    p1.write.parquet(tmp.resolve("b1").toString)
    val stream = spark.readStream.schema(occ.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val agg = graft.streaming.EventStream
      .incrementalPixelCounts(stream, "EPSG:4326", 6)
    val q = agg.writeStream.format("memory")
      .queryName("pyr_state").outputMode("complete").start()
    def served = graft.streaming.EventStream
      .pyramidServe(spark.table("pyr_state"), 0, 6)
      .collect().map(_.toSeq).toSet
    def batchPyr(prefix: org.apache.spark.sql.DataFrame) =
      MapBuild.pyramidFromState(
        MapBuild.pyramidState(prefix, "EPSG:4326", 6), 0, 6)
        .collect().map(_.toSeq).toSet
    try {
      q.processAllAvailable()
      val s1 = served
      assert(s1.nonEmpty && s1 === batchPyr(p1),
        "mid-stream serve diverged from the batch pyramid over batch 1")
      // second ingest wave arrives while the query runs
      occ.filter(col("l_orderkey") % 2 === 1)
        .write.parquet(tmp.resolve("b2").toString)
      q.processAllAvailable()
      val s2 = served
      assert(s2 === batchPyr(occ),
        "post-batch-2 serve diverged from the batch pyramid over the full corpus")
      assert(s2 !== s1, "batch 2 should have changed the served pyramid")
    } finally q.stop()
  }

  test("streaming HLL register index: per-tile registers merge across " +
    "micro-batches == batch build; served distinct pyramid equal at each " +
    "of two prefixes") {
    import java.nio.file.Files
    val occ = OccurrenceView.occ(spark, Dir)
    val tmp = Files.createTempDirectory("occhll")
    val p1 = occ.filter(col("l_orderkey") % 2 === 0)
    p1.write.parquet(tmp.resolve("b1").toString)
    val stream = spark.readStream.schema(occ.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val agg = graft.streaming.EventStream
      .hllRegisterStream(stream, "EPSG:4326", 6)
    val q = agg.writeStream.format("memory")
      .queryName("hll_regs").outputMode("complete").start()
    def served = graft.streaming.EventStream
      .distinctPyramidServe(spark.table("hll_regs"), 0, 6)
      .collect().map(_.toSeq).toSet
    // the batch comparator runs the SAME serve chain on a batch-built
    // register table — equality proves the streaming max-merge state is
    // exactly the batch fold
    def batchServe(prefix: org.apache.spark.sql.DataFrame) = {
      val tshift = Integer.numberOfTrailingZeros(OccurrenceView.TileSize)
      val base = MapBuild.withPixels(prefix, "EPSG:4326").select(
        shiftright(col("px"), OccurrenceView.MaxZoom - 6 + tshift).as("tx"),
        shiftright(col("py"), OccurrenceView.MaxZoom - 6 + tshift).as("ty"),
        graft.operators.Sketch.tokenHash(col("l_partkey").cast("string")).as("h"))
      graft.streaming.EventStream.distinctPyramidServe(
        graft.operators.Sketch.hllRegisterRows(base, Seq("tx", "ty"), col("h")), 0, 6)
        .collect().map(_.toSeq).toSet
    }
    try {
      q.processAllAvailable()
      val s1 = served
      assert(s1.nonEmpty && s1 === batchServe(p1))
      // bounded state: one row per live (tile, register)
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal).sum
      assert(stateRows === spark.table("hll_regs").count(),
        "state store must hold exactly the live register rows")
      occ.filter(col("l_orderkey") % 2 === 1)
        .write.parquet(tmp.resolve("b2").toString)
      q.processAllAvailable()
      assert(served === batchServe(occ))
    } finally q.stop()
  }

  test("MVT golden invariants: per-feature year-sum equals total; z5 parent " +
    "totals equal decoded z6 children (AggregationsTest/YearFilteringTest analogs)") {
    val px16 = MapBuild.pixelAgg(OccurrenceView.occ(spark, Dir), "EPSG:4326").cache()
    def decoded(z: Int) =
      TileEncode.mvtTiles(spark, MapBuild.rollupToZoom(px16, 16, z), z)
        .select("map_key", "tx", "ty", "mvt")
        .collect().toSeq
        .flatMap { r =>
          graft.functions.Mvt.decodeTile(r.getAs[Array[Byte]]("mvt"))
            .map(f => (r.getString(0), r.getLong(1), r.getLong(2), f)) }
    val d6 = decoded(6); val d5 = decoded(5)
    (d5 ++ d6).foreach { case (_, _, _, f) =>
      assert(f.yearCounts.values.sum === f.total) }
    val childSums = d6.groupBy { case (k, tx, ty, _) => (k, tx / 2, ty / 2) }
      .map { case (key, fs) => key -> fs.map(_._4.total).sum }
    val parents = d5.groupBy { case (k, tx, ty, _) => (k, tx, ty) }
      .map { case (key, fs) => key -> fs.map(_._4.total).sum }
    assert(parents === childSums)
    px16.unpersist()
  }

  test("dictionary encode: dense sorted ids, no single-partition Window in the plan (A14/O5)") {
    val df = MapBuild.dictionaryEncode(spark,
      MapBuild.viewCounts(OccurrenceView.occ(spark, Dir)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global Window found in plan:\n$plan")
    val rows = df.select("map_key", "key_id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1)
    // ids are exactly the rank of the key in ascending order, 0-based, dense
    assert(rows.map(_._2).toSeq === rows.indices)
  }

  test("LSH bucket-size cap drops the hot bucket but keeps genuine near-dups") {
    val ss = spark
    import ss.implicits._
    // 60 identical docs (one degenerate bucket per band) + 2 genuine
    // near-dups + unrelated filler
    val boiler = (1 to 60).map(i => (i.toLong, "common boilerplate text that repeats verbatim in every document"))
    val nearDup = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (102L, "the quick brown fox jumps over the lazy dog again and again!"))
    val filler = (200 to 210).map(i =>
      (i.toLong, s"completely unrelated document number $i with its own words ${i * 37}"))
    val docs = (boiler ++ nearDup ++ filler).toDF("doc_id", "text")

    val uncapped = Dedup.lshCandidatePairs(docs, 0.5)
    // the degenerate bucket alone contributes C(60,2) = 1770 pairs
    assert(uncapped.count() >= 1770L)
    val capped = Dedup.lshCandidatePairs(docs, 0.5, maxBucketSize = 10)
    val cappedPairs = capped.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot bucket gone, quadratic blowup gone, true near-dup pair survives
    assert(capped.count() < 100L)
    assert(cappedPairs.contains((101L, 102L)))
  }

  test("core pipelines yield empty results (not errors) on empty input") {
    val empty = OccurrenceView.occ(spark, Dir).filter(lit(false))
    assert(MapBuild.viewCounts(empty).count() === 0)
    assert(MapBuild.featureRollup(MapBuild.pointAgg(
      MapBuild.explodeMapKeys(empty))).count() === 0)
    assert(MapBuild.pixelAgg(empty, "EPSG:3857").count() === 0)
    assert(TileServe.capabilities(MapBuild.pointAgg(
      MapBuild.explodeMapKeys(empty))).count() === 0)
    assert(TileServe.circularExtent(MapBuild.pointAgg(
      MapBuild.explodeMapKeys(empty))).count() === 0)
    val emptyDocs = OccurrenceView.documents(spark, Dir).filter(lit(false))
    assert(Dedup.withMinhashSignature(emptyDocs).count() === 0)
    assert(Dedup.lshCandidatePairs(emptyDocs, 0.5).count() === 0)
    assert(Dedup.duplicateClusters(emptyDocs, 0.5).count() === 0)
    val docs = OccurrenceView.documents(spark, Dir)
    assert(Dedup.ingestDedup(docs, emptyDocs, 0.5).count() === 0)
    // empty corpus: ALL THREE new docs still emitted, every one novel
    val novel = Dedup.ingestDedup(emptyDocs, docs.limit(3), 0.5)
    assert(novel.count() === 3)
    assert(novel.filter(col("dup_of").isNotNull).count() === 0)
    assert(Corpus.bm25TopK(emptyDocs, Seq("spark"), 5).count() === 0)
    assert(Corpus.vocabCoverage(emptyDocs, 16).count() === 0)
    assert(Corpus.globalOrderIndex(emptyDocs).count() === 0)
    assert(Corpus.chunkDedup(emptyDocs, 16).count() === 0)
    assert(Corpus.tokenBudgetSelect(emptyDocs, 100L).count() === 0)
    assert(Corpus.corpusProfile(emptyDocs).count() === 0)
    assert(Corpus.tokenQuantilesHist(emptyDocs, Seq(0.5)).count() === 0)
    assert(Sketch.cmsHeavyHitters(emptyDocs, 5).count() === 0)
    assert(Sketch.linearCount(emptyDocs, 64).count() === 0)
    val emptyEmb = OccurrenceView.embeddings(spark, Dir).filter(lit(false))
    assert(Similarity.semanticDedup(emptyEmb, 0.4).count() === 0)
    assert(Similarity.hardNegatives(emptyEmb).count() === 0)
  }

  test("streaming exact dedup emits one doc per content hash across micro-batches") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("docdedup")
    // split so duplicate texts land in DIFFERENT micro-batches — state must
    // suppress the re-arrival
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.dedupStream(stream)
      .select("text_hash").writeStream.format("memory")
      .queryName("doc_dedup").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("doc_dedup").count()
    val batchDistinct = docs.select(md5(col("text"))).distinct().count()
    assert(streamed === batchDistinct)
    // and each hash appears exactly once
    assert(spark.table("doc_dedup").distinct().count() === streamed)
  }

  test("incremental streaming LSH band index equals the batch band table") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("lshidx")
    // bucket membership must accumulate across micro-batches
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.lshBandIndex(stream)
      .writeStream.format("memory").queryName("lsh_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("lsh_idx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Dedup.bandKeys(docs)
      .groupBy("band", "bh")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
  }

  test("streaming CMS sketch equals the batch sketch build (state ≤ d·w cells)") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("cmsidx")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.cmsSketch(stream)
      .writeStream.format("memory").queryName("cms_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("cms_idx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Sketch.sketchCells(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.size <= Sketch.D * Sketch.W)
  }

  test("streaming DSIR LM equals the batch LM after all batches (state " +
    "<= buckets rows) and scoring the snapshot reproduces q167 exactly") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("dsirlm")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.dsirLmStream(stream, "en", 4096)
      .writeStream.format("memory").queryName("dsir_lm")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val snapshot = spark.table("dsir_lm")
    val streamed = snapshot.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Corpus.dsirLm(docs, "en", 4096).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.size <= 4096)
    // serving off the snapshot = the one-shot q167 operator, bit-identical
    val served = Corpus.dsirScoreAgainst(docs, snapshot, 4096).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val oneShot = Corpus.dsirWeights(docs, "en", 4096).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(served === oneShot)
  }

  test("streaming ExactSubstr gram index equals the batch gram table " +
    "across a 2-batch split, and the served duplication profile equals " +
    "the batch q165 profile on the ingested prefix") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("gramidx")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.gramCountStream(stream, 40)
      .writeStream.format("memory").queryName("gram_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val snapshot = spark.table("gram_idx")
    val streamed = snapshot.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.gramCounts(docs, 40).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // the copy-burst alarm served off the state == the one-shot q165
    val served = graft.streaming.EventStream.dupProfileServe(snapshot)
      .collect().map(_.toSeq).toSet
    val oneShot = Dedup.sourceDupProfile(docs, 40).collect()
      .map(_.toSeq).toSet
    assert(served === oneShot)
  }

  test("streaming contamination monitor equals the batch hit counts " +
    "across a 2-batch split on a crafted leak, and stays consistent " +
    "with the q178 report") {
    val ss = spark; import ss.implicits._
    import java.nio.file.Files
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog"
    val evalDocs = Seq((100L, "PREFIX----" + shared, "ev"))
      .toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"), // leaks in batch 1
      (2L, "entirely unrelated content with no repeats here", "b"),
      (3L, "uvwxyz0123456789" + shared, "a"))           // leaks in batch 2
      .toDF("doc_id", "text", "source")
    val evalGrams = Dedup.evalGramKeys(evalDocs, "ev", L)
    val tmp = Files.createTempDirectory("decontam")
    // batch 1 carries the BENCHMARK'S OWN SHARD alongside train docs —
    // the monitor must not trip on it (q178's evalSource exclusion)
    train.filter(col("doc_id") < 3).unionByName(evalDocs)
      .coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    train.filter(col("doc_id") >= 3).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream
      .decontamMonitorStream(stream, evalGrams, "ev", L)
      .writeStream.format("memory").queryName("decontam_mon")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("decontam_mon").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Dedup
      .evalHitCounts(train.unionByName(evalDocs), evalGrams, "ev", L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    // both leaking docs' full window sets count; the clean source is
    // absent; the benchmark's own shard ("ev") is absent — no false alarm
    assert(streamed === Map("a" -> 2L * (shared.length - L + 1)))
    // and the per-source rollup of the q178 report agrees
    val all = evalDocs.unionByName(train)
    val reportRollup = Dedup.substringDecontaminate(all, "ev", L)
      .groupBy("source").agg(sum("n_eval_pos").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reportRollup === streamed)
  }

  test("streaming semantic-decontam monitor: 2-batch streamed counters " +
    "equal the one-shot q180 rollup (decimals included), eval's own " +
    "shard and zero-norm vectors excluded") {
    val ss = spark; import ss.implicits._
    import java.nio.file.Files
    // cosines chosen to exercise the rounding path: (3,4) vs (4,3) gives
    // 24/25 = 0.96; (1,1) vs (3,4) gives 7/(5√2) ≈ 0.989949 — a
    // non-terminating decimal that catches any HALF_UP divergence between
    // the streamed scorer and Spark's Round
    val docs = Seq(
      (100L, "benchmark item one", "ev"), (101L, "benchmark item two", "ev"),
      (1L, "train a1", "a"), (2L, "train a2", "a"),
      (3L, "train b1", "b"), (4L, "train b2 zero-norm", "b"))
      .toDF("doc_id", "text", "source")
    val emb = Seq(
      (100L, Array(3f, 4f)), (101L, Array(-1f, 0f)),
      (1L, Array(4f, 3f)),     // vs 100: 0.96; vs 101: -0.8 → max 960000
      (2L, Array(1f, 1f)),     // vs 100: 0.989949…; vs 101: -0.7071…
      (3L, Array(-2f, 0f)),    // vs 101: exactly 1 → 1000000
      (4L, Array(0f, 0f)))     // zero-norm: unscoreable, uncounted
      .toDF("vec_id", "embedding")
    val tmp = Files.createTempDirectory("semdecontam")
    val streamRows = emb.join(docs.select(col("doc_id").as("vec_id"),
      col("source")), Seq("vec_id"))
    streamRows.filter(col("vec_id") <= 2 || col("vec_id") >= 100)
      .coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    streamRows.filter(col("vec_id") === 3 || col("vec_id") === 4)
      .coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val stream = spark.readStream.schema(streamRows.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val minSim = 970000L
    val q = graft.streaming.EventStream
      .semanticDecontamMonitorStream(stream, docs, emb, "ev", minSim)
      .writeStream.format("memory").queryName("sem_decontam_mon")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    val streamed = spark.table("sem_decontam_mon").collect().map(key).toMap
    // the one-shot q180 rollup on the same corpus: per source, vectors
    // scored / flagged ≥ minSim / max similarity
    val batch = Similarity.semanticDecontam(docs, emb, "ev")
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("max_sim_micro") >= minSim, 1L).otherwise(0L)).as("n_flagged"),
        max("max_sim_micro").as("max_sim_micro"))
      .collect().map(key).toMap
    assert(streamed === batch)
    // hand-checked: source a = both vectors scored, only doc 2 (0.989949)
    // clears 0.97; source b = doc 3 exact hit (1.0), doc 4 zero-norm absent
    assert(streamed("a") === ((2L, 1L, 989949L)))
    assert(streamed("b") === ((1L, 1L, 1000000L)))
    assert(!streamed.contains("ev"), "benchmark shard must not self-flag")
  }

  test("streaming IVF-blocked semantic monitor: 2-batch streamed counters " +
    "equal the q183-op rollup at nprobe=2; full probe equals the brute " +
    "q180 rollup") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$Dir/documents.parquet")
    val emb = spark.read.parquet(s"$Dir/embeddings.parquet")
    val docSrc = docs.select(col("doc_id").as("vec_id"), col("source"))
    val rows = emb.join(docSrc, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("source"))
    val tmp = Files.createTempDirectory("ivfmon")
    rows.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    rows.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    def stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val minSim = 900000L
    def runMon(name: String, nprobe: Int) = {
      val q = graft.streaming.EventStream
        .ivfSemanticDecontamMonitorStream(stream, docs, emb, "src0",
          minSim, nprobe)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable()
      finally q.stop()
      spark.table(name).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    }
    // nprobe=2: n_vectors counts every scoreable train vector; flagged/max
    // roll up the batch IVF op (a vector whose probed cells hold no eval
    // contributes a null sim — flagged 0, max ignores it)
    val streamed = runMon("ivf_sem_mon", 2)
    val sqn = expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + double(x) * double(x))")
    val nVec = rows.filter(col("source") =!= "src0").filter(sqn > 0)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfSemanticDecontam(docs, emb, "src0", 2)
      .join(docSrc, Seq("vec_id")).groupBy("source")
      .agg(sum(when(col("max_sim_micro") >= minSim, 1L).otherwise(0L)).as("fl"),
        max("max_sim_micro").as("mx")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = nVec.map { case (src, n) =>
      val (fl, mx) = ivf.getOrElse(src, (0L, -1L))
      src -> ((n, fl, mx))
    }
    assert(streamed === expected, s"streamed $streamed != expected $expected")
    // full probe: every cell probed → the monitor IS the brute twin — its
    // counters equal the one-shot q180 rollup bit-for-bit
    val streamedFull = runMon("ivf_sem_mon_full", Similarity.IvfK)
    val brute = Similarity.semanticDecontam(docs, emb, "src0")
      .join(docSrc, Seq("vec_id")).groupBy("source")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("max_sim_micro") >= minSim, 1L).otherwise(0L)).as("fl"),
        max("max_sim_micro").as("mx")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamedFull === brute)
    assert(!streamed.contains("src0"), "benchmark shard must not self-flag")
  }

  test("streaming Gopher card equals the batch card after all batches " +
    "(state = one counter row per source)") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("gcard")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.gopherCardStream(stream)
      .writeStream.format("memory").queryName("gopher_card")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    val streamed = spark.table("gopher_card").collect().map(key).toMap
    val batch = Corpus.gopherQualityCard(docs).collect().map(key).toMap
    assert(streamed === batch)
  }

  test("streaming PII monitor equals the batch report after all batches") {
    import java.nio.file.Files
    val ss = spark; import ss.implicits._
    // the sf corpus is PII-free, so stream a crafted corpus with real hits
    val docs = Seq(
      (1L, "mail a@b.io or 10.0.0.1", "sa"), (2L, "call +123456789", "sa"),
      (3L, "clean", "sb"), (4L, "also 555-123-4567 here", "sb"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val tmp = Files.createTempDirectory("piistream")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.piiReportStream(stream)
      .writeStream.format("memory").queryName("pii_mon")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    val streamed = spark.table("pii_mon").collect().map(key).toMap
    val batch = Corpus.piiReport(docs).collect().map(key).toMap
    assert(streamed === batch)
    assert(streamed("sa")._2 + streamed("sb")._2 > 0L) // real hits streamed
  }

  test("streaming KMV sketch equals the batch sketch after all batches " +
    "(state = k longs per source)") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("kmvidx")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.kmvSketchStream(stream, 16)
      .writeStream.format("memory").queryName("kmv_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("kmv_idx")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).toMap
    val kmv = org.apache.spark.sql.functions.udaf(
      new Sketch.KmvAgg(16), org.apache.spark.sql.Encoders.scalaLong)
    val batch = docs
      .select(col("source"), Sketch.docContentHash(col("text")).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("kmv"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).toMap
    assert(streamed === batch)
    streamed.values.foreach(v => assert(v.length <= 16))
  }

  test("streaming inverted-index maintenance equals the batch build " +
    "(df + bottom-k posting prefix both merge across micro-batches)") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("invidx")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.invertedIndexStream(stream, 4, 16)
      .writeStream.format("memory").queryName("inv_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("inv_idx")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    val kmv = org.apache.spark.sql.functions.udaf(
      new Sketch.KmvAgg(16), org.apache.spark.sql.Encoders.scalaLong)
    val batch = docs
      .select(col("doc_id"), explode(Corpus.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 4).distinct()
      .groupBy("w").agg(count(lit(1)).as("df"), kmv(col("doc_id")).as("ids"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    assert(streamed === batch)
    streamed.values.foreach { case (_, ids) => assert(ids.length <= 16) }
  }

  test("stateful streaming sessionization equals batch across micro-batches") {
    import java.nio.file.Files
    val ev = OccurrenceView.events(spark, Dir)
    val mid = ev.selectExpr("CAST(percentile_approx(tsec, 0.5) AS BIGINT) AS m").head.getLong(0)
    val tmp = Files.createTempDirectory("evsess")
    // two time-ordered files → two micro-batches; state must carry across
    ev.filter(col("tsec") <= mid).coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100) // file-source orders batches by modification time
    ev.filter(col("tsec") > mid).coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*/")
    val withTs = OccurrenceView.normalizeTs(raw)
    val q = graft.streaming.EventStream.sessionize(spark, withTs)
      .writeStream.format("memory").queryName("ev_sess").outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ev_sess")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.SparkEntry.queries("q25_sessionize")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("sliding-window streaming counts equal the batch window aggregation") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("evslide")
    Files.copy(Paths.get(s"$Dir/events.parquet"),
      tmp.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val stream = graft.streaming.EventStream.slidingCounts(
      graft.streaming.EventStream.readEvents(spark, tmp.toString, schema))
    val q = stream.writeStream.format("memory")
      .queryName("ev_slide").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ev_slide").collect().map(_.toSeq).toSet
    val batch = OccurrenceView.events(spark, Dir)
      .groupBy(window(col("tstamp"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stream-static broadcast enrichment joins every event to its dimension row") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("evenrich")
    Files.copy(Paths.get(s"$Dir/events.parquet"),
      tmp.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val dim = OccurrenceView.events(spark, Dir)
      .groupBy("user_id").agg(count(lit(1)).as("user_total"))
    val stream = graft.streaming.EventStream.enriched(
      graft.streaming.EventStream.readEvents(spark, tmp.toString, schema), dim)
      .select("event_id", "user_id", "user_total")
    val q = stream.writeStream.format("memory")
      .queryName("ev_enrich").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("ev_enrich")
    assert(got.count() === OccurrenceView.events(spark, Dir).count())
    assert(got.filter(col("user_total").isNull).count() === 0)
  }

  test("streaming hourly counts equal the batch aggregation") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("evstream")
    Files.copy(Paths.get(s"$Dir/events.parquet"),
      tmp.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val stream = graft.streaming.EventStream.hourlyCounts(
      graft.streaming.EventStream.readEvents(spark, tmp.toString, schema))
    val q = stream.writeStream.format("memory")
      .queryName("ev_hourly").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ev_hourly")
      .collect().map(_.toSeq).toSet
    val batch = graft.SparkEntry.queries("q24_event_hourly")(spark, Dir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join equals the batch time-range join") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("evjoin")
    Files.copy(Paths.get(s"$Dir/events.parquet"),
      tmp.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val stream = graft.streaming.EventStream.clickErrorJoin(
      graft.streaming.EventStream.readEvents(spark, tmp.toString, schema))
    val q = stream.writeStream.format("memory")
      .queryName("ev_join").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ev_join").collect().map(_.toSeq).toSet
    val ev = OccurrenceView.events(spark, Dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("tsec").as("ct"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("eu"), col("tsec").as("et"))
    val batch = clicks.join(errors,
        col("user_id") === col("eu") &&
          col("et") >= col("ct") - 3600 && col("et") <= col("ct"))
      .select("click_id", "err_id", "user_id")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("triangleStats: a 3-clique of near-identical docs scores coefficient " +
    "1.0; a hub's spokes don't triangulate") {
    val ss = spark; import ss.implicits._
    val base = (0 until 60).map(i => s"common text body ${i % 7} alpha beta").mkString(" ")
    val docs = Seq(
      // three near-identical docs → a triangle, coefficient 1
      (1L, base + " one", "s"), (2L, base + " two", "s"), (3L, base + " three", "s"),
      // an unrelated doc → no edges at all
      (9L, (0 until 80).map(i => s"zq$i").mkString(" "), "s")
    ).toDF("doc_id", "text", "source").withColumn("n_chars", length(col("text")))
    val out = Dedup.triangleStats(docs, 0.5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    out.values.foreach { case (nTri, deg, cl) =>
      assert(nTri === 1L && deg === 2L && cl === 1000000L)
    }
  }

  test("ppjoinPairs: equals brute-force exact Jaccard on every pair; " +
    "partition-invariant; boilerplate tokens never enter a prefix") {
    val ss = spark; import ss.implicits._
    val vocab = (0 until 400).map(i => s"w$i")
    // every doc shares the same boilerplate head (a df=max trigram run);
    // pairs (2k, 2k+1) are near-identical tails, the rest unrelated
    val boiler = "copyright notice all rights reserved"
    def docTail(i: Long): String = {
      val r = new scala.util.Random(i / 2) // pair-mates share a seed
      val words = Seq.fill(30)(vocab(r.nextInt(vocab.size)))
      if (i % 2 == 0) words.mkString(" ")
      else (words.dropRight(1) :+ "changed").mkString(" ")
    }
    val docs0 = (0L until 40L).map(i => (i, s"$boiler ${docTail(i)}", "s"))
    val docs = docs0.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val got = canon(Dedup.ppjoinPairs(docs, 600000L))
    // brute force over ALL pairs — the recall oracle the prefix filter
    // must match exactly
    val sets = docs0.map { case (id, text, _) =>
      val toks = text.trim.split("\\s+")
      id -> toks.sliding(3).map(_.mkString(" "))
        .map(s => Dedup.cpFold(s, 2147483647L)).toSet
    }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      sa = sets(a); sb = sets(b)
      in = (sa & sb).size.toLong
      un = sa.size + sb.size - in
      jm = in * 1000000L / un if jm >= 600000L
    } yield (a, b) -> ((in, sa.size.toLong, sb.size.toLong, jm))).toMap
    assert(got === want, "prefix-filtered join diverged from brute force")
    assert(want.nonEmpty, "fixture produced no qualifying pairs")
    assert(want.size < (40 * 39) / 2, "fixture degenerate: everything matches")
    assert(canon(Dedup.ppjoinPairs(docs.repartition(7), 600000L)) === want,
      "result must not depend on partitioning")
  }

  test("triangles: skew dispatch — a hub-skewed graph (star + bounded " +
    "cliques) picks degree orientation, a uniform graph picks id; both " +
    "orientations enumerate the identical triangle set") {
    val ss = spark; import ss.implicits._
    // the graph the round-5 negative result said to re-measure on: one
    // template hub over 600 spokes, hub id MID-RANGE among its neighbors
    // (id-ordered wedge work at a node is #smaller-id × #larger-id
    // neighbors — an extreme-id hub costs nothing and would hide the
    // blowup) → 300×300 = 90,000 hub wedges for zero triangles; plus 40
    // disjoint 5-cliques (10 triangles each). A/B numbers:
    // `Lab time hub:id hub:degree`, recorded in the Dedup.triangles Scaladoc.
    val hubId = 500L
    val star = (1L to 300L).map(i => (i, hubId)) ++
      (1L to 300L).map(i => (hubId, hubId + i))
    val cliques = (0 until 40).flatMap { k =>
      val ids = (0 until 5).map(v => 1000L + 5L * k + v)
      for (i <- 0 until 5; j <- i + 1 until 5) yield (ids(i), ids(j))
    }
    val hub = (star ++ cliques).toDF("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dispatch rule: max_deg 600 > 4·√1000 ≈ 126 → degree-ordered
    assert(Dedup.triangleOrientation(hub) === "degree")
    // a uniform near-regular graph (ring + chords): max_deg ≈ mean ≪ 4·√m
    val n = 300L
    val ring = (0L until n).map(i => (math.min(i, (i + 1) % n), math.max(i, (i + 1) % n))) ++
      (0L until n).map(i => (math.min(i, (i + 7) % n), math.max(i, (i + 7) % n)))
    val uniform = ring.distinct.toDF("doc_a", "doc_b")
    assert(Dedup.triangleOrientation(uniform) === "id")
    // equivalence: both orientations, same 400 triangles (as id-sets)
    def triSet(mode: String) = Dedup.triangles(hub, mode).collect()
      .map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idT = triSet("id")
    val degT = triSet("degree")
    assert(idT.size === 400, s"expected 40 cliques x 10 triangles, got ${idT.size}")
    assert(idT === degT, "orientations disagree on the triangle set")
    hub.unpersist()
  }

  test("triangles under Lifecycle.planOnly builds its plan without " +
    "running a job (no orientation collect, no closure-probe count)") {
    val ss = spark; import ss.implicits._
    val hubId = 50L
    val star = (1L to 30L).map(i => (i, hubId)) ++ (1L to 30L).map(i => (hubId, hubId + i))
    val clique = for (i <- 0 until 5; j <- i + 1 until 5) yield (200L + i, 200L + j)
    val e = (star ++ clique).toDF("doc_a", "doc_b")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // the listener bus delivers in order: once a tagged job's start
    // arrives, every job started before it has arrived too
    def drain(tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains(tag), s"listener never saw the $tag job")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain("before")
      jobs.clear()
      graft.core.Lifecycle.planOnly = true
      try Dedup.triangles(e).queryExecution.analyzed
      finally graft.core.Lifecycle.planOnly = false
      drain("after")
      assert(jobs.toArray.count(_ != "after") === 0,
        s"plan-only triangles ran jobs: ${jobs.toArray.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("triangleCountsByIntersect equals both enumeration arms' per-node " +
    "counts on the hub fixture (round-11 counting core for the auto arm)") {
    val ss = spark; import ss.implicits._
    val hubId = 500L
    val star = (1L to 300L).map(i => (i, hubId)) ++
      (1L to 300L).map(i => (hubId, hubId + i))
    val cliques = (0 until 40).flatMap { k =>
      val ids = (0 until 5).map(v => 1000L + 5L * k + v)
      for (i <- 0 until 5; j <- i + 1 until 5) yield (ids(i), ids(j))
    }
    val e = (star ++ cliques).toDF("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionByName(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val got = Dedup.triangleCountsByIntersect(e, deg).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def viaEnumeration(mode: String) = Dedup.triangles(e, mode)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === viaEnumeration("degree"), "intersect != degree enumeration")
    assert(got === viaEnumeration("id"), "intersect != id enumeration")
    // 40 disjoint 5-cliques, 10 triangles each; every clique member sits in
    // C(4,2) = 6 of its clique's triangles; the star contributes none
    assert(got.size === 200 && got.values.forall(_ === 6L))
    e.unpersist()
  }

  test("triangle dispatch on an EMPTY edge list returns id and an empty " +
    "triangle stats result (max/sum over zero rows are null — the auto " +
    "path must coalesce, not NPE)") {
    val ss = spark; import ss.implicits._
    val empty = ss.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.triangleOrientation(empty) === "id")
    // the q117 shape end-to-end: a corpus whose candidate pairs are empty
    // (two unrelated docs above the similarity floor) previously crashed
    // inside the auto dispatch
    val docs = Seq(
      (1L, (0 until 80).map(i => s"aa$i").mkString(" "), "s"),
      (2L, (0 until 80).map(i => s"bb$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    assert(Dedup.triangleStats(docs, 0.99).count() === 0L)
  }

  test("simhashNearDup equals brute-force all-pairs Hamming <= 3 on an " +
    "uncapped fixture (the pigeonhole blocking loses nothing inside the " +
    "ball)") {
    val ss = spark; import ss.implicits._
    val base = (0 until 60).map(i => s"body token$i alpha beta gamma").mkString(" ")
    // three exact-dup clusters (Hamming 0), light perturbations (small
    // Hamming), and unrelated docs (far) — fixture stays under the band cap
    val docs = (0L until 30L).map { i =>
      val t = (i % 5) match {
        case 0 => base
        case 1 => base + " tail"
        case 2 => base + " other suffix words"
        case _ => (0 until 50).map(k => s"zz${i}w$k").mkString(" ")
      }
      (i, t, "s")
    }.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.simhashNearDup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val sh = docs.select(col("doc_id"), Dedup.simhash32(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      d = java.lang.Long.bitCount(sh(a) ^ sh(b)) if d <= 3
    } yield (a, b) -> d).toMap
    assert(got === want, "blocked join diverged from brute force")
    assert(want.nonEmpty, "fixture produced no near-dup pairs")
    assert(want.size < 30 * 29 / 2, "fixture degenerate: everything matches")
  }

  test("kCoreFromEdges peels a chain over multiple rounds, keeps the " +
    "clique, and fails loudly when rounds are too few") {
    val ss = spark; import ss.implicits._
    // 4-clique {1,2,3,4} (every member degree 3 inside) + a pendant chain
    // 4-5-6-7: the chain peels one node per k=2... at k=2 the chain tail
    // peels over THREE successive rounds (7, then 6, then 5), so a
    // single-round "peel" cannot fake convergence
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val core = Dedup.kCoreFromEdges(edges, 3, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "k=3 core must be exactly the clique with inside-degree 3")
    // k=2: the whole clique plus nothing of the chain (needs >= 3 rounds)
    val core2 = Dedup.kCoreFromEdges(edges, 2, 4).collect()
      .map(_.getLong(0)).toSet
    assert(core2 === Set(1L, 2L, 3L, 4L))
    // under-provisioned rounds: the convergence require must fire rather
    // than returning a half-peeled core
    intercept[IllegalArgumentException] {
      Dedup.kCoreFromEdges(edges, 2, 1)
    }
  }

  test("exactSubstringSpans matches a brute-force reference on a hand " +
    "corpus: shifted shared span recovered exactly, intra-doc runs count") {
    val ss = spark; import ss.implicits._
    val L = 20
    // 41 chars, no internal repeated 20-gram
    val shared = "the quick brown fox jumps over a lazy dog"
    val fixture = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"),
      (2L, "uvwxyz0123456789" + shared, "b"), // same span, shifted offset
      (3L, "entirely unrelated content with no repeats here", "c"),
      (4L, "z" * 25, "d")) // intra-doc: 'z'*20 repeats at 6 positions
    val docs = fixture.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.exactSubstringSpans(docs, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // independent brute-force reference with the same semantics
    val texts = fixture.map(t => t._1 -> t._2).toMap
    val grams = texts.toSeq.flatMap { case (id, t) =>
      (0 to t.length - L).map(i => (t.substring(i, i + L), id, i + 1)) }
    val dupG = grams.groupBy(_._1).filter(_._2.size > 1).keySet
    val expect = grams.filter(g => dupG(g._1)).groupBy(_._2).map {
      case (id, gs) =>
        val ps = gs.map(_._3).sorted
        val cov = L + ps.sliding(2).collect {
          case Seq(a, b) => math.min(L, b - a) }.sum
        id -> (ps.size.toLong, cov.toLong,
          cov.toLong * 1000000L / texts(id).length)
    }
    assert(out === expect)
    // union coverage is exactly the shared span's length at BOTH offsets
    assert(out(1L)._2 === shared.length.toLong)
    assert(out(2L)._2 === shared.length.toLong)
    assert(!out.contains(3L), "unique doc must not appear")
    // the z-run duplicates intra-doc: whole doc covered, frac == 10^6
    assert(out(4L) === ((6L, 25L, 1000000L)))
  }

  test("hashed 63-bit gram core is row-identical to the string arm " +
    "across the whole ExactSubstr family") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog"
    val docs = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"),
      (2L, "uvwxyz0123456789" + shared, "b"),
      (3L, shared + "KLMNOPQRST", "b"),
      (4L, "entirely unrelated content with no repeats here", "c"),
      (5L, "z" * 25, "d"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.exactSubstringSpans(docs, L, 63)) ===
      rows(Dedup.exactSubstringSpans(docs, L, 0)), "spans")
    assert(rows(Dedup.exactSubstringCut(docs, L, 63)) ===
      rows(Dedup.exactSubstringCut(docs, L, 0)), "cut")
    assert(rows(Dedup.spanLengthSpectrum(docs, L, 63)) ===
      rows(Dedup.spanLengthSpectrum(docs, L, 0)), "spectrum")
    assert(rows(Dedup.sourceDupProfile(docs, L, 63)) ===
      rows(Dedup.sourceDupProfile(docs, L, 0)), "profile")
    assert(rows(Dedup.substringFlow(docs, L, 63)) ===
      rows(Dedup.substringFlow(docs, L, 0)), "flow")
  }

  test("hashed-gram path refuses non-ASCII text loudly; string arm and " +
    "short-doc non-ASCII stay unaffected") {
    // the 63-bit key's q177 collision license + DuckDB oracle pairing were
    // measured on an ASCII corpus — windowGrams' octet_length guard makes
    // that envelope enforced instead of documented (VERDICT r9 #3)
    val ss = spark; import ss.implicits._
    val L = 20
    val ascii = (1L, "plain ascii body long enough to gram", "a")
    val accent = (2L, "résumé with an accented vowel payload!", "b")
    val docs = Seq(ascii, accent).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val e = intercept[Exception] {
      Dedup.exactSubstringSpans(docs, L, 63).collect()
    }
    def msg(t: Throwable): String = {
      val own = Option(t.getMessage).getOrElse("")
      if (t.getCause != null) own + " | " + msg(t.getCause) else own
    }
    assert(msg(e).contains("non-ASCII"), msg(e))
    // ground-truth string arm still serves non-ASCII corpora
    Dedup.exactSubstringSpans(docs, L, 0).collect()
    // a non-ASCII doc BELOW the gram length never enters the hashed path,
    // so it must not trip the guard
    val short = Seq(ascii, (3L, "héllo", "c")).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    Dedup.exactSubstringSpans(short, L, 63).collect()
  }

  test("substringHashAudit sees the classic base-31 collision at 32 bits " +
    "and the reversed-gram fold rescues it at 63; widths refine " +
    "monotonically; no cache entry survives the call") {
    val ss = spark; import ss.implicits._
    // "Aa" and "BB" are THE Java-hashCode collision (both 2112): one fold
    // merges them at any width <= 32; the reversed-gram fold ("aA" = 3072
    // vs "BB" = 2112) keeps the 63-bit key distinct
    val docs = Seq((1L, "Aa", "a"), (2L, "BB", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    // start from an empty SQL cache so the isEmpty assert below measures
    // THIS operator, not caller-owned persists from earlier tests
    ss.catalog.clearCache()
    val audit = Dedup.substringHashAudit(docs, 2, Seq(16, 24, 32, 63))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // string arm: the two grams differ -> zero exact dup positions
    assert(audit(32) === ((2L, 0L, 2L, 2L)),
      "32-bit arm must merge Aa/BB into a false duplicated pair")
    assert(audit(16) === ((2L, 0L, 2L, 2L)))
    assert(audit(63) === ((0L, 0L, 0L, 0L)),
      "63-bit arm must keep Aa/BB distinct")
    // key classes refine along 16 <= 24 <= 32 <= 63 (narrow widths are
    // quotients of the 63-bit key), so dup_pos is non-increasing
    val chain = Seq(16, 24, 32, 63).map(b => audit(b)._1)
    assert(chain === chain.sorted.reverse, s"non-monotone widths: $chain")
    // hashing only merges gram classes: hashed >= exact, pointwise
    audit.values.foreach { case (dup, exact, extra, _) =>
      assert(extra === dup - exact && extra >= 0L)
    }
    // structural lifecycle: withPersisted left nothing in the SQL cache
    assert(ss.sharedState.cacheManager.isEmpty,
      "substringHashAudit must not pin cache entries past the call")
  }

  test("substringDecontaminate flags exactly the train positions whose " +
    "window appears in the eval source; train-internal duplication is " +
    "NOT contamination; union coverage equals the leaked span") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog" // 41 chars
    val docs = Seq(
      (100L, "PREFIX----" + shared, "ev"),          // the benchmark doc
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"), // verbatim leak, shifted
      (2L, "entirely unrelated content with no repeats here", "b"),
      (3L, "x" * 25, "c"), (4L, "x" * 25, "c"))     // train-internal dup only
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.substringDecontaminate(docs, "ev", L).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val len1 = 10 + 41 + 10
    assert(got === Map(1L ->
      (("a", (shared.length - L + 1).toLong, shared.length.toLong,
        shared.length.toLong * 1000000L / len1))),
      s"train-internal dups or clean docs leaked into the report: $got")

    // the ACTION half: cutting removes exactly the reported span, clean
    // docs (and train-internal dups) pass verbatim, the eval row is gone,
    // and kept + covered == n_chars against the q178 measurement
    val cut = Dedup.substringDecontamCut(docs, "ev", L).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(!cut.contains(100L), "the benchmark's own row must be excluded")
    assert(cut(1L) === (("a", 1L, (len1 - shared.length).toLong,
      "abcdefghij" + "KLMNOPQRST")))
    assert(cut(2L)._4 === "entirely unrelated content with no repeats here")
    assert(cut(3L)._4 === "x" * 25 && cut(4L)._4 === "x" * 25,
      "train-internal duplication must not be cut")
    got.foreach { case (id, (_, _, covered, _)) =>
      assert(cut(id)._3 + covered ===
        docs.filter(col("doc_id") === id).head.getAs[Int]("n_chars").toLong,
        s"doc $id kept+covered != n_chars")
    }
  }

  test("semanticDecontam: nearest eval vector by exact packed argmax, " +
    "ties break to the smaller eval id, eval rows excluded") {
    val ss = spark; import ss.implicits._
    val docs = Seq((0L, "x", "ev"), (1L, "x", "ev"),
      (10L, "t", "a"), (11L, "t", "a"), (12L, "t", "a"))
      .toDF("doc_id", "text", "source")
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),   // eval
      (1L, Seq(0f, 1f, 0f, 0f), 0),   // eval
      (10L, Seq(2f, 0f, 0f, 0f), 0),  // parallel to eval 0 -> sim 1
      (11L, Seq(0f, 0f, 3f, 0f), 0),  // orthogonal to both -> sim 0, tie
      (12L, Seq(1f, 1f, 0f, 0f), 0))  // 1/sqrt(2) to both -> tie
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDecontam(docs, emb, "ev").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      10L -> ((0L, 1000000L)),
      11L -> ((0L, 0L)),       // tie at sim 0 -> min eval id
      12L -> ((0L, 707107L))), // round(1/sqrt(2), 6) micro, tie -> id 0
      s"got $got")
  }

  test("ivfSemanticDecontam: full probe (nprobe = IvfK) equals brute " +
    "semanticDecontam exactly; the recall sweep's full-probe row reads " +
    "10^6 and recall is monotone in nprobe") {
    // real sf0.001 corpus — the brute/IVF identity must hold on arbitrary
    // data, not a hand-placed fixture (every (train, eval) pair is present
    // at full probe and the score tokens are shared, so equality is exact)
    val docs = spark.read.parquet(s"$Dir/documents.parquet")
    val emb = spark.read.parquet(s"$Dir/embeddings.parquet")
    val brute = Similarity.semanticDecontam(docs, emb, "src0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    val full = Similarity
      .ivfSemanticDecontam(docs, emb, "src0", Similarity.IvfK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === brute, "full-probe IVF must be the brute result")
    val sweep = Similarity
      .ivfSemanticDecontamRecall(docs, emb, "src0",
        Seq(1, 4, Similarity.IvfK)).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (nTrain, nFound, nMatch, rec) = sweep(Similarity.IvfK)
    assert(nTrain === brute.size.toLong)
    assert(nFound === nTrain && nMatch === nTrain && rec === 1000000L,
      s"full-probe row must be perfect: $sweep")
    val recs = Seq(1, 4, Similarity.IvfK).map(np => sweep(np)._4)
    assert(recs === recs.sorted, s"recall must be monotone in nprobe: $recs")
    // the 1-probe arm must GENUINELY restrict the pair set: on this corpus
    // its argmax recall is well below 10⁶ (measured ~17% at sf0.01) — if
    // the rnk filter ever went always-true, recall would read 10⁶ here and
    // the monotone check above would pass vacuously too
    assert(sweep(1)._4 < 1000000L && sweep(1)._3 < nTrain,
      s"nprobe=1 arm behaves like full probe — rnk restriction broken: $sweep")
  }

  test("substringFlow counts distinct shared grams per source pair, " +
    "ignoring within-source duplication") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog"
    val docs = Seq(
      (1L, "abcdefghij" + shared, "a"),
      (2L, "uvwxyz0123456789" + shared, "b"),
      // same source as doc 2 — within-source duplication must not inflate
      (3L, shared + "KLMNOPQRST", "b"),
      (4L, "entirely unrelated content with no repeats here", "c"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.substringFlow(docs, L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // exactly the windows fully inside the shared span, once per pair
    assert(got === Map(("a", "b") -> (shared.length - L + 1).toLong))
  }

  test("spanLengthSpectrum reports merged island lengths: full shared " +
    "span at both offsets, intra-doc run as one span") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog" // 41 chars
    val docs = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"),
      (2L, "uvwxyz0123456789" + shared, "b"),
      (3L, "entirely unrelated content with no repeats here", "c"),
      (4L, "z" * 25, "d"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.spanLengthSpectrum(docs, L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shared span merges to one 41-char island in each of docs 1/2; the
    // z-run merges to one 25-char island
    assert(got === Map(41L -> 2L, 25L -> 1L))
  }

  test("sourceDupProfile splits duplicated positions internal vs " +
    "external and keeps dup-free sources with zero counts") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog"
    val docs = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"),
      (2L, "uvwxyz0123456789" + shared, "b"),
      (3L, "entirely unrelated content with no repeats here", "c"),
      (4L, "z" * 25, "d"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val got = Dedup.sourceDupProfile(docs, L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val n1 = 61 - L + 1; val n2 = 57 - L + 1; val n3 = 47 - L + 1
    assert(got === Map(
      "a" -> ((0L, 22L, n1.toLong, 22L * 1000000L / n1)),
      "b" -> ((0L, 22L, n2.toLong, 22L * 1000000L / n2)),
      "c" -> ((0L, 0L, n3.toLong, 0L)),
      "d" -> ((6L, 0L, 6L, 1000000L))))
  }

  test("lshParamTuner: identical pair scores 1.0 on every split; partial " +
    "pair recall is monotone in bands; s50 matches the analytic points") {
    val ss = spark; import ss.implicits._
    // identical pair -> J = 1.0 -> P = 1.0 for every (b, r)
    val same = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (2L, "alpha beta gamma delta epsilon zeta", "b"),
      (3L, "totally different words here now folks", "c"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val r1 = Dedup.lshParamTuner(same, 600000L).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(r1.keySet === Set((1, 8), (2, 4), (4, 2), (8, 1)))
    r1.values.foreach { case (n, exp, worst, _) =>
      assert(n === 1L); assert(exp === 1000000L); assert(worst === 1000000L)
    }
    assert(r1((1, 8))._4 === 1000000L)   // s50 = (1/1)^(1/8)
    assert(r1((2, 4))._4 === 840896L)    // (1/2)^(1/4)
    assert(r1((4, 2))._4 === 500000L)    // (1/4)^(1/2)
    assert(r1((8, 1))._4 === 125000L)    // (1/8)^1
    // partial-overlap pair: more bands (fewer rows) can only raise the
    // S-curve at any fixed J, so expected recall is monotone in bands
    val part = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "a"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val r2 = Dedup.lshParamTuner(part, 600000L).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(r2.size === 4)
    assert(r2((8, 1)) >= r2((4, 2)))
    assert(r2((4, 2)) >= r2((2, 4)))
    assert(r2((2, 4)) >= r2((1, 8)))
    assert(r2((1, 8)) > 0L && r2((8, 1)) < 1000000L)
  }

  test("dsirWeights: all-target corpus scores exactly zero everywhere; " +
    "disjoint-vocab corpus separates target-like from raw-like docs; " +
    "micro sums match the hand-computed two-LM log-ratio") {
    val ss = spark; import ss.implicits._
    val allEn = Seq(
      (1L, "x y x y x", "en"), (2L, "y x z x y", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    // ct == cr for every bucket when the target slice IS the corpus
    Corpus.dsirWeights(allEn, "en", 4096).collect()
      .foreach(r => assert(r.getLong(3) === 0L))

    val docs = Seq(
      (1L, "x y x y x", "en"), (2L, "x y z x y", "en"),
      (3L, "a b a b a", "fr"),
      (4L, "solo", "fr")) // featureless: must still get a neutral-0 row
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val got = Corpus.dsirWeights(docs, "en", 4096).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(4L) === (("fr", 0L, 0L)))
    // brute-force reference: same hashing, same per-feature micro-rounding
    def bucket(bg: String): Int = bg.hashCode & 4095
    val all = Seq(1L -> ("en", "x y x y x"), 2L -> ("en", "x y z x y"),
      3L -> ("fr", "a b a b a"))
    val bigrams = all.map { case (id, (lang, t)) =>
      val ts = t.split("\\s+"); (id, lang, ts.indices.dropRight(1)
        .map(i => bucket(ts(i) + " " + ts(i + 1))))
    }
    val cr = bigrams.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val ct = bigrams.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size).toMap
    val nr = cr.values.sum.toDouble; val nt = ct.values.sum.toDouble
    def micro(f: Int): Long = {
      val v = math.log((ct.getOrElse(f, 0) + 1.0) / (nt + 4096.0)) -
        math.log((cr(f) + 1.0) / (nr + 4096.0))
      BigDecimal(BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    bigrams.foreach { case (id, lang, fs) =>
      val (gl, gn, gw) = got(id)
      assert(gl === lang); assert(gn === fs.size.toLong)
      assert(gw === fs.map(micro).sum)
    }
    // disjoint vocab: the en docs lean target, the fr doc leans raw
    assert(got(1L)._3 > 0L && got(2L)._3 > 0L && got(3L)._3 < 0L)
  }

  test("gopherQualityCard: each rule fires on exactly its crafted doc, " +
    "clean doc keeps, attribution lands in the right fail column") {
    val ss = spark; import ss.implicits._
    def words(n: Int, len: Int, pre: String): Seq[String] =
      (1 to n).map(i => (pre + i.toString).padTo(len, 'x').take(len))
    val clean = ("the a " + words(58, 6, "w").mkString(" "), "sa")
    val short = ("the a " + words(8, 6, "w").mkString(" "), "sb")
    val longw = ("the a " + words(58, 12, "l").mkString(" "), "sc")
    val nostop = (words(60, 6, "n").mkString(" "), "sd")
    val bigram = ("the a " + Seq.fill(29)("alpha beta").mkString(" "), "se")
    val nums = ("the a " + words(45, 6, "w").mkString(" ") + " " +
      (111 to 123).map(_.toString).mkString(" "), "sf")
    val docs = Seq(clean, short, longw, nostop, bigram, nums).zipWithIndex
      .map { case ((t, src), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val got = Corpus.gopherQualityCard(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    //                 (f_wc, f_mwl, f_sw, f_bg, f_aw, n_keep)
    assert(got("sa") === ((0L, 0L, 0L, 0L, 0L, 1L)))
    assert(got("sb") === ((1L, 0L, 0L, 0L, 0L, 0L)))
    assert(got("sc") === ((0L, 1L, 0L, 0L, 0L, 0L)))
    assert(got("sd") === ((0L, 0L, 1L, 0L, 0L, 0L)))
    assert(got("se") === ((0L, 0L, 0L, 1L, 0L, 0L)))
    assert(got("sf") === ((0L, 0L, 0L, 0L, 1L, 0L)))
  }

  test("lpaFromEdges: bridge between two cliques does NOT merge them " +
    "(unlike CC), two-node pair converges under the self-vote, labels " +
    "settle to community minima") {
    val ss = spark; import ss.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L), (4L, 11L), // bridge
      (21L, 22L)) // bare pair: synchronous LPA without self-vote swaps forever
      .toDF("doc_a", "doc_b")
    val got = Dedup.lpaFromEdges(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L,
      21L -> 21L, 22L -> 21L))
  }

  test("lpaFromEdges bounded arm equals the exact arm wherever degree " +
    "fits the sample, and a > 2^20-degree hub RUNS instead of failing") {
    val ss = spark; import ss.implicits._
    // (a) equality below the sample size: the clique/bridge/pair fixture
    // has max degree 5 << maxVotes = 8, so every neighbor is sampled
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L),
      (12L, 14L), (13L, 14L), (4L, 11L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val exact = Dedup.lpaFromEdges(edges, 4, "exact").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val bounded = Dedup.lpaFromEdges(edges, 4, "bounded", 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(bounded === exact)
    // (b) the exact arm must still refuse the hub loudly...
    val n = (1L << 20) + 8L
    val hub = ss.range(1, n).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    intercept[IllegalArgumentException] {
      Dedup.lpaFromEdges(hub, 1, "exact")
    }
    // ...(c) while auto dispatches to bounded votes and the star
    // converges: every leaf sees {self, hub-label 0} and the min-label
    // tie-break adopts 0; the hub's sampled votes all carry 0 by then
    val lab = Dedup.lpaFromEdges(hub, 2)
    assert(lab.count() === n, "every node must keep a label")
    assert(lab.filter(col("community") =!= 0L).count() === 0L,
      "star must converge to the hub's community")
  }

  test("ngramDiversityCard: counts/TTR/entropy match the hand-computed " +
    "distribution; single-gram level has zero entropy; empty levels absent") {
    val ss = spark; import ss.implicits._
    val docs = Seq((1L, "x x y", "a"), (2L, "x y", "a"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    def nano(c: Long, bigN: Long): Long = {
      val v = -(c.toDouble / bigN) * math.log(c.toDouble / bigN)
      BigDecimal(BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1000000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val got = Corpus.ngramDiversityCard(docs, 5).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // n=1: {x:3, y:2}; n=2: {"x x":1, "x y":2}; n=3: {"x x y":1}; n>=4 empty
    assert(got.keySet === Set(1, 2, 3))
    assert(got(1) === ((5L, 2L, 400000L, nano(3, 5) + nano(2, 5))))
    assert(got(2) === ((3L, 2L, 666666L, nano(1, 3) + nano(2, 3))))
    assert(got(3) === ((1L, 1L, 1000000L, 0L)))
  }

  test("piiScrub: email/ip/phone counted and replaced with typed " +
    "placeholders; report aggregates per source with char deltas") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "contact me at john.doe+spam@example.co.uk or 192.168.0.1 ok", "sa"),
      (2L, "call +12345678901 now or 555-123-4567", "sa"),
      (3L, "nothing here", "sb"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val sc = Corpus.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(6)))).toMap
    assert(sc(1L) === ((1L, 1L, 0L, "contact me at <EMAIL> or <IP> ok")))
    assert(sc(2L) === ((0L, 0L, 2L, "call <PHONE> now or <PHONE>")))
    assert(sc(3L) === ((0L, 0L, 0L, "nothing here")))
    val rep = Corpus.piiReport(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val in1 = docs.filter(col("source") === "sa")
      .agg(sum(length(col("text")))).collect()(0).getLong(0)
    val out1 = ("contact me at <EMAIL> or <IP> ok".length
      + "call <PHONE> now or <PHONE>".length).toLong
    assert(rep("sa") === ((2L, 2L, 1L, 1L, 2L, in1, out1)))
    assert(rep("sb") === ((1L, 0L, 0L, 0L, 0L, 12L, 12L)))
  }

  test("keepLongestCanonical keeps the longest cluster member (not the " +
    "min-id one), counts the policy delta, passes singletons through") {
    val ss = spark; import ss.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, "sa"),                 // near-dup of 2, SHORTER
      (2L, base + " extratail", "sb"),  // the longest copy -> kept
      (3L, "completely different words here making no duplicate at all " +
        (1 to 20).map(i => s"x$i").mkString(" "), "sc"),
      (4L, (1 to 30).map(i => s"y$i").mkString(" "), "sd"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    // precondition: 1 and 2 really form one cluster under the q47 labels
    val lbl = Dedup.duplicateClusters(docs, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl(1L) === 1L && lbl(2L) === 1L && lbl(3L) === 3L && lbl(4L) === 4L)
    val got = Dedup.keepLongestCanonical(docs, 0.5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(!got.contains("sa")) // the shorter near-dup copy is dropped
    assert(got("sb")._1 === 1L && got("sb")._3 === 1L) // kept, policy differs
    assert(got("sc") === ((1L, got("sc")._2, 0L)))
    assert(got("sd") === ((1L, got("sd")._2, 0L)))
  }

  test("vocabGrowthCurve: each token billed to its FIRST decile, " +
    "cumulative docs/tokens/vocab exact on a one-new-word-per-doc corpus") {
    val ss = spark; import ss.implicits._
    // 10 docs, ids 0..9 -> decile == doc_id; doc 0 = "w0 w0",
    // doc i = "wi w0": exactly one NEW word per decile
    val docs = (0 to 9).map(i =>
      (i.toLong, if (i == 0) "w0 w0" else s"w$i w0", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val got = Corpus.vocabGrowthCurve(docs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === (0 to 9).toSet)
    (0 to 9).foreach { d =>
      assert(got(d) === (((d + 1).toLong, 2L * (d + 1), (d + 1).toLong)))
    }
  }

  test("zipfSlope: an exact freq = C/rank corpus fits slope -1, r2 = 1, " +
    "intercept = ln(C)") {
    val ss = spark; import ss.implicits._
    // freqs 24, 12, 8, 6 = 24/rank for ranks 1..4 -> ln-ln line is exact
    val text = (List.fill(24)("w1") ++ List.fill(12)("w2") ++
      List.fill(8)("w3") ++ List.fill(6)("w4")).mkString(" ")
    val docs = Seq((1L, text, "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val r = Corpus.zipfSlope(docs, 100).collect()(0)
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === -1.0)
    assert(r.getDouble(3) === 1.0)
    assert(math.abs(r.getDouble(2) - 3.178054) < 1e-9) // round(ln 24, 6)
  }

  test("softDedupWeights: every doc keeps 10^6 div cluster_size; " +
    "clusters sum to ~one document of weight, singletons keep full weight") {
    val ss = spark; import ss.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, "sa"), (2L, base + " tail", "sb"), // one 2-cluster
      (3L, (1 to 30).map(i => s"y$i").mkString(" "), "sc")) // singleton
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val got = Dedup.softDedupWeights(docs, 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((1L, 2L, 500000L)))
    assert(got(2L) === ((1L, 2L, 500000L)))
    assert(got(3L) === ((3L, 1L, 1000000L)))
  }

  test("dsirHashAudit: a collision-free arm is bit-identical to the exact " +
    "LM (diff 0, full sign agreement); coarser hashing only hurts") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha", "en"),
      (2L, "alpha gamma beta alpha beta", "en"),
      (3L, "delta epsilon delta epsilon delta", "fr"),
      (4L, "epsilon delta zeta epsilon delta", "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val got = Corpus.dsirHashAudit(docs, "en", Seq(4, 4096)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // ~8 distinct bigrams into 4096 buckets: no collisions (deterministic
    // for this fixture under the Java hash) -> the arm IS the exact LM
    assert(got(4096) === ((4L, 0L, 4L)))
    // 4 buckets force collisions: strictly worse on both columns (the
    // sign-agreement bound must be STRICT — "<= full agreement" is
    // vacuously true for any value)
    assert(got(4)._1 === 4L)
    assert(got(4)._2 > 0L && got(4)._3 < got(4096)._3)
  }

  test("degenerate inputs: LPA on an empty edge list returns empty " +
    "(bounds check must not NPE on null aggregates), keep-longest on an " +
    "all-singleton corpus keeps everything with zero delta, the hash " +
    "audit on an all-target corpus reads zero diff and full agreement") {
    val ss = spark; import ss.implicits._
    // empty edges: max/min aggregates yield nulls — the coalesce guard
    // (round-7 ADVICE class) must return empty, not throw
    val noEdges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.lpaFromEdges(noEdges, 4).collect().isEmpty)

    val singletons = Seq(
      (1L, (1 to 30).map(i => s"a$i").mkString(" "), "sa"),
      (2L, (1 to 30).map(i => s"b$i").mkString(" "), "sb"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val kept = Dedup.keepLongestCanonical(singletons, 0.5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(kept === Map("sa" -> ((1L, 0L)), "sb" -> ((1L, 0L))))

    // all-target corpus: every arm's LM equals the raw LM -> all weights
    // are exactly 0 on both sides of every comparison
    val allEn = Seq(
      (1L, "x y x y x", "en"), (2L, "y x z x y", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val audit = Corpus.dsirHashAudit(allEn, "en", Seq(4, 4096)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(audit(4) === ((2L, 0L, 2L)))
    assert(audit(4096) === ((2L, 0L, 2L)))
  }

  test("clusterSpectrum partitions the corpus exactly: sigma n_docs == " +
    "corpus size, sigma n_clusters == distinct labels, sizes consistent") {
    val docs = OccurrenceView.documents(spark, Dir)
    val spec = Dedup.clusterSpectrum(docs, 0.5).collect()
    assert(spec.nonEmpty)
    spec.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1),
        s"row $r: n_docs != cluster_size * n_clusters") }
    assert(spec.map(_.getLong(2)).sum === docs.count(),
      "spectrum does not partition the corpus")
    val labels = Dedup.duplicateClusters(docs, 0.5)
    assert(spec.map(_.getLong(1)).sum ===
      labels.select("cluster_id").distinct().count(),
      "cluster count mismatch vs the q47 labels")
    // the corpus is known to contain near-dups: some cluster has size >= 2
    assert(spec.exists(_.getLong(0) >= 2L), "no multi-doc cluster found")
  }

  test("exactSubstringCut removes exactly the measured spans: cleaned " +
    "text matches a brute-force mask cut, kept + covered == n_chars") {
    val ss = spark; import ss.implicits._
    val L = 20
    val shared = "the quick brown fox jumps over a lazy dog"
    val fixture = Seq(
      (1L, "abcdefghij" + shared + "KLMNOPQRST", "a"),
      (2L, "uvwxyz0123456789" + shared, "b"),
      (3L, "entirely unrelated content with no repeats here", "c"),
      (4L, "z" * 25, "d"))
    val docs = fixture.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.exactSubstringCut(docs, L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // brute-force reference: boolean cover mask, cut masked chars
    val texts = fixture.map(t => t._1 -> t._2).toMap
    val grams = texts.toSeq.flatMap { case (id, t) =>
      (0 to t.length - L).map(i => (t.substring(i, i + L), id, i)) }
    val dupG = grams.groupBy(_._1).filter(_._2.size > 1).keySet
    val expect = texts.map { case (id, t) =>
      val mask = Array.fill(t.length)(false)
      grams.filter(g => g._2 == id && dupG(g._1))
        .foreach(g => (g._3 until g._3 + L).foreach(mask(_) = true))
      val cleaned = t.zipWithIndex.collect {
        case (c, i) if !mask(i) => c }.mkString
      val spans = t.indices.count(i => mask(i) && (i == 0 || !mask(i - 1)))
      id -> ((spans.toLong, cleaned.length.toLong, cleaned))
    }
    assert(out === expect)
    // cross-gate with the MEASUREMENT half: kept + covered == n_chars
    val covered = Dedup.exactSubstringSpans(docs, L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    covered.foreach { case (id, cov) =>
      assert(out(id)._2 + cov === texts(id).length.toLong,
        s"doc $id kept+covered != len") }
    assert(out(3L)._3 === texts(3L), "untouched doc must pass verbatim")
    assert(out(4L)._3 === "", "fully-duplicated doc must clean to empty")
  }

  test("missedPairsFromEdges predicts exactly the non-edges with enough " +
    "common-neighbor support") {
    val ss = spark; import ss.implicits._
    // C4 {1-3, 2-3, 1-4, 2-4}: diagonals (1,2)/(3,4) have 2 common
    // neighbors; star 5-(6,7,8): spoke pairs share only the center
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L)).toDF("doc_a", "doc_b")
    // sketch wide enough to hold every adjacency: exact semantics
    val got = Dedup.missedPairsFromEdges(edges, 2, 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map((1L, 2L) -> 2L, (3L, 4L) -> 2L))
    val s1 = Dedup.missedPairsFromEdges(edges, 1, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // support 1 admits the spoke pairs; existing edges never appear
    assert(s1 === Set((1L, 2L), (3L, 4L), (6L, 7L), (6L, 8L), (7L, 8L)))
    intercept[IllegalArgumentException](
      Dedup.missedPairsFromEdges(edges, 0, 8))
    intercept[IllegalArgumentException](
      Dedup.missedPairsFromEdges(edges, 1, 1))
  }

  test("missedPairsFromEdges neighbor sketch bounds the wedge fan-out to " +
    "the B lowest-hash neighbors of each middle") {
    val ss = spark; import ss.implicits._
    // star: center 100 with 10 spokes — a B=3 sketch must emit exactly
    // C(3,2) spoke pairs, among the 3 spokes the injective LCG ranks first
    val spokes = (1L to 10L)
    val edges = spokes.map(s => (100L, s)).toDF("doc_a", "doc_b")
    val got = Dedup.missedPairsFromEdges(edges, 1, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val keep = spokes.sortBy(d => (d * 1103515245L + 12345L) % 2147483648L)
      .take(3).sorted
    val expect = (for {
      i <- keep.indices; j <- i + 1 until keep.size
    } yield (keep(i), keep(j)) -> 1L).toMap
    assert(got === expect, s"sketch kept wrong spokes (expected $keep)")
  }

  test("lshMissAudit emits only non-candidate pairs, every one with its " +
    "support and exact Jaccard in range") {
    val docs = OccurrenceView.documents(spark, Dir)
    val out = Dedup.lshMissAudit(docs, 0.5, 2).collect()
    val edges = Dedup.lshCandidatePairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty, "corpus produced no predicted pairs")
    out.foreach { r =>
      val p = (r.getLong(0), r.getLong(1))
      assert(p._1 < p._2, s"pair $p not canonically ordered")
      assert(!edges(p), s"pair $p is already a candidate edge")
      assert(r.getLong(2) >= 2, s"pair $p below the support threshold")
      val j = r.getLong(3)
      assert(j >= 0 && j <= 1000000, s"pair $p jacc_micro $j out of range")
    }
  }

  test("simhashCalibration covers the candidate population exactly and " +
    "every cell's mean sits inside its own decile") {
    val docs = OccurrenceView.documents(spark, Dir)
    val m = Dedup.simhashCalibration(docs, 0.5).collect()
    assert(m.nonEmpty, "corpus produced no calibration cells")
    // population: every capped-LSH candidate pair whose BOTH docs carry a
    // fingerprint (length > 4) lands in exactly one cell
    val fp = docs.filter(length(col("text")) > 4).select("doc_id")
    val expected = Dedup.lshCandidatePairs(docs, 0.5)
      .join(fp.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(fp.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .count()
    assert(m.map(_.getAs[Long]("n_pairs")).sum === expected)
    m.foreach { r =>
      val (h, d) = (r.getAs[Int]("hamming"), r.getAs[Long]("ex_decile"))
      val (n, s) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("sum_ex_micro"))
      assert(h >= 0 && h <= 32, s"hamming $h out of fingerprint range")
      assert(d >= 0 && d <= 10, s"decile $d out of range")
      // cell mean must lie in the decile's own micro-Jaccard band — the
      // aggregation can't mix pairs across deciles
      assert(s >= n * d * 100000 && s <= n * (d * 100000 + 99999),
        s"cell ($h,$d) sum $s outside its decile band for $n pairs")
    }
  }

  test("winnowing is alignment-free: a shared ≥11-char substring is found " +
    "at ANY offset, where fixed chunk boundaries would shift") {
    val ss = spark; import ss.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, "AAAA " + shared + " BBBB", "a"),
      // same substring, arbitrarily shifted by a long unrelated prefix —
      // every fixed-width chunk boundary moves, winnowed fingerprints of
      // the shared region do not
      (2L, ("x" * 137) + " " + shared + " CCCC", "b"),
      (3L, "zq jk wv xy qz kj vw yx zq jk wv xy qz kj vw yx", "c")
    ).toDF("doc_id", "text", "source").withColumn("n_chars", length(col("text")))
    val fp = Dedup.winnowFingerprints(docs)
    val f1 = fp.filter(col("doc_id") === 1).select("fph").collect().map(_.getLong(0)).toSet
    val f2 = fp.filter(col("doc_id") === 2).select("fph").collect().map(_.getLong(0)).toSet
    val f3 = fp.filter(col("doc_id") === 3).select("fph").collect().map(_.getLong(0)).toSet
    // the SIGMOD'03 guarantee: ≥ |shared| − (K+W−1) + 1 shared windows →
    // plenty of common fingerprints despite the shift
    assert((f1 & f2).size >= 3, s"shared region lost: ${(f1 & f2).size}")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty,
      "disjoint-alphabet doc shares fingerprints — hash degeneracy")
    val pairs = Dedup.winnowOverlapPairs(docs, 3, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("containmentBlockedPairs finds the quoted-snippet pair the LSH " +
    "route misses (recall independent of the doc size ratio)") {
    val ss = spark; import ss.implicits._
    // a 20-token doc quoted verbatim inside a 2000-token doc: containment
    // 1.0 but Jaccard ~1% — far below any band-collision reach
    val snippet = (0 until 20).map(i => s"alpha$i").mkString(" ")
    val filler = (0 until 2000).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, snippet, "a"),
      (2L, filler + " " + snippet, "b"),
      (3L, (0 until 50).map(i => s"gamma$i").mkString(" "), "c")
    ).toDF("doc_id", "text", "source")
    val viaLsh = Dedup.containmentPairs(docs, 0.5, 0.8)
      .filter((col("doc_a") === 1 && col("doc_b") === 2) ||
        (col("doc_a") === 2 && col("doc_b") === 1))
    assert(viaLsh.count() === 0,
      "LSH candidates unexpectedly reached the size-skewed pair — the " +
        "dedicated pass no longer demonstrates its recall win")
    val blocked = Dedup.containmentBlockedPairs(docs, 0.8, 50)
      .filter(col("doc_a") === 1 && col("doc_b") === 2).collect()
    assert(blocked.length === 1)
    assert(blocked(0).getAs[Double]("contain_a") === 1.0)
    // and no false positive: the unrelated doc pairs with nothing
    assert(Dedup.containmentBlockedPairs(docs, 0.8, 50)
      .filter(col("doc_a") === 3 || col("doc_b") === 3).count() === 0)
  }

  test("kmeansStep conserves vectors and integer mass across cells") {
    val emb = OccurrenceView.embeddings(spark, Dir)
    val step = Similarity.kmeansStep(emb).cache()
    assert(step.agg(sum("n_vecs")).head.getLong(0) === emb.count())
    // Σ per-cell s1 must equal the corpus-wide quantized mass (assignment
    // moves rows between cells, never changes their contribution)
    val total = emb.select(
      sum(expr("aggregate(transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS LONG)), " +
        "0L, (a, b) -> a + b)"))).head.getLong(0)
    assert(step.agg(sum("s1")).head.getLong(0) === total)
    step.unpersist()
  }

  test("semanticDedup drops exact duplicates cell-locally, keeps the earliest id") {
    val ss = spark; import ss.implicits._
    def vec(axis: Int, sign: Float): Seq[Float] =
      (0 until 64).map(i => if (i == axis) sign else 0.0f)
    // v0 and v1 identical (cosine 1, tie-assigned to the lower cell);
    // v2 and v3 are each their own centroid in distinct cells
    val emb = Seq(
      (0L, vec(0, 1f), 0), (1L, vec(0, 1f), 0),
      (2L, vec(1, 1f), 1), (3L, vec(1, -1f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(emb, 0.9).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // (cell -> (n_vecs, n_kept, kept_sum, n_dropped))
    assert(out(0) === ((2L, 1L, 0L, 1L))) // v1 dropped, v0 kept
    assert(out(2) === ((1L, 1L, 2L, 0L)))
    assert(out(3) === ((1L, 1L, 3L, 0L)))
    assert(!out.contains(1)) // cell 1 empty (v1 tie-broke into cell 0)
  }

  test("ingestDedup flags new docs duplicating the corpus, nulls the novel ones") {
    val ss = spark; import ss.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different content with no shared shingles whatsoever here"
    val docs = Seq(
      (0L, t1, "s"), (1L, t2, "s"),          // corpus
      (10L, t1, "s"),                         // new, exact dup of 0
      (11L, "zqx wvu tsr ponm lkj ihg fed cba nothing alike", "s")) // novel
      .toDF("doc_id", "text", "source")
    val out = Dedup.ingestDedup(
      docs.filter($"doc_id" < 10), docs.filter($"doc_id" >= 10), 0.5)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out === Map(10L -> Some(0L), 11L -> None))
  }

  test("hardNegatives picks the best different-label neighbour bucket-locally") {
    val ss = spark; import ss.implicits._
    def v(scale0: Float, scale1: Float): Seq[Float] =
      (0 until 64).map(i => if (i == 0) scale0 else if (i == 1) scale1 else 0.0f)
    val v0 = v(1f, 0f); val v1 = v(0.9f, 0.1f); val v2 = v(-1f, 0f)
    // verify the geometric setup with the driver-side bucket function
    assert(Similarity.bucketOf(v0) === Similarity.bucketOf(v1))
    assert(Similarity.bucketOf(v0) !== Similarity.bucketOf(v2))
    val emb = Seq((0L, v0, 0), (1L, v1, 1), (2L, v2, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getInt(3)))).toMap
    // v0 and v1 are mutual hard negatives; v2 is alone in its bucket
    assert(out === Map(0L -> ((1L, 1)), 1L -> ((0L, 0))))
  }

  test("PQ: codes in range; a codebook vector ADC-matches itself at distance 0") {
    val emb = OccurrenceView.embeddings(spark, Dir)
    val codes = Similarity.pqEncode(emb).cache()
    val mins = codes.agg(
      least((0 until Similarity.PqM).map(m => min(col(s"c$m"))): _*),
      greatest((0 until Similarity.PqM).map(m => max(col(s"c$m"))): _*)).head
    assert(mins.getInt(0) >= 0 && mins.getInt(1) < Similarity.PqK)
    // vec 0's slices ARE subspace centroids (sampled codebook), so its own
    // ADC distance is exactly 0 and it must lead its own top-k
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    val top = Similarity.pqTopK(emb, qv, 3).collect()
    assert(top.head.getLong(0) === 0L)
    assert(top.head.getDouble(2) === 0.0)
    codes.unpersist()
  }

  test("ivfPqRecallSweep: the full-probe row isolates pure quantization " +
      "error and equals pqRecall exactly") {
    // nprobe = IvfK probes every cell, so probe truncation vanishes and
    // the composed audit must degenerate to the PQ-only audit (q151) —
    // per query, hit-for-hit; a divergence means the probed arm's
    // ADC/packing mechanics drifted from pqRecallSweep's
    val emb = OccurrenceView.embeddings(spark, Dir)
    val sweep = Similarity.ivfPqRecallSweep(emb, 5, Seq(2, Similarity.IvfK))
      .cache()
    val full = sweep.filter(col("nprobe") === Similarity.IvfK)
      .select("query_id", "n_hits", "recall_micro")
    val pqOnly = Similarity.pqRecall(emb, 5)
    assert(full.exceptAll(pqOnly).count() === 0)
    assert(pqOnly.exceptAll(full).count() === 0)
    // every (query, nprobe) arm emits exactly one row
    val nq = emb.filter(col("vec_id") % 100 === 0).count()
    assert(sweep.count() === 2 * nq)
    // truncated probing can only lose recall vs full probing, never gain
    // beyond k hits; recall stays within [0, 1e6]
    val rng = sweep.agg(min("recall_micro"), max("recall_micro")).head
    assert(rng.getLong(0) >= 0L && rng.getLong(1) <= 1000000L)
    sweep.unpersist()
  }

  test("lshAnnRecallSweep: radius = NumPlanes admits every bucket and " +
      "reads recall 1.0 for every query") {
    val emb = OccurrenceView.embeddings(spark, Dir)
    val sweep = Similarity.lshAnnRecallSweep(emb, 5,
      Seq(1, Similarity.NumPlanes)).cache()
    val nq = emb.filter(col("vec_id") % 100 === 0).count()
    val full = sweep.filter(col("radius") === Similarity.NumPlanes)
    assert(full.count() === nq)
    assert(full.filter(col("recall_micro") =!= 1000000L).count() === 0,
      "full-radius arm must equal brute force exactly")
    // the radius-1 arm (q33's probe set) emits at most one row per query
    // and never exceeds full recall
    assert(sweep.filter(col("radius") === 1).count() <= nq)
    sweep.unpersist()
  }

  test("funnel: stages must occur strictly after the previous stage") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full
      (2L, "click", 9L), (2L, "view", 10L),         // click precedes view
      (3L, "purchase", 1L),                         // never viewed
      (4L, "view", 10L), (4L, "click", 10L))        // equal time ≠ after
      .toDF("user_id", "event_type", "tmicro")
    val out = EventAnalytics.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0),
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4)))).toMap
    assert(out(1L) === ((Some(10L), Some(20L), Some(30L), 3)))
    assert(out(2L) === ((Some(10L), None, None, 1)))
    assert(out(3L) === ((None, None, None, 0)))
    assert(out(4L) === ((Some(10L), None, None, 1)))
  }

  test("retentionCohorts: triangle counts from first-active-day cohorts") {
    val ss = spark; import ss.implicits._
    val day = 86400000000L
    val ev = Seq(
      (1L, 0L * day), (1L, 0L * day + 5L), (1L, 1L * day), (1L, 3L * day),
      (2L, 1L * day))
      .toDF("user_id", "tmicro")
    val out = EventAnalytics.retentionCohorts(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out === Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L))
  }

  test("DataQuality.audit counts orphans, pk dups, and nulls (null fk is an " +
    "orphan — anti-join semantics, not NOT IN)") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dqaudit").toString
    Seq((1L, "n")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, Some(1L)), (2L, Some(99L)), (2L, None: Option[Long]))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1L, 1, Some("d")), (7L, 5L, 1L, 1, None: Option[String]))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "p")).toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    Seq((1L, "s")).toDF("s_suppkey", "s_name")
      .write.parquet(s"$dir/supplier.parquet")
    val out = DataQuality.audit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map(
      "orders_orphan_custkey" -> 2L,   // fk 99 + the NULL fk
      "lineitem_orphan_orderkey" -> 1L,
      "lineitem_orphan_partkey" -> 1L,
      "lineitem_orphan_suppkey" -> 0L,
      "orders_dup_orderkey" -> 1L,
      "lineitem_dup_pk" -> 0L,
      "orders_null_custkey" -> 1L,
      "lineitem_null_shipdate" -> 1L))
  }

  test("cdcMerge: latest seq wins per key, delete beats earlier update") {
    val ss = spark; import ss.implicits._
    val snapshot = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val changes = Seq((2L, "y2", 1, "u"), (2L, "y3", 2, "u"), (3L, "", 2, "d"))
      .toDF("doc_id", "text", "seq", "op")
    val out = Changelog.cdcMerge(snapshot, changes).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out === Map(1L -> ((md5hex("x"), 0)), 2L -> ((md5hex("y3"), 2))))
  }

  test("eventsInRegimes: carry-forward assignment matches interval semantics " +
    "and conserves the event total") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "view", 1L), (3L, 30L, "click", 1L),
      (4L, 40L, "view", 1L), (5L, 15L, "click", 2L))
      .toDF("event_id", "tmicro", "event_type", "user_id")
    val out = EventAnalytics.eventsInRegimes(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getLong(3))).toMap
    assert(out === Map(
      (1L, 10L, "view") -> 2L, (1L, 30L, "click") -> 1L,
      (1L, 40L, "view") -> 1L, (2L, 15L, "click") -> 1L))
    assert(out.values.sum === 5L) // every event lands in exactly one regime
  }

  test("scd2Intervals: regime rows with half-open validity, open tail") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "view", 1L), (3L, 30L, "click", 1L),
      (4L, 40L, "view", 1L), (5L, 15L, "click", 2L))
      .toDF("event_id", "tmicro", "event_type", "user_id")
    val out = EventAnalytics.scd2Intervals(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(2)),
        (r.getString(1), Option(r.get(3))))).toMap
    assert(out === Map(
      (1L, 10L) -> (("view", Some(30L))),
      (1L, 30L) -> (("click", Some(40L))),
      (1L, 40L) -> (("view", None)),
      (2L, 15L) -> (("click", None))))
  }

  test("stateful streaming funnel equals the batch ordered funnel") {
    import java.nio.file.Files
    val ev = OccurrenceView.events(spark, Dir)
    val mid = ev.selectExpr("CAST(percentile_approx(tsec, 0.5) AS BIGINT) AS m").head.getLong(0)
    val tmp = Files.createTempDirectory("evfun")
    ev.filter(col("tsec") <= mid).coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    ev.filter(col("tsec") > mid).coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*/")
    val withT = OccurrenceView.normalizeTs(raw)
    val q = graft.streaming.EventStream
      .funnelStream(spark, withT, ("view", "click", "purchase"))
      .writeStream.format("memory").queryName("ev_funnel")
      .outputMode("update").start()
    try q.processAllAvailable()
    finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      (Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    // snapshots only refine (timestamps set once, stage monotone) → the
    // per-user max over update-mode rows is the final state
    val streamed = spark.table("ev_funnel")
      .groupBy("user_id").agg(max("t1").as("t1"), max("t2").as("t2"),
        max("t3").as("t3"), max("stage").as("stage"))
      .collect().map(r => (key(r), r.getInt(4))).toSet
    val batch = EventAnalytics.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (key(r), r.getInt(4))).toSet
    assert(streamed === batch)
  }

  test("streaming Bloom bit maintenance equals the batch bit set (state ≤ m)") {
    import java.nio.file.Files
    val docs = OccurrenceView.documents(spark, Dir)
    val tmp = Files.createTempDirectory("bloombits")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(s"$Dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.bloomBits(stream)
      .writeStream.format("memory").queryName("bloom_bits")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("bloom_bits")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Sketch.bloomPositionRows(docs)
      .groupBy("pos").agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.size <= Sketch.BloomM)
  }

  test("pointInTimeFeatures: strictly-earlier trailing window, no same-" +
    "second leakage, lag honors event_id tiebreak") {
    val ss = spark; import ss.implicits._
    val ev = Seq(
      (10L, 1L, "view", 1000L),
      (11L, 1L, "click", 1000L),  // same second as 10 → excluded from its rw
      (12L, 1L, "view", 2500L),   // 1500s later: within 1h of both
      (13L, 1L, "buy", 9999L),    // > 1h after everything
      (20L, 2L, "view", 1000L))   // other user, invisible to user 1
      .toDF("event_id", "user_id", "event_type", "tsec")
    val out = EventAnalytics.pointInTimeFeatures(ev).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(10L) === (("none", -1L, 0L)))
    assert(out(11L) === (("view", 0L, 0L))) // same-second peer NOT counted
    assert(out(12L) === (("click", 1500L, 2L)))
    assert(out(13L) === (("view", 7499L, 0L))) // window expired
    assert(out(20L) === (("none", -1L, 0L)))
  }

  test("temporalEmbargoSplit: empty input yields an empty split frame, " +
    "not an exception; embargo window drops the gap events") {
    val ss = spark; import ss.implicits._
    val empty = Seq.empty[(Long, Long, String, Long)]
      .toDF("event_id", "user_id", "event_type", "tsec")
    val out0 = EventAnalytics.temporalEmbargoSplit(empty, 60L)
    assert(out0.columns.toSeq === Seq("split", "event_type", "n"))
    assert(out0.collect().isEmpty)
    // 10 events: cut at the ceil(0.8*10)=8th (tsec 800); 840 falls inside
    // the 60s embargo and is dropped; 900/1000 are test
    val ev = (1L to 7L).map(i => (i, 1L, "a", i * 100L)) ++
      Seq((8L, 1L, "a", 800L), (9L, 1L, "a", 840L), (10L, 1L, "b", 900L))
    val out = EventAnalytics.temporalEmbargoSplit(
      ev.toDF("event_id", "user_id", "event_type", "tsec"), 60L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("train", "a") -> 8L, ("test", "b") -> 1L))
  }

  test("watermark drops late events: a row older than the advanced " +
    "watermark never reaches its finalized hourly window") {
    import java.nio.file.Files
    val ss = spark; import ss.implicits._
    def evDf(rows: (Long, Long, String)*) =
      rows.toDF("event_id", "sec", "event_type")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
        .drop("sec")
    val tmp = Files.createTempDirectory("evlate")
    // Watermark semantics pinned by this test (measured, not assumed): a
    // late row merges into its window as long as the window's STATE is
    // still live — the watermark is a lower bound for dropping, not an
    // exact cutoff — so the drop needs the late row to arrive in a batch
    // AFTER the one whose start-of-batch watermark evicted the window.
    // b1 seeds hour 0; b2 (03:00) raises the watermark to 02:00 at its
    // end; b3 runs under wm=02:00 → hour-0 state evicted + emitted (n=1);
    // b4's 00:20 row then finds no state and sits behind the watermark →
    // dropped, and hour 0 is NOT re-emitted (append-mode exactly-once).
    evDf((1L, 600L, "view")).coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100) // file-source orders batches by modification time
    evDf((2L, 3600L * 3, "view")).coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    Thread.sleep(1100)
    evDf((4L, 3600L * 3 + 600, "view")).coalesce(1)
      .write.parquet(tmp.resolve("b3").toString)
    Thread.sleep(1100)
    evDf((3L, 1200L, "view")).coalesce(1)
      .write.parquet(tmp.resolve("b4").toString)
    val schema = spark.read.parquet(tmp.resolve("b1").toString).schema
    val raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.hourlyCounts(
        OccurrenceView.normalizeTs(raw))
      .writeStream.format("memory").queryName("ev_late")
      .outputMode("append").start()
    val dropped =
      try {
        q.processAllAvailable()
        q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq)
          .flatMap(_.toSeq).map(_.numRowsDroppedByWatermark).sum
      } finally q.stop()
    val rows = spark.table("ev_late")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    // hour 0 finalized ONCE with only the on-time event; hour 3 still open
    // (the watermark never passed 04:00), so unemitted
    assert(rows === Map("1970-01-01 00" -> 1L))
    assert(dropped === 1L, s"expected exactly the one late row dropped, got $dropped")
  }

  test("streaming IVF cell-index maintenance equals the batch cell stats " +
    "(state bounded by the IvfK codebook cells)") {
    import java.nio.file.Files
    val emb = OccurrenceView.embeddings(spark, Dir)
    val cents = Similarity.ivfCentroids(emb)
    val tmp = Files.createTempDirectory("ivfstream")
    // two micro-batches split by id parity — the index must merge across
    emb.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Thread.sleep(1100)
    emb.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    val schema = spark.read.parquet(tmp.resolve("b1").toString).schema
    val raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*/")
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cell", Similarity.ivfCellCol(spark, cents))
      .withColumn("c0",
        round(expr("element_at(embedding, 1)").cast("double") * 1e6, 0).cast("long"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum("c0").as("sum_c0_micro"))
    val q = stats(raw).writeStream.format("memory").queryName("ivf_idx")
      .outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ivf_idx").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = stats(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.size <= Similarity.IvfK,
      "index state must stay bounded by the codebook size")
  }

  test("native session_window equals the hand-rolled 30-min gap " +
    "sessionization on per-user session and event counts") {
    val ev = OccurrenceView.events(spark, Dir)
    val got = ev
      .groupBy(col("user_id"), session_window(col("tstamp"), "30 minutes"))
      .agg(count(lit(1)).as("ne"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("ne").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.SparkEntry.queries("q25_sessionize")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // boundary caveat: session_window's window is [t, t+gap) — an event at
    // EXACTLY t+gap opens a new session, while q25's `gap > 1800` keeps it;
    // equality here proves the testdata has no exact-boundary gap AND the
    // two formulations agree everywhere else
    assert(got === want)
  }

  test("dropDuplicatesWithinWatermark: in-window duplicates collapse, a " +
    "duplicate beyond the watermark delay re-emits (bounded dedup state)") {
    import java.nio.file.Files
    val ss = spark; import ss.implicits._
    def evDf(rows: (Long, Long, String, Double)*) =
      rows.toDF("event_id", "sec", "event_type", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val tmp = Files.createTempDirectory("evdwm")
    // b0/b1 repeat ("view", 1.0) 30 min apart → in-window duplicates, one
    // survives (WHICH one is batch-order-dependent — not the semantics
    // under test); b2 advances the watermark to 02:00, past the entry's
    // event-time + 1h expiry; b3 is a padding batch whose commit REMOVES
    // the expired entry (expiry is applied at end-of-batch, a semantics
    // this test pins deliberately); b4 then repeats ("view", 1.0) → state
    // gone, re-emits: bounded state, window-bounded dedup
    Seq(
      Seq((1L, 0L, "view", 1.0)),
      Seq((2L, 1800L, "view", 1.0)),
      Seq((3L, 3600L * 3, "click", 2.0)),
      Seq((5L, 3600L * 3 + 60, "click", 3.0)),
      Seq((4L, 3600L * 3 + 1800, "view", 1.0))
    ).zipWithIndex.foreach { case (rows, i) =>
      if (i > 0) Thread.sleep(1100)
      evDf(rows: _*).coalesce(1).write.parquet(tmp.resolve(s"b$i").toString)
    }
    val schema = spark.read.parquet(tmp.resolve("b0").toString).schema
    val raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*/")
    val q = graft.streaming.EventStream.dedupStreamBounded(
        OccurrenceView.normalizeTs(raw))
      .select("event_id")
      .writeStream.format("memory").queryName("ev_dwm")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("ev_dwm").collect().map(_.getLong(0)).toSet
    assert(got.intersect(Set(1L, 2L)).size === 1,
      s"exactly one of the in-window duplicates must survive, got $got")
    assert(got.contains(3L) && got.contains(5L), s"distinct keys must pass, got $got")
    assert(got.contains(4L),
      s"the repeat BEYOND the watermark delay must re-emit (state evicted), got $got")
  }
}
