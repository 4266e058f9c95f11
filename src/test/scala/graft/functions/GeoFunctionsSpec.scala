package graft.functions

import graft.core.Projections
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Column-math projections must agree with the pure-Scala core library —
  * guards refactors of either side (the oracle only checks the Column path).
  */
class GeoFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("geofn-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("JavaHashExpr: codegen expression matches String.hashCode exactly") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(5)
    val keys = Seq("", "0:0", "4326:0:0:6:12:34", "ünïcode-ключ", "a") ++
      Seq.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(30)).mkString) ++
      Seq.fill(100)(s"${rnd.nextInt(100)}:${rnd.nextInt(7)}:${rnd.nextInt(64)}")
    val got = keys.toDF("k")
      .select(col("k"), JavaHashExpr.of(col("k")).as("h"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach(k => assert(got(k) === k.hashCode, s"key '$k'"))
    // and the plan stays codegen (native expression, not a UDF)
    val plan = keys.toDF("k").select(JavaHashExpr.of(col("k")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("GramKeyExpr: one-pass 63-bit key equals the composed " +
    "javaHash(gram)/javaHash(reverse(gram)) form, codegen, no UDF") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(9)
    val keys = Seq("", "Aa", "BB", "the quick brown fox jumps over a lazy") ++
      Seq.fill(500)(rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString)
    val got = keys.toDF("gram")
      .select(col("gram"), GramKeyExpr.of(col("gram")).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      val h1u = k.hashCode.toLong & 0xFFFFFFFFL
      val h2u = k.reverse.hashCode.toLong & 0xFFFFFFFFL
      val expect = h1u * 2147483648L + h2u % 2147483648L
      assert(got(k) === expect, s"gram '$k'")
    }
    // the classic one-fold collision stays separated by the pair
    assert(got("Aa") !== got("BB"))
    val plan = keys.toDF("gram").select(GramKeyExpr.of(col("gram")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("GramKeyExpr non-ASCII: BMP graphemes keep DuckDB-oracle parity; " +
    "astral keeps the surrogate-aware composed-form identity") {
    val ss = spark
    import ss.implicits._
    // the DuckDB mirror (SparkEntry.gramHash63Sql): base-31 fold of
    // unicode(c) per grapheme, forward and over reverse(s) — for
    // single-code-point BMP graphemes that is a code-point fold both ways
    def fold31(cps: Seq[Int]): Long =
      cps.foldLeft(0L)((a, b) => (a * 31 + b) % 4294967296L)
    def duckMirror(s: String): Long = {
      val cps = s.codePoints().toArray.toSeq
      fold31(cps) * 2147483648L + fold31(cps.reverse) % 2147483648L
    }
    val bmp = Seq("résumé dataset", "naïve café", "straße", "中文数据集合",
      "ünïcode-ключ текст", "ελληνικά κείμενα", "mixed ascii + ümlaut")
    val astral = Seq("emoji 😀 payload", "𝔸math𝔹",
      "pair😀😁pair")
    val got = (bmp ++ astral).toDF("gram")
      .select(col("gram"), GramKeyExpr.of(col("gram")).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // BMP (no combining marks, no surrogates): engine key == oracle fold,
    // so an oracle-paired hashed-arm query would stay byte-exact on such
    // a corpus — this is the parity the windowGrams guard protects
    bmp.foreach(s => assert(got(s) === duckMirror(s), s"BMP parity '$s'"))
    // astral: the composed-form identity holds with the surrogate-aware
    // reverse (StringBuilder.reverse keeps pairs in order)...
    astral.foreach { s =>
      val h1u = s.hashCode.toLong & 0xFFFFFFFFL
      val rev = new java.lang.StringBuilder(s).reverse.toString
      val h2u = rev.hashCode.toLong & 0xFFFFFFFFL
      assert(got(s) === h1u * 2147483648L + h2u % 2147483648L,
        s"astral composed form '$s'")
      // ...and genuinely differs from both the naive unit-wise reverse
      // (positive control: the surrogate-aware walk changes the result —
      // NOTE Scala's String.reverse is itself surrogate-aware via
      // java StringBuilder, so true unit-wise needs the char array)
      // and the DuckDB code-point fold (why the hashed path guards ASCII)
      val naive = new String(s.toCharArray.reverse).hashCode.toLong & 0xFFFFFFFFL
      assert(got(s) !== h1u * 2147483648L + naive % 2147483648L,
        s"unit-wise reverse should diverge on '$s'")
      assert(got(s) !== duckMirror(s), s"oracle fold should diverge on '$s'")
    }
  }

  test("pixelAtMaxZoom clamps plottable boundary coordinates into the grid") {
    val ss = spark; import ss.implicits._
    val gpx = 512L << 16
    val pts = Seq(
      (-90.0, 180.0), (90.0, -180.0),                        // 4326 corners
      (-Projections.MercatorMaxLatitude, 180.0),             // 3857 rim
      (Projections.MercatorMaxLatitude, -180.0),
      (0.0, 100.0), (0.0, -80.0),                            // 3575 rim (dl=±π/2)
      (0.0, 10.0), (0.0, -170.0)).toDF("lat", "lng")         // 3031 rim
    Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031").foreach { epsg =>
      val maxX = if (epsg == "EPSG:4326") 2 * gpx else gpx // 4326: 2×1 scheme
      val (px, py) = GeoFunctions.pixelAtMaxZoom(epsg, col("lat"), col("lng"), 16, 512)
      val rows = pts.filter(GeoFunctions.isPlottable(epsg, col("lat"), col("lng")))
        .select(px.as("px"), py.as("py")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(0) >= 0 && r.getLong(0) < maxX, s"$epsg px ${r.getLong(0)}")
        assert(r.getLong(1) >= 0 && r.getLong(1) < gpx, s"$epsg py ${r.getLong(1)}")
      }
    }
    // the 4326 far corner lands exactly on the clamped last pixel
    val (px4, py4) = GeoFunctions.pixelAtMaxZoom("EPSG:4326", col("lat"), col("lng"), 16, 512)
    val corner = Seq((-90.0, 180.0)).toDF("lat", "lng")
      .select(px4.as("px"), py4.as("py")).head
    assert(corner.getLong(0) === 2 * gpx - 1 && corner.getLong(1) === gpx - 1)
  }

  test("JavaHashExpr.of constant-folds a literal key, no UDF") {
    val df = spark.range(1).select(JavaHashExpr.of(lit("0:0")).as("h"))
    assert(df.head.getInt(0) === "0:0".hashCode)
    // native + deterministic ⇒ Catalyst folds literal inputs at plan time
    // (a UDF never would)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("0:0".hashCode.toString), opt)
    assert(!opt.toLowerCase.contains("javahashexpr"), opt)
    assert(!opt.contains("ScalaUDF"), opt)
  }

  test("DotProductExpr.of is bit-identical to the driver fold, null-safe") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(11)
    def vec(n: Int) = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
    val pairs = Seq.fill(300)((vec(64), vec(64))) ++
      Seq((vec(64), vec(32)), (null, vec(64)), (vec(64), null)) // malformed
    val df = pairs.toDF("a", "b")
    val got = df.select(
      graft.operators.Similarity.dotCols(col("a"), col("b")).as("d")).collect()
    pairs.zip(got).foreach { case ((a, b), row) =>
      if (a == null || b == null || a.length != b.length) assert(row.isNullAt(0))
      else {
        var d = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
        assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(d))
      }
    }
    // native expression — no UDF in the plan
    val plan = df.select(graft.operators.Similarity.dotCols(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // and over literal arrays
    val r = spark.range(1).select(DotProductExpr.of(
      array(lit(1.5f), lit(2.0f)), array(lit(3.0f), lit(0.5f)))).head.getDouble(0)
    assert(r === 5.5)
  }

  test("Column pixelAtMaxZoom matches core toGlobalPixelXY for all 4 SRS") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(99)
    val pts = Seq.fill(2000)((rnd.nextDouble() * 168 - 84, rnd.nextDouble() * 358 - 179))
    val df = pts.toDF("lat", "lng")
    Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031").foreach { epsg =>
      val proj = Projections.fromEpsg(epsg, 512)
      val (px, py) = GeoFunctions.pixelAtMaxZoom(epsg, col("lat"), col("lng"), 16, 512)
      val got = df.filter(GeoFunctions.isPlottable(epsg, col("lat"), col("lng")))
        .select(col("lat"), col("lng"), px.as("px"), py.as("py"))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val (gx, gy) = proj.toGlobalPixelXY(r.getDouble(0), r.getDouble(1), 16)
        // core and Column paths use different literal folding; allow 1 pixel
        // of slack only at exact floor boundaries (none expected in practice)
        assert(math.abs(math.floor(gx).toLong - r.getLong(2)) <= 1,
          s"$epsg px core=${math.floor(gx).toLong} col=${r.getLong(2)} @ $r")
        assert(math.abs(math.floor(gy).toLong - r.getLong(3)) <= 1,
          s"$epsg py core=${math.floor(gy).toLong} col=${r.getLong(3)} @ $r")
      }
    }
  }
}
