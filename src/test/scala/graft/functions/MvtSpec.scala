package graft.functions

import graft.functions.Mvt.PixelFeature
import org.scalatest.funsuite.AnyFunSuite

class MvtSpec extends AnyFunSuite {

  private val sample = Seq(
    PixelFeature(10, 20, 0, 2001, 5),
    PixelFeature(10, 20, 0, 2002, 3),
    PixelFeature(10, 20, 1, 2001, 7),
    PixelFeature(511, 0, 0, 0, 2),
    PixelFeature(0, 511, 2, 1995, 11))

  test("encode/decode roundtrip preserves pixels, years, counts, totals") {
    val bytes = Mvt.encodeTile(sample, 512)
    val decoded = Mvt.decodeTile(bytes)
    // layer per borId
    assert(decoded.map(_.layer).distinct.sorted === Seq("bor0", "bor1", "bor2"))
    // per-pixel totals
    val d0 = decoded.find(f => f.layer == "bor0" && f.x == 10 && f.y == 20).get
    assert(d0.yearCounts === Map(2001 -> 5L, 2002 -> 3L))
    assert(d0.total === 8L)
    val d2 = decoded.find(_.layer == "bor2").get
    assert(d2.x === 0 && d2.y === 511 && d2.total === 11L)
    // global conservation
    assert(decoded.map(_.total).sum === sample.map(_.count).sum)
  }

  test("encoding is deterministic regardless of input order") {
    val a = Mvt.encodeTile(sample, 512)
    val b = Mvt.encodeTile(scala.util.Random.shuffle(sample), 512)
    assert(a.toSeq === b.toSeq)
  }

  test("decoder survives foreign spec-valid fields (Feature.id varint, " +
    "float Value fields) by skipping on wire type") {
    // hand-built minimal tile from a hypothetical foreign encoder:
    //   layer{ name="L", keys=["total"], values=[Value{float(2)=1.5f},
    //   Value{uint(4)=7}], extent=512,
    //   feature{ id(1,varint)=5, tags=[0,1], geom=MoveTo(3,4) } }
    class B {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def vint(v: Long): B = { var x = v
        while ((x & ~0x7fL) != 0) { buf += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
        buf += x.toByte; this }
      def raw(bs: Array[Byte]): B = { buf ++= bs; this }
      def field(f: Int, body: B): B =
        { vint((f << 3) | 2); vint(body.buf.length.toLong); buf ++= body.buf; this }
    }
    val tags = new B().vint(0L).vint(1L)
    val geom = new B().vint(9L).vint(6L).vint(8L) // MoveTo zig(3), zig(4)
    val feature = new B()
      .vint((1 << 3) | 0).vint(5L)                // id = 5 (wire type 0!)
      .field(2, tags)
      .vint((3 << 3) | 0).vint(1L)                // type = POINT
      .field(4, geom)
    val vFloat = new B()
      .vint((2 << 3) | 5).raw(Array[Byte](0, 0, -64, 63)) // float 1.5 LE
    val vUint = new B().vint((4 << 3) | 0).vint(7L)
    val layer = new B()
      .field(1, new B().raw("L".getBytes("UTF-8")))
      .field(2, feature)
      .field(3, new B().raw("total".getBytes("UTF-8")))
      .field(4, vFloat)
      .field(4, vUint)
      .vint((5 << 3) | 0).vint(512L)
    val tile = new B().field(3, layer)
    val decoded = Mvt.decodeTile(tile.buf.toArray)
    assert(decoded.length === 1)
    val f = decoded.head
    assert(f.layer === "L" && f.x === 3 && f.y === 4)
    assert(f.total === 7L) // tag pair (key 0 = "total", value 1 = uint 7)
  }

  test("property: roundtrip conserves totals and feature counts (100 random tiles)") {
    val rnd = new scala.util.Random(42)
    val years = Seq(0, 1990, 2000, 2020)
    (1 to 100).foreach { _ =>
      val fs0 = Seq.fill(rnd.nextInt(200))(PixelFeature(
        rnd.nextInt(512), rnd.nextInt(512), rnd.nextInt(4),
        years(rnd.nextInt(years.size)), 1L + rnd.nextInt(1000)))
      // one (pixel,bor,year) appears once — dedup like the upstream groupBy
      val fs = fs0.groupBy(f => (f.x, f.y, f.borId, f.year))
        .map { case (_, g) => g.head.copy(count = g.map(_.count).sum) }.toSeq
      val decoded = Mvt.decodeTile(Mvt.encodeTile(fs, 512))
      assert(decoded.map(_.total).sum === fs.map(_.count).sum)
      assert(decoded.size === fs.map(f => (f.x, f.y, f.borId)).distinct.size)
    }
  }

  // ------------------------------------------------------- golden fixtures
  // Wire-format interop proof: the reference ships REAL production tiles
  // (common/src/test/resources/tiles/*.mvt, captured from the live density
  // API and a raw store export — see the readme there) encoded by the
  // ecosystem encoder (no.ecc.vectortile). Decoding them with OUR hand-rolled
  // reader and reproducing the reference's own invariants
  // (AggregationsTest.java:35-93, YearFilteringTest.java:37-88) proves the
  // codec is wire-compatible, not merely self-consistent.

  private val FixtureDir = "/root/reference/common/src/test/resources/tiles"
  // a missing fixture fails the test with ONE line naming the directory,
  // not a raw NoSuchFileException stack
  private def fixture(name: String): Array[Byte] = {
    val p = java.nio.file.Paths.get(FixtureDir, name)
    if (!java.nio.file.Files.isRegularFile(p))
      fail(s"golden MVT fixture $name missing: directory $FixtureDir " +
        (if (java.nio.file.Files.isDirectory(p.getParent)) "lacks it"
         else "does not exist (the reference's production tiles are not vendored)"))
    java.nio.file.Files.readAllBytes(p)
  }
  private val TileSize = 512 // GBIF tile size of the captured tiles

  test("golden: all six production fixtures decode; API tiles carry the " +
    "merged 'occurrence' layer, the raw store export the " +
    "layer-per-basisOfRecord layout (VectorTiles.java:38-82)") {
    for (n <- Seq("3_8_2.mvt", "4_16_4.mvt", "4_16_5.mvt", "4_17_4.mvt",
                  "4_17_5.mvt")) {
      val fs = Mvt.decodeTile(fixture(n))
      assert(fs.nonEmpty, s"$n decoded to zero features")
      assert(fs.map(_.layer).distinct === Seq("occurrence"), s"$n layers")
      // sint_value decode sanity: a zigzag misread would halve/negate counts
      assert(fs.forall(_.total >= 0), s"$n has negative totals")
      assert(fs.map(_.total).sum > 0, s"$n all-zero totals (value-type misread)")
    }
    val raw = Mvt.decodeTile(fixture("publishingCountry-FR-3-8-2.mvt"))
    assert(raw.map(_.layer).distinct.sorted === Seq("FOSSIL_SPECIMEN",
      "HUMAN_OBSERVATION", "LIVING_SPECIMEN", "MATERIAL_SAMPLE", "OBSERVATION",
      "PRESERVED_SPECIMEN", "UNKNOWN"), "raw export layer-per-bor layout")
    // store-grain tiles have per-year attrs only — the "total" attribute is
    // added by the serving filter pass, exactly as in the reference
    assert(raw.forall(_.total === 0L), "raw export should carry no 'total'")
    assert(raw.map(_.yearCounts.values.sum).sum > 0, "raw export year counts")
  }

  test("golden: parent z3 tile total equals the sum of its z4 children " +
    "(AggregationsTest.testTotalAggregation)") {
    // buffer-region features (coords outside [0, tileSize)) are excluded,
    // exactly as the reference's TotalFromTile does
    def total(name: String): Long =
      Mvt.decodeTile(fixture(name))
        .filter(f => f.x >= 0 && f.y >= 0 && f.x < TileSize && f.y < TileSize)
        .map(_.total).sum
    val parent = total("3_8_2.mvt")
    val children = total("4_16_4.mvt") + total("4_16_5.mvt") +
      total("4_17_4.mvt") + total("4_17_5.mvt")
    assert(parent > 0)
    assert(parent === children)
  }

  test("golden: verbose year-sum equals total on every API fixture " +
    "(AggregationsTest.testTotalVerbose)") {
    // the raw store export carries no "total" attr (see the layout test),
    // so the invariant applies to the five served tiles
    for (n <- Seq("3_8_2.mvt", "4_16_4.mvt", "4_16_5.mvt", "4_17_4.mvt",
                  "4_17_5.mvt")) {
      val fs = Mvt.decodeTile(fixture(n))
      val yearSum = fs.iterator.map(_.yearCounts.values.sum).sum
      val total = fs.iterator.map(_.total).sum
      assert(total > 0, s"$n zero total")
      assert(yearSum === total, s"$n year-sum $yearSum != total $total")
    }
  }

  test("golden: year filter through OUR encoder equals the verbose slice " +
    "(YearFilteringTest.testSingleYearFilter analog)") {
    // Decode the raw store export, re-encode ONLY year 2018 with our encoder,
    // decode again: filtered feature count and total must equal the 2018
    // slice of the unfiltered verbose tile.
    val raw = Mvt.decodeTile(fixture("publishingCountry-FR-3-8-2.mvt"))
    val unfiltered2018 = raw.filter(_.yearCounts.contains(2018))
    val wantFeatures = unfiltered2018.size.toLong
    val wantTotal = unfiltered2018.map(_.yearCounts(2018)).sum
    assert(wantFeatures > 0 && wantTotal > 0)

    // layer separation must survive the re-encode: the raw export has one
    // feature per (basisOfRecord layer, x, y), and distinct layers can
    // share a pixel — collapsing them to one borId would merge features
    val borOf = raw.map(_.layer).distinct.sorted.zipWithIndex.toMap
    val refiltered = raw.flatMap { f =>
      f.yearCounts.get(2018).map(c => PixelFeature(f.x, f.y, borOf(f.layer), 2018, c))
    }
    val out = Mvt.decodeTile(Mvt.encodeTile(refiltered, TileSize))
    assert(out.size.toLong === wantFeatures)
    assert(out.map(_.total).sum === wantTotal)
  }
}
