package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketch operators. A count-min sketch answers frequency point
  * queries over an unbounded token stream in O(d·w) space: the shuffle
  * carries AT MOST d·w counter cells per map partition regardless of corpus
  * size (partial aggregation collapses the exploded probes map-side), which
  * is the whole point at 100 TB — heavy-hitter detection without ever
  * materializing the vocabulary. Estimates only over-count (each cell is a
  * sum over colliding tokens; min across the d rows takes the least-collided
  * one), so `est ≥ true` always.
  *
  * All hashing is the repo's 31-polynomial mod 2^31−1 convention
  * ([[Dedup.M]]) — integer-exact in any engine.
  */
object Sketch {

  /** Sketch geometry: d independent rows × w slots. w is deliberately tiny
    * here so the test corpus (31 distinct tokens) actually collides and the
    * min-of-rows behavior is exercised; production sizing is w ≈ e/ε
    * (e.g. 2^16 slots for ±ε·N with ε ≈ 4·10⁻⁵), still cluster-trivial.
    */
  val W = 16
  val D = 4
  // the first D pairs of the repo-wide affine hash family (Dedup.As/Bs) —
  // the q82/q84 oracle VALUES lists mirror these per repo convention
  private val As = Dedup.As.take(D)
  private val Bs = Dedup.Bs.take(D)

  /** 31-polynomial string hash mod M over code points (Dedup.cpFold —
    * matches the oracle's per-character UTF-8 fold for all Unicode).
    */
  private val tokenHashUdf = udf { (w: String) =>
    if (w == null) null
    else java.lang.Long.valueOf(Dedup.cpFold(w, Dedup.M))
  }

  /** The d (row, slot) probe cells of a hashed token: slot_j = ((a_j·h + b_j)
    * mod M) mod w.
    */
  private def probeCells(h: Column): Column =
    array((0 until D).map { j =>
      struct(lit(j).as("j"),
        (((lit(As(j)) * h + lit(Bs(j))) % Dedup.M) % W).as("slot"))
    }: _*)

  /** Linear-counting distinct estimation per source: tokens hash into `m`
    * slots; the estimate is `−m·ln((m − occupied)/m)` — the classic
    * bounded-memory cardinality sketch (the load-factor regime where linear
    * counting beats HLL). The occupied-slot count dedups (source, slot)
    * FIRST — partial distinct bounds the shuffle at m rows per source per
    * partition, never the vocabulary — which is the entire point: the true
    * distinct count emitted beside it (as ground truth) is the expensive
    * aggregation the sketch exists to avoid. The ln is the one float op,
    * rounded; everything else is integer-exact.
    */
  def linearCount(docs: DataFrame, m: Int): DataFrame = {
    val words = docs.withColumn("toks", Corpus.tokens(col("text")))
      .select(col("source"), explode(col("toks")).as("w"))
    val occ = words.select(col("source"), (tokenHashUdf(col("w")) % m).as("slot"))
      .distinct()
      .groupBy("source").agg(count(lit(1)).as("occupied"))
    val tru = words.select("source", "w").distinct()
      .groupBy("source").agg(count(lit(1)).as("true_distinct"))
    // a saturated sketch (every slot occupied) has no finite estimate —
    // null, not -Infinity (which engines render differently); real sizing
    // keeps the load factor well below 1 so this is the overflow signal
    tru.join(occ, Seq("source"))
      .withColumn("est", when(col("occupied") === m.toLong, lit(null))
        .otherwise(round(lit(-m.toDouble) *
          log((lit(m.toLong) - col("occupied")).cast("double") / lit(m.toDouble)), 4)))
  }

  /** HyperLogLog registers per source. Register = low bits of the token
    * hash; rank ρ = position of the first set bit in the remaining 27-bit
    * suffix (1-based; an all-zero suffix saturates at 28). Exposed so the
    * estimator AND tests share one register definition.
    */
  val HllM = 16
  private val hllRhoUdf = udf { (h: java.lang.Long) =>
    if (h == null) null
    else {
      val suffix = h.longValue() >>> 4 // 27 significant bits remain
      java.lang.Integer.valueOf(
        if (suffix == 0L) 28
        else 27 - (63 - java.lang.Long.numberOfLeadingZeros(suffix)))
    }
  }

  /** HyperLogLog distinct estimate per source — the third of the classic
    * sketch trio (CMS frequencies, linear counting at low load, HLL at
    * any range). α₁₆·m²/Σ2^−M_j over the m=16 per-register maxima.
    *
    * Cross-engine determinism: every 2^−M_j is an exact power of two and
    * the register maxima are small ints, so the Σ is EXACT in IEEE double
    * (no rounding ⇒ no order dependence — the one float sum in the repo
    * that needs no round()); the final α·m²/Σ is a fixed op sequence.
    *
    * Scale shape: identical to linearCount — the register table dedups
    * (source, register, rho) partial-aggregated map-side to ≤ m·28 rows
    * per source per partition, then one bounded per-source fold. The true
    * distinct count rides along as ground truth only.
    */
  /** (source, w) token occurrences — shared by the HLL family. */
  private def sourceWords(docs: DataFrame): DataFrame =
    docs.withColumn("toks", Corpus.tokens(col("text")))
      .select(col("source"), explode(col("toks")).as("w"))

  /** Per-source HLL register maxima (source, reg, m_reg) — the mergeable
    * sketch state itself (register-wise max merges two sketches exactly).
    */
  private def hllRegisters(words: DataFrame): DataFrame =
    words.withColumn("h", tokenHashUdf(col("w")))
      .select(col("source"), (col("h") % HllM).as("reg"), hllRhoUdf(col("h")).as("rho"))
      .groupBy("source", "reg").agg(max("rho").as("m_reg"))

  /** The α₁₆·m²/(Σ2^−M + empty-register ones) estimate over grouped
    * register rows — ONE formula for per-source (q90) and per-pair-union
    * (q99) estimation so the two can never drift.
    */
  private def hllEstimate(regs: DataFrame, keys: Seq[String], outCol: String): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_regs"),
        sum(pow(lit(2.0), -col("m_reg"))).as("s_hit"))
      .select(keys.map(col) :+
        round(lit(0.673 * HllM * HllM) /
          (col("s_hit") + (lit(HllM.toLong) - col("n_regs")).cast("double")), 4)
          .as(outCol): _*)

  def hllCount(docs: DataFrame): DataFrame = {
    val words = sourceWords(docs)
    val tru = words.select("source", "w").distinct()
      .groupBy("source").agg(count(lit(1)).as("true_distinct"))
    // registers a source never hits contribute 2^0 = 1 each: add
    // (HllM - n_regs) driver-constant-free via the bounded aggregate
    tru.join(hllEstimate(hllRegisters(words), Seq("source"), "est"), Seq("source"))
  }

  /** HLL set union across every source pair: the two sources' register
    * rows merge by register-wise MAX and the union cardinality estimate
    * falls out of the same α·m²/Σ formula — the mergeability that makes
    * HLL the 100 TB cardinality tool (per-partition partial sketches
    * combine associatively; here the per-source sketches stand in for
    * the partials). Ground-truth union distinct rides along.
    *
    * Scale shape: register tables are ≤ m rows per source; the pair
    * expansion is a broadcast of the (bounded-by-domain²) pair list; the
    * only corpus-sized stage is the ground-truth distinct, which the
    * sketch exists to avoid. The source list is collected driver-side —
    * bounded by #domains, the A1 TreeSet argument.
    */
  def hllUnion(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = sourceWords(docs)
    val regs = hllRegisters(words)
    val srcs = regs.select("source").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val mem = (for { a <- srcs; b <- srcs if a < b } yield (a, b))
      .toDF("src_a", "src_b")
      .select(col("src_a"), col("src_b"),
        explode(array(col("src_a"), col("src_b"))).as("source"))
    val merged = regs.join(broadcast(mem), Seq("source"))
      .groupBy("src_a", "src_b", "reg").agg(max("m_reg").as("m_reg"))
    val tru = words.select("source", "w").distinct()
      .join(broadcast(mem), Seq("source"))
      .select("src_a", "src_b", "w").distinct()
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("true_union"))
    tru.join(hllEstimate(merged, Seq("src_a", "src_b"), "est_union"),
      Seq("src_a", "src_b"))
  }

  /** Bloom geometry: m bits, k probe positions. Sized so the test corpus
    * exhibits real false positives occasionally while production sizing
    * (m ≈ 1.44·k·n bits for target FP rate 2^−k) stays cluster-trivial —
    * even 10⁹ corpus docs at 10 bits/doc is a ~1.2 GB broadcast, and the
    * bit-set DataFrame here is bounded by m distinct positions regardless
    * of corpus size.
    */
  val BloomM = 65536
  val BloomK = 3

  /** The k probe positions of a fingerprint: ((a_i·fp + b_i) mod M) mod m,
    * the repo-wide affine family. fp < 2^32 and a_i < 2^26 keep every
    * product below 2^63 — exact in any engine.
    */
  private def bloomPositions(fp: Column): Column =
    array((0 until BloomK).map { i =>
      (lit(Dedup.As(i)) * fp + lit(Dedup.Bs(i))) % Dedup.M % BloomM
    }: _*)

  /** One row per (document, probe position) — the row-local projection the
    * batch bit-set aggregation AND the streaming maintainer
    * (EventStream.bloomBits) share, so bit semantics can never drift
    * between them.
    */
  def bloomPositionRows(docs: DataFrame): DataFrame =
    docs.select(explode(bloomPositions(Dedup.cpFold32(col("text")))).as("pos"))

  /** Bloom-filter ingest pre-filter: summarize the EXISTING corpus's
    * document fingerprints into an m-bit Bloom filter, then test every
    * NEW-batch document's membership — the constant-space screen that runs
    * BEFORE any expensive dedup join (a `bloom_hit = 0` doc is certainly
    * novel and skips the q85-style verification entirely). Emits the exact
    * membership verdict beside the Bloom verdict, so false positives are
    * visible in the output (`bloom_hit = 1, exact_dup = 0`) — never false
    * negatives, the Bloom guarantee the roundtrip test pins.
    *
    * Scale shape: the bit set is a distinct-position aggregate bounded by m
    * rows (partial-distinct collapses map-side) and broadcast — structurally
    * bounded, so the hint is safe; the new batch probes it with one
    * k-row explode + semi-join, and the ground-truth check is one keyed
    * fingerprint join sized by the batch. The 100 TB corpus is read once.
    */
  def bloomIngest(corpus: DataFrame, newDocs: DataFrame): DataFrame = {
    val bits = bloomPositionRows(corpus).distinct()
    val nb = newDocs.select(col("doc_id"), Dedup.cpFold32(col("text")).as("fp"))
    val hits = nb.select(col("doc_id"), explode(bloomPositions(col("fp"))).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val oldFp = corpus.select(Dedup.cpFold32(col("text")).as("fp")).distinct()
      .withColumn("seen", lit(1))
    nb.join(hits, Seq("doc_id"), "left")
      .join(oldFp, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        (coalesce(col("n_hit"), lit(0L)) === BloomK.toLong).cast("int").as("bloom_hit"),
        coalesce(col("seen"), lit(0)).as("exact_dup"))
  }

  /** The sketch itself: per-(row, slot) counters over `docs`' token
    * occurrences — ≤ d·w distinct keys, so the map-side combine bounds the
    * shuffle at d·w rows per partition no matter the input size. The same
    * aggregation IS the streaming-maintenance state (EventStream.cmsSketch):
    * counters only ever add, so batch and incremental builds agree exactly.
    */
  def sketchCells(docs: DataFrame): DataFrame =
    docs.withColumn("toks", Corpus.tokens(col("text")))
      .select(explode(col("toks")).as("w"))
      .select(explode(probeCells(tokenHashUdf(col("w")))).as("pc"))
      .groupBy(col("pc.j").as("j"), col("pc.slot").as("slot"))
      .agg(count(lit(1)).as("cell"))

  /** Build the sketch from token occurrences and evaluate it for the
    * corpus's `topN` true heavy hitters: (token, true count, CMS estimate).
    * The exact top-N counts exist here only as the ground truth to verify
    * against; the sketch itself never needs them.
    */
  def cmsHeavyHitters(docs: DataFrame, topN: Int): DataFrame = {
    val cells = sketchCells(docs)
    val words = docs.withColumn("toks", Corpus.tokens(col("text")))
      .select(explode(col("toks")).as("w"))
    val top = words.groupBy("w").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("w").asc).limit(topN)
      .withColumn("h", tokenHashUdf(col("w")))
    val probes = top
      .select(col("w"), col("true_cnt"), explode(probeCells(col("h"))).as("pc"))
      .select(col("w"), col("true_cnt"),
        col("pc.j").as("j"), col("pc.slot").as("slot"))
    cells.join(broadcast(probes), Seq("j", "slot"))
      .groupBy("w", "true_cnt").agg(min("cell").as("est"))
      .orderBy(col("true_cnt").desc, col("w").asc)
  }

  /** The per-source register builder over ARBITRARY grouping keys — exposed
    * for hierarchical rollups (the q114 distinct-cardinality pyramid merges
    * these rows register-wise up the tile tree).
    */
  def hllRegisterRows(df: DataFrame, keys: Seq[String], h: Column): DataFrame =
    df.select(keys.map(col) :+ (h % HllM).as("reg") :+ hllRhoUdf(h).as("rho"): _*)
      .groupBy((keys :+ "reg").map(col): _*).agg(max("rho").as("m_reg"))

  /** [[hllEstimate]] over arbitrary keys, for callers outside this file. */
  def hllEstimateRows(regs: DataFrame, keys: Seq[String], outCol: String): DataFrame =
    hllEstimate(regs, keys, outCol)

  /** The repo-convention 31-polynomial mod 2^31−1 hash as a Column. */
  def tokenHash(c: Column): Column = tokenHashUdf(c)

  // ---------------------------------------------------------------- KMV

  /** KMV sketch size: k smallest distinct hash values. 64 keeps the whole
    * per-group aggregation state at 512 bytes while giving ~1/√(k−2) ≈ 13%
    * relative error on distinct estimates (Beyer et al., "On Synopses for
    * Distinct-Value Estimation Under Multiset Operations", SIGMOD'07).
    */
  val KmvK = 64
  /** Hash domain for the KMV estimator — q23's fingerprint modulus. */
  val KmvM = 4294967296L

  /** Bottom-k (KMV) distinct sketch as a typed [[Aggregator]]: the buffer
    * is the k smallest DISTINCT hash values seen so far, sorted ascending —
    * bounded at k longs per group regardless of input size, merged by
    * keeping the k smallest of the union. Insertion and merge are
    * order-insensitive, so the result is deterministic under any
    * partitioning / AQE re-plan — the property that lets the DuckDB oracle
    * hash-match it exactly (unlike KLL/t-digest, whose compaction depends
    * on arrival order). Registered per-use via `functions.udaf`, so Spark
    * plans it with map-side partial aggregation: each partition ships at
    * most k longs per group.
    *
    * Why KMV next to HLL (q90/q99): HLL unions perfectly but cannot
    * intersect (inclusion–exclusion error explodes); KMV supports the full
    * multiset algebra — the bottom-k of a UNION is computable from the two
    * sketches alone, and the Jaccard estimator |U ∩ A ∩ B| / |U| gives
    * intersections. That's the train/eval-overlap and cross-domain-leakage
    * estimator a corpus pipeline needs.
    */
  class KmvAgg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], h: Long): Array[Long] =
      if (buf.length >= k && h >= buf(buf.length - 1)) buf
      else if (java.util.Arrays.binarySearch(buf, h) >= 0) buf
      else {
        val out = buf :+ h
        java.util.Arrays.sort(out)
        if (out.length > k) out.take(k) else out
      }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val out = (a ++ b).distinct
      java.util.Arrays.sort(out)
      if (out.length > k) out.take(k) else out
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** The [[KmvAgg]] bottom-`k` as an aggregate function over a long column —
    * the one constructor every KMV sketch and packed-key top-k goes through.
    */
  private[graft] def kmv(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new KmvAgg(k), org.apache.spark.sql.Encoders.scalaLong)

  /** Distinct estimate from a KMV sketch column: exact size when the sketch
    * isn't full (the group had < k distinct values), else the classic
    * (k−1)·M / h_k — all integer division, exact in any engine.
    */
  private def kmvEst(name: String, k: Int): Column =
    when(size(col(name)) < k, size(col(name)).cast("long"))
      .otherwise(expr(s"${(k - 1).toLong * KmvM} div element_at($name, $k)"))

  /** Per-source KMV sketches + pairwise set algebra over every source pair:
    * distinct estimates per side, the union estimate from the merged
    * bottom-k, and the KMV Jaccard / intersection estimators. Estimates in
    * integer micro-units so the oracle matches bit-for-bit.
    *
    * Scale shape: ONE corpus pass into a k-long-bounded partial aggregate
    * (the udaf's map-side combine), a driver collect bounded by #domains
    * (the A1 TreeSet argument), then broadcast equi-joins over the
    * domain-pair list — no corpus-sized stage after the sketch build, and
    * the sketches themselves are what a 1000-executor run would ship to
    * the driver (k·#domains longs).
    */
  /** Exact-k uniform sample per source WITHOUT a per-group sort: rank docs
    * by an affine-mod-prime hash of doc_id — a BIJECTION (a·id+b mod p,
    * p = 2^31−1 prime, ids < p), so ranks are collision-free and the sample
    * is exactly min(k, n) docs per group — and select the bottom-k via the
    * KMV aggregator. The selected hash set is k·#sources longs (broadcast),
    * and membership is a semi-join; nothing ever sorts a whole stratum,
    * unlike rank-window sampling, and the sketch state merges across
    * partitions/batches (the same sample falls out of any split of the
    * data — deterministic distributed sampling without replacement).
    */
  def bottomKSample(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val a = Dedup.As(0); val b = Dedup.Bs(0)
    val h = (lit(a) * col("doc_id") + lit(b)) % Dedup.M
    val hashed = docs.select(col("source"), col("doc_id"), h.as("h"))
    val selected = hashed.groupBy("source").agg(kmv(k)(col("h")).as("kmv"))
      .select(col("source"), explode(col("kmv")).as("h"))
    hashed.join(broadcast(selected), Seq("source", "h"), "left_semi")
      .select("source", "doc_id")
  }

  /** Temperature-quota mixture sample, window-free: each source keeps
    * exactly `min(c, ceil(sqrt(c)·boost))` docs (q69's temperature quota —
    * but q69 only REPORTS the mixture counts; this materializes the sampled
    * ids). Selection = the first n_keep positions of the source's SORTED
    * bottom-k sketch (the sketch is ascending by construction, so a prefix
    * IS the bottom-n_keep), membership via broadcast semi-join. The sketch
    * size is derived from the actual max quota — a driver collect bounded
    * by #sources (the A1 TreeSet argument) — so the prefix can never
    * truncate; no stratum is ever sorted whole.
    */
  def quotaSample(docs: DataFrame, boost: Double): DataFrame = {
    val a = Dedup.As(0); val b = Dedup.Bs(0)
    quotaPick(docs, boost, (lit(a) * col("doc_id") + lit(b)) % Dedup.M,
      Seq("doc_id"))
      .select("source", "doc_id")
  }

  /** The quota-pick CORE shared by [[quotaSample]] (q119, affine hash) and
    * Corpus.temperatureMix (q69, LCG hash): per-source lowest-`h` rows up
    * to the temperature quota `min(c, ceil(sqrt(c)·boost))`, selected as
    * the n_keep-prefix of the source's sorted KMV bottom-k sketch +
    * broadcast membership semi-join. `h` must be injective per source —
    * the repo's hash families are bijections mod their modulus, so this
    * holds exactly when ids stay BELOW the modulus (2³¹ for the lcg/affine
    * families — the corpus id convention every lcg consumer, q50/q51/q129/
    * q133, already shares; a colliding id would make the semi-join select
    * more rows than the quota where the old rank window picked exactly
    * n_keep); `carry` columns ride through
    * to the output. One implementation of the subtle sizing logic — the
    * sketch size derives from the ACTUAL max quota (driver collect bounded
    * by #sources), so the prefix can never truncate.
    */
  private[graft] def quotaPick(docs: DataFrame, boost: Double, h: Column,
      carry: Seq[String]): DataFrame = {
    val quota = least(col("c"),
      ceil(sqrt(col("c").cast("double")) * boost).cast("long"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("c"))
      // tiny (#sources); feeds the k computation AND the quotas. A
      // checkpoint, not a cache entry: freed with the plan that reads it
      .localCheckpoint()
    // coalesce: max over ZERO sources is null — an empty corpus must yield
    // an empty pick, not an NPE (the triangleOrientation bug class)
    val kMax = counts.select(quota.as("q"))
      .agg(coalesce(max("q"), lit(0L))).head.getLong(0).toInt
    val hashed = docs.select(col("source") +: h.as("h") +: carry.map(col): _*)
    if (kMax <= 0) return hashed.limit(0)
    val sel = hashed.groupBy("source").agg(kmv(kMax)(col("h")).as("kmv"))
      .join(broadcast(counts), Seq("source"))
      .select(col("source"), quota.as("n_keep"),
        posexplode(col("kmv")).as(Seq("pos", "h")))
      .filter(col("pos") < col("n_keep"))
      .select("source", "h")
    hashed.join(broadcast(sel), Seq("source", "h"), "left_semi")
  }

  /** Grouped top-k WITHOUT a rank window: top `k` docs per source by
    * (n_chars desc, doc_id asc), as the bottom-k of a PACKED order key
    * `(2^20 − n_chars)·2^40 + doc_id` through the same KMV aggregator —
    * score inversion makes "largest score, then smallest id" the packed
    * minimum, and unpacking is exact integer arithmetic.
    *
    * Scale shape: this is the grouped-top-k primitive for keys too hot to
    * window — `Window.partitionBy(source).orderBy(...)` sorts EVERY row of
    * the hottest source through one task, while the packed-KMV state is k
    * longs per group, merged associatively map-side (and across streaming
    * micro-batches, like every sketch here). One aggregation, one
    * explode — no join, no sort, no window.
    */
  def groupedTopK(docs: DataFrame, k: Int): DataFrame = {
    import graft.core.PackedKey.{hiOf, idOf, pack}
    val packed = docs.select(col("source"),
      pack(lit(1048576L) - col("n_chars"), col("doc_id")).as("pk"))
    packed.groupBy("source").agg(kmv(k)(col("pk")).as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("pos", "pk")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
        idOf(col("pk")).as("doc_id"),
        (lit(1048576L) - hiOf(col("pk"))).as("n_chars"))
  }

  def kmvOverlap(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sk = docs
      .select(col("source"), Dedup.cpFold32(col("text")).as("h"))
      .groupBy("source").agg(kmv(k)(col("h")).as("kmv"))
      // tiny (#domains rows); feeds the pair collect AND both join sides
      .localCheckpoint()
    val srcs = sk.select("source").collect().map(_.getString(0)).sorted.toSeq
    val pairs = (for { a <- srcs; b <- srcs if a < b } yield (a, b))
      .toDF("source_a", "source_b")
    pairs
      .join(broadcast(sk.select(col("source").as("source_a"), col("kmv").as("ka"))), Seq("source_a"))
      .join(broadcast(sk.select(col("source").as("source_b"), col("kmv").as("kb"))), Seq("source_b"))
      .withColumn("u", slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("inter",
        size(array_intersect(array_intersect(col("u"), col("ka")), col("kb"))).cast("long"))
      .withColumn("est_a", kmvEst("ka", k))
      .withColumn("est_b", kmvEst("kb", k))
      .withColumn("est_union", kmvEst("u", k))
      .withColumn("jacc_micro", expr("inter * 1000000 div size(u)"))
      .withColumn("est_inter", expr("inter * est_union div size(u)"))
      .select("source_a", "source_b", "est_a", "est_b", "est_union",
        "jacc_micro", "est_inter")
  }

  /** Sample-based quantile estimation from the KMV sketch: the per-source
    * bottom-k-by-hash member set ([[bottomKSample]]) is a uniform k-sample
    * of the source, so the sample's rank statistic estimates the source
    * quantile with O(1/√k) rank error — k values of mergeable state per
    * source, the third point on the repo's quantile spectrum after q75
    * (exact, per-source sort) and q86 (exact, value-domain histogram):
    * this one stays bounded even when the VALUE domain is unbounded.
    * Emits the estimate beside the exact statistic and the absolute error
    * so the estimator is auditable per source.
    *
    * Both medians are the lower-median rank ⌈m/2⌉ = (m+1) div 2, integer
    * arithmetic mirrored in the oracle. The exact side reuses q75's
    * rank-window formulation — it is the AUDIT column; at corpus scale the
    * estimate column is the product and the exact side drops away (or
    * becomes q86's histogram).
    */
  /** Weighted without-replacement sample, k per source (Efraimidis–
    * Spirakis A-ES): each doc draws the deterministic uniform
    * u = (lcg(id)+1)/2³¹ and ranks by u^(1/w) — equivalently ln(u)/w,
    * used here because it stays monotone after the repo's 6-digit ln
    * rounding — so a doc's selection probability is proportional to its
    * weight (n_tokens: longer docs are likelier, the quality/length-
    * weighted corpus draw). Top-k per source rides the packed-key KMV
    * bottom-k — k longs of mergeable state per source, no per-source
    * sort; key_micro ≥ −21.49e6 (u ≥ 2⁻³¹), so the (3e7 − km)·2³² + id
    * packing stays under 2⁶³ with id < 2³².
    */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val w = greatest(size(Corpus.tokens(col("text"))), lit(1)).cast("double")
    val u = (Corpus.lcg(col("doc_id")) + 1L).cast("double") / 2147483648.0
    val keyMicro = round(round(log(u), 6) / w * 1e6, 0).cast("long")
    docs.select(col("source"),
        ((lit(30000000L) - keyMicro) * lit(4294967296L) + col("doc_id")).as("pk"))
      .groupBy("source").agg(kmv(k)(col("pk")).as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("pos", "pk")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
        expr("pk % 4294967296").as("doc_id"),
        (lit(30000000L) - expr("pk div 4294967296")).as("key_micro"))
  }

  def sampleQuantiles(docs: DataFrame, k: Int): DataFrame = {
    val tk = docs.select(col("doc_id"), col("source"),
      size(Corpus.tokens(col("text"))).as("n_tokens"))
    val est = bottomKSample(docs, k)
      .join(tk, Seq("source", "doc_id"))
      .groupBy("source")
      .agg(sort_array(collect_list(col("n_tokens"))).as("sv"))
      .select(col("source"), size(col("sv")).cast("long").as("n_sample"),
        expr("element_at(sv, int((size(sv) + 1) div 2))").cast("long").as("est_p50"))
    // the exact audit arm via the q86 histogram decomposition (round 9):
    // value at rank (n+1) div 2 == min value whose cumulative histogram
    // count reaches that rank — identical statistic, but the windows run
    // over (source, n_tokens) HISTOGRAM rows (value-domain-bounded), so
    // no task sorts a whole source and the PlanSpec source-alone-window
    // whitelist is empty
    val hist = tk.groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy("source").orderBy("n_tokens")
    val whole = Window.partitionBy("source")
    val exact = hist
      .withColumn("hi", sum("c").over(cum))
      .withColumn("n", sum("c").over(whole))
      .groupBy("source")
      .agg(min(when(col("hi") >= expr("(n + 1) div 2"), col("n_tokens")))
        .cast("long").as("exact_p50"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n_sample"), col("est_p50"),
        col("exact_p50"), abs(col("est_p50") - col("exact_p50")).as("abs_err"))
  }
}
