package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Corpus
/** MinHash-signature near-duplication — signatures, banding, LSH candidate
  * pairs and everything keyed off them: calibration, the (b, r) tuner,
  * ingest-time dedup, containment, n-gram Jaccard, winnowing fingerprints
  * and the leakage-free split. One of the five families mixed into
  * [[graft.operators.Dedup]] (round-11 split — object name and public API
  * unchanged). Self-type: the tuner replays [[DedupJoins.ppjoinPairs]]'s
  * exact pairs and the split rides [[DedupGraph.duplicateClusters]].
  */
private[graft] trait DedupMinHash extends Serializable { this: DedupJoins with DedupGraph =>

  /** Modulus for all text hashing: 2^31-1 (Mersenne prime), keeping every
    * intermediate product below 2^63 so the same integer arithmetic is exact
    * in any engine.
    */
  val M: Long = 2147483647L

  // the (a, b) affine hash family — Sketch reuses its prefix and
  // SparkEntry's oracle SQL generator reads it too, so the repo has ONE
  // Scala source of truth for these parameters
  private[graft] val As = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)

  private[graft] val Bs = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  val NumHashes: Int = As.size

  val NumBands: Int = 4 // 4 bands x 2 rows

  /** 31-polynomial fold over a string's UNICODE CODE POINTS mod `m`. All
    * repo text hashing iterates code points, NOT UTF-16 code units: the
    * DuckDB oracle mirrors fold per character of a UTF-8 string (one code
    * point each), so a charAt fold would diverge on any supplementary
    * character (emoji etc.) by hashing its two surrogates. Identical for
    * BMP text. (Exception: the salted-key path — Java String.hashCode
    * parity is code-unit by DEFINITION; map keys are ASCII identifiers.)
    */
  private[graft] def cpFold(s: String, m: Long): Long = {
    var a = 0L; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      a = (a * 31 + cp) % m
      i += Character.charCount(cp)
    }
    a
  }

  private val cpFold32Udf = udf { (s: String) =>
    if (s == null) null else java.lang.Long.valueOf(cpFold(s, 4294967296L))
  }

  /** [[cpFold]] mod 2³² of a string column, null for null: the repo's one
    * 32-bit text fingerprint (q23's document fingerprint, q112's KMV and
    * its streaming maintainer, the point-blob checksum, export shards).
    */
  def cpFold32(text: Column): Column = cpFold32Udf(text)

  /** Full MinHash signature in one JIT-compiled pass over the text (the
    * HOF-expression formulation evaluates interpreted per element — ~10×
    * slower; the arithmetic here is identical and engine-portable).
    * Shingles are 5-CODE-POINT windows — see [[cpFold]] for why.
    */
  private val minhashSigUdf = udf { (t: String) =>
    val cps = if (t == null) Array.empty[Int] else t.codePoints().toArray
    val n = cps.length - 4
    if (n <= 0) null
    else {
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        var a = 0L; var j = i; val e = i + 5
        while (j < e) { a = (a * 31 + cps(j)) % M; j += 1 }
        hs(i) = a; i += 1
      }
      As.zip(Bs).map { case (a, b) =>
        var m = Long.MaxValue; var k = 0
        while (k < hs.length) { val v = (a * hs(k) + b) % M; if (v < m) m = v; k += 1 }
        m
      }.toArray
    }
  }

  /** MinHash signature columns mh0..mh7 from a `text` column. */
  def withMinhashSignature(docs: DataFrame): DataFrame = {
    val withSig = docs.withColumn("sig", minhashSigUdf(col("text")))
    As.indices.foldLeft(withSig) { (df, k) =>
      df.withColumn(s"mh$k", element_at(col("sig"), k + 1))
    }.drop("sig")
  }

  /** Skew guard, ON BY DEFAULT: buckets above this size are dropped from
    * candidate generation. The candidate join's work is Σ bucket² — one hot
    * (band, bh) bucket (boilerplate hashing identically across millions of
    * docs) otherwise turns the whole pass quadratic; measured on this repo's
    * own scale probe, a 51%-of-corpus degenerate bucket made a 10× corpus
    * cost 80× before the cap. A bucket this size is a degenerate collision
    * class, not near-dup evidence (the q29/q47 oracles mirror the same
    * HAVING filter).
    */
  val DefaultBucketCap = 1024

  /** (doc_id, band, bh) band-bucket keys of each document — the LSH index
    * rows. Row-local (signature UDF + arithmetic), so the same projection
    * serves the batch candidate join AND streaming index maintenance.
    */
  def bandKeys(docs: DataFrame): DataFrame = {
    val sig = withMinhashSignature(docs)
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        ((col(s"mh${2 * b}") * 31 + col(s"mh${2 * b + 1}")) % M).as("bh"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Drop band buckets larger than `cap` (the hot-bucket skew guard) —
    * shared by the self-join (q29) and ingest (q85) candidate generators so
    * the cap semantics can never drift between them.
    */
  private def capHotBuckets(bands: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) bands
    else {
      val hot = bands.groupBy("band", "bh")
        .agg(count(lit(1)).as("bsz")).filter(col("bsz") > cap)
      bands.join(broadcast(hot.select("band", "bh")), Seq("band", "bh"), "left_anti")
    }

  /** Fraction of agreeing minhashes between signature aliases `a` and `b` —
    * the one place the /NumHashes denominator lives.
    */
  private def estSim(a: String, b: String): Column =
    As.indices
      .map(k => when(col(s"$a.mh$k") === col(s"$b.mh$k"), 1).otherwise(0))
      .reduce(_ + _) / lit(NumHashes.toDouble)

  /** LSH banding: candidate pairs sharing any (band, bandHash) bucket, with
    * the estimated similarity (fraction of agreeing minhashes) ≥ minEst.
    * The self-join key is the band hash — bucket-local pairs only.
    *
    * `maxBucketSize` (default [[DefaultBucketCap]]) is the skew guard for
    * real corpora — see the cap doc above. Members of a dropped bucket
    * still meet through their other NumBands-1 bands unless those are
    * equally degenerate. The overflow list is tiny, so the anti-join
    * broadcasts.
    */
  def lshCandidatePairs(docs: DataFrame, minEst: Double,
      maxBucketSize: Int = DefaultBucketCap): DataFrame = {
    // the signature table feeds three plan branches (band explode + both
    // sides of the estimate join), so the minhash UDF runs ~3× per action.
    // A persist here measured SLOWER at bench scale (materialization
    // barrier + cached-stats join replanning outweigh the recompute); at
    // true corpus scale, persist/write the signature table ONCE upstream
    // (as Workflow.build does for the occurrence snapshot) rather than
    // caching inside this operator.
    val sig = withMinhashSignature(docs).select("doc_id", As.indices.map(k => s"mh$k"): _*)
    val bands = capHotBuckets(bandKeys(docs), maxBucketSize)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), estSim("sa", "sb").as("est_sim"))
      .filter(col("est_sim") >= minEst)
  }

  /** Ingest-time dedup of a NEW batch against an EXISTING corpus: candidate
    * generation joins the new batch's band keys against the corpus band
    * index (the table EventStream.lshBandIndex maintains incrementally —
    * recomputed here from `corpus` so the operator is self-contained), then
    * verifies candidates by minhash agreement. Emits every new doc with the
    * smallest corpus doc it duplicates (`dup_of`, null = novel).
    *
    * Scale shape: the production ingest path — verification signatures are
    * computed only for candidate-matched corpus docs (the semi-join prunes
    * first), so verify cost scales with the candidate set; the new batch
    * (orders of magnitude smaller) drives every join. The hot-bucket cap
    * guards the index side exactly as in [[lshCandidatePairs]]. Because
    * this self-contained form RECOMPUTES the band index from `corpus`, the
    * candidate subtree appears in two plan branches and executes twice per
    * action — deliberately NOT checkpointed here (a lineage cut hides the
    * join from plan inspection and, under AQE, runs its stages at mere
    * DataFrame construction); in production the band index and signature
    * table are precomputed stored tables (EventStream.lshBandIndex is the
    * index's streaming maintainer) and the double-compute vanishes.
    */
  def ingestDedup(corpus: DataFrame, newDocs: DataFrame, minEst: Double,
      maxBucketSize: Int = DefaultBucketCap): DataFrame = {
    val idx = capHotBuckets(bandKeys(corpus), maxBucketSize)
      .withColumnRenamed("doc_id", "old_id")
    val nb = bandKeys(newDocs).withColumnRenamed("doc_id", "new_id")
    val cand = nb.join(idx, Seq("band", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
    val mhs = As.indices.map(k => s"mh$k")
    val sigN = withMinhashSignature(newDocs).select("doc_id", mhs: _*)
    // no broadcast hint: the matched-id set is bounded only by batch size ×
    // bucket occupancy — AQE broadcasts it when it is actually small, and a
    // shuffled semi-join survives the batches a forced broadcast would OOM
    val sigO = withMinhashSignature(
      corpus.join(cand.select(col("old_id")).distinct(),
        col("doc_id") === col("old_id"), "left_semi"))
      .select("doc_id", mhs: _*)
    val dups = cand
      .join(sigN.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sigO.as("sb"), col("old_id") === col("sb.doc_id"))
      .select(col("new_id"), col("old_id"), estSim("sa", "sb").as("est_sim"))
      .filter(col("est_sim") >= minEst)
      .groupBy("new_id").agg(min("old_id").as("dup_of"))
    newDocs.select(col("doc_id"))
      .join(dups, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("dup_of"))
  }

  /** Edit-distance verification of LSH candidates: every
    * [[lshCandidatePairs]] pair gets an exact Levenshtein distance over the
    * two documents' first `prefixLen` characters and a `near_dup` verdict
    * (`dist ≤ maxDist`) — the precise-but-quadratic-per-pair verifier that
    * at scale must ONLY ever run on LSH-blocked candidates (cost is
    * |candidates|·prefixLen², never corpus²). The prefix cap bounds the DP
    * per pair; near-dup docs agree in their prefix with the same edit
    * density as anywhere else, which is why prefix-Levenshtein is the
    * standard cheap verifier.
    *
    * Uses Spark's builtin codegen'd `levenshtein` WITH the threshold
    * argument — the banded DP that only fills cells within `maxDist` of
    * the diagonal (O(maxDist·prefixLen) per pair, not prefixLen²) and
    * returns −1 past the band. `edit_dist = −1` therefore means "further
    * than maxDist", exactly the information the dedup decision needs
    * (measured ~2.5× faster than the full DP on this suite's candidate
    * set, where most pairs are far). Distance semantics are the classic
    * character DP — identical in DuckDB for BMP text.
    *
    * Scale shape: inherits the bucketed candidate join; the two text
    * lookups are doc_id-keyed joins projecting ONLY the prefix (the scan
    * never carries full text into the shuffle); the distance expression
    * is evaluated ONCE per pair (the verdict derives from the column, so
    * no double DP hides in the projection).
    */
  def editVerifiedPairs(docs: DataFrame, minEst: Double, prefixLen: Int,
      maxDist: Int): DataFrame = {
    val pre = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("pre"))
    val cand = lshCandidatePairs(docs, minEst).select("doc_a", "doc_b")
    cand
      .join(pre.select(col("doc_id").as("doc_a"), col("pre").as("pa")), Seq("doc_a"))
      .join(pre.select(col("doc_id").as("doc_b"), col("pre").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), maxDist).as("edit_dist"))
      .withColumn("near_dup", (col("edit_dist") =!= -1).cast("int"))
  }

  /** Distinct word-trigram set of `text`, as 31-polynomial hashes mod M —
    * long set-intersection is ~10× cheaper than string sets, and word
    * n-grams keep the sets ~5× smaller than char shingles.
    */
  private[dedup] val trigramHashSetUdf = udf { (t: String) =>
    val toks = if (t == null) Array.empty[String] else t.trim.split("\\s+")
    if (toks.length < 3) Array.empty[Long]
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      var i = 0
      while (i < toks.length - 2) {
        val s = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        seen += cpFold(s, M)
        i += 1
      }
      seen.toArray
    }
  }

  /** Asymmetric containment over distinct hashed word-trigram sets on LSH
    * candidates: `contain_a = |A∩B|/|A|` (how much of A lies inside B) and
    * the mirror — the quote/boilerplate-inclusion detector exact Jaccard
    * misses (a small doc fully quoted inside a large one has low Jaccard
    * but containment 1.0). Pairs are kept when EITHER direction reaches
    * `minContain`.
    *
    * Scale shape: inherits the bucketed candidate join (never all-pairs);
    * set intersection is per-pair row-local. Caveat the doc carries: LSH
    * on minhash-Jaccard under-recalls extreme-size-ratio containment
    * pairs — at scale the blocking for a dedicated containment pass keys
    * on the SMALLER doc's bottom-k shingle hashes instead; this operator
    * is the verify stage either way.
    */
  def containmentPairs(docs: DataFrame, minEst: Double,
      minContain: Double): DataFrame = {
    val sh = docs.withColumn("s", trigramHashSetUdf(col("text")))
      .select(col("doc_id"), col("s"))
    val cand = lshCandidatePairs(docs, minEst).select("doc_a", "doc_b")
    val inter = size(array_intersect(col("a.s"), col("b.s")))
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      // guard the divisions: a doc under 3 tokens has an empty trigram set
      .filter(size(col("a.s")) > 0 && size(col("b.s")) > 0)
      .select(col("doc_a"), col("doc_b"),
        inter.as("n_common"),
        size(col("a.s")).as("n_a"), size(col("b.s")).as("n_b"),
        (inter / size(col("a.s"))).as("contain_a"),
        (inter / size(col("b.s"))).as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= minContain)
  }

  /** Containment-DEDICATED blocking: exact prefix filtering on the
    * contained side's sorted trigram hashes, verified directionally. LSH
    * on minhash-Jaccard under-recalls extreme-size-ratio containment
    * pairs (a 20-token doc quoted inside a 2000-token doc has Jaccard
    * ~1%, so no band collides even at containment 1.0); this pass blocks
    * on the SMALLER doc's own hashes instead, so recall is independent of
    * the size ratio:
    *
    *  - posting index: every doc's every trigram hash, minus hashes
    *    hotter than `postingCap` docs (boilerplate trigrams — the same
    *    degenerate-key guard as the LSH bucket cap);
    *  - probe: doc A exposes only the PREFIX of its ascending-sorted
    *    hash set — the first |A| − ⌈|A|·t⌉ + 1 hashes. If
    *    |A∩B| ≥ t·|A| then A has at most |A| − ⌈t·|A|⌉ hashes outside
    *    B, so at least one prefix hash hits B's postings: the filter is
    *    EXACT (zero recall loss below the cap), not probabilistic;
    *  - verify: one row-local set intersection per candidate, keep
    *    directional pairs with contain_a ≥ t.
    *
    * Scale shape: postings are linear in corpus trigrams (the same
    * magnitude as the signature build), the probe side is a ~(1−t)
    * fraction of that, and the join is hash-keyed — never all-pairs. The
    * driver corpus's containment pairs all happen to be near-dups too, so
    * the size-ratio recall win is exercised by the constructed
    * quoted-snippet pair in OperatorSpec.
    */
  def containmentBlockedPairs(docs: DataFrame, minContain: Double,
      postingCap: Int): DataFrame = {
    val sh = docs.withColumn("s", sort_array(trigramHashSetUdf(col("text"))))
      .filter(size(col("s")) > 0)
      .select(col("doc_id"), col("s"))
    val post = sh.select(col("doc_id").as("doc_b"), explode(col("s")).as("h"))
    val ok = post.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= postingCap).select("h")
    val n = size(col("s"))
    val probe = sh.select(col("doc_id").as("doc_a"),
      explode(slice(col("s"), lit(1),
        n - ceil(n.cast("double") * lit(minContain)).cast("int") + lit(1))).as("h"))
    val cand = probe.join(post.join(ok, "h"), "h")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("a.s"), col("b.s")))
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        inter.as("n_common"), size(col("a.s")).as("n_a"),
        size(col("b.s")).as("n_b"),
        (inter / size(col("a.s"))).as("contain_a"))
      .filter(col("contain_a") >= minContain)
  }

  /** Distinct 5-code-point shingle hashes of `text` — the EXACT set whose
    * Jaccard the minhash signature estimates; [[lshCalibration]]'s ground
    * truth. Same fold, same window as [[minhashSigUdf]].
    */
  private[graft] val shingleSetUdf = udf { (t: String) =>
    val cps = if (t == null) Array.empty[Int] else t.codePoints().toArray
    val n = cps.length - 4
    if (n <= 0) Array.empty[Long]
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      var i = 0
      while (i < n) {
        var a = 0L; var j = i; val e = i + 5
        while (j < e) { a = (a * 31 + cps(j)) % M; j += 1 }
        seen += a; i += 1
      }
      seen.toArray
    }
  }

  /** LSH estimator calibration matrix: for every candidate pair, the
    * signature-agreement count (0–8, the estimator) against the EXACT
    * shingle-Jaccard decile (the estimand), with pair counts and exact
    * micro-Jaccard sums per cell — the precision/threshold-tuning evidence
    * a dedup pipeline publishes before committing to an `est ≥ t` cut
    * (how many pairs does each estimator band contain, and what is their
    * true similarity spread?).
    *
    * Scale shape: candidates come from the capped LSH join (never
    * all-pairs); the exact sets ride the same two id-keyed joins the
    * verifiers use; the matrix is a ≤ 9×11-cell aggregate. Integer
    * discipline: exact Jaccard is `inter·10⁶ div union` (empty-vs-empty
    * → 10⁶ by convention), so cells are exact long sums.
    */
  def lshCalibration(docs: DataFrame, minEst: Double): DataFrame = {
    val pairs = lshCandidatePairs(docs, minEst)
    val sh = docs.withColumn("s", shingleSetUdf(col("text")))
      .select(col("doc_id"), col("s"))
    // round-12 measured NEGATIVE result: persisting sh across the two
    // verify-join sides was a WASH in a same-session interleaved A/B
    // (unpersisted 19.3–31.3 cpu-s vs persisted 20.6–27.0; wall identical;
    // OPTIMIZATION_r12.md:384) —
    // the broadcast candidate chain streams sh through chained BHJs, so
    // the UDF was never actually paid twice. Not shipped (guide §1.3).
    val inter = size(array_intersect(col("a.s"), col("b.s"))).cast("long")
    val uni = size(col("a.s")).cast("long") + size(col("b.s")).cast("long") - inter
    pairs
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(round(col("est_sim") * 8, 0).cast("int").as("est_agree"),
        inter.as("i"), uni.as("u"))
      .select(col("est_agree"),
        when(col("u") === 0, lit(1000000L))
          .otherwise(expr("i * 1000000 div u")).as("ex_micro"))
      .groupBy(col("est_agree"), expr("ex_micro div 100000").as("ex_decile"))
      .agg(count(lit(1)).as("n_pairs"), sum("ex_micro").as("sum_ex_micro"))
  }

  /** Exact n-gram Jaccard over distinct hashed word-trigram sets, blocked by
    * a grouping column (at scale: always pre-blocked — by LSH bucket or
    * metadata key — never the raw cross product).
    */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, minJaccard: Double): DataFrame = {
    val sh = docs.withColumn("s", trigramHashSetUdf(col("text")))
      .select(col("doc_id"), col(blockCol).as("blk"), col("s"))
    val inter = size(array_intersect(col("a.s"), col("b.s")))
    sh.as("a")
      .join(sh.as("b"), col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (inter / (size(col("a.s")) + size(col("b.s")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Winnowing k-gram length (characters) and window size (consecutive
    * k-gram positions). Guarantee: any substring shared by two documents of
    * length ≥ K+W−1 = 11 characters produces a shared fingerprint
    * (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03 — the MOSS algorithm). Unlike the q23 whole-
    * doc fingerprint or q87's disjoint chunks, winnowing is ALIGNMENT-FREE:
    * an insertion early in a copy shifts every later chunk boundary but
    * leaves winnowed fingerprints of untouched regions identical.
    */
  val WinnowK = 8

  val WinnowW = 4

  /** Positions pack into the low 20 bits of the window-min encoding —
    * h·2^20 + (2^20−1−pos) < 2^51 stays long-exact in any engine. Documents
    * are bounded at 2^20 characters (a corpus pipeline chunks anything
    * bigger — q73 — long before fingerprinting).
    */
  private val PosBits = 20

  /** All k-gram hashes of `text` in position order: h_p = 31-polynomial
    * code-point fold mod [[M]] of text[p, p+K). One JIT pass per document
    * (same rationale as the MinHash UDF above).
    */
  private val kgramHashesUdf = udf { (t: String) =>
    if (t == null) Array.empty[Long]
    else {
      val cps = t.codePoints.toArray
      val n = cps.length - WinnowK + 1
      if (n <= 0) Array.empty[Long]
      else Array.tabulate(n) { p =>
        var a = 0L; var i = 0
        while (i < WinnowK) { a = (a * 31 + cps(p + i)) % M; i += 1 }
        a
      }
    }
  }

  /** Distinct winnowed fingerprints per document: every full window of W
    * consecutive k-gram positions selects its minimal hash (ties → the
    * RIGHTMOST position, the paper's robust-winnowing rule), encoded so one
    * integer `min` does both jobs: min over h·2^20 + (2^20−1−pos) orders by
    * hash first, then by DESCENDING position. The per-doc window sort
    * partitions by doc_id — document-bounded, never corpus-bounded.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shift = 1L << PosBits
    val pos = docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), length(col("text")).as("len"),
        posexplode(kgramHashesUdf(col("text"))).as(Seq("pos", "h")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, WinnowW - 1)
    pos
      .withColumn("cmin",
        min(col("h") * shift + (lit(shift - 1) - col("pos"))).over(w))
      // only FULL windows select (wstart ≤ len−K−W+1) — the tail's partial
      // frames would otherwise add selections the guarantee doesn't need
      .filter(col("pos") <= col("len") - (WinnowK + WinnowW - 1))
      .select(col("doc_id"), shiftright(col("cmin"), PosBits).as("fph"))
      .distinct()
  }

  /** Substring-overlap candidate pairs from shared winnowed fingerprints:
    * docs sharing ≥ `minShared` fingerprints, with per-doc fingerprint
    * counts and the containment-style overlap ratio in integer micro-units.
    * Fingerprints on more than `hotCap` docs are dropped first (boilerplate
    * substrings — the same hot-key cap as the LSH bucket cap q29 ships on
    * by default, and the reason the self-join below can never go
    * quadratic in the corpus).
    *
    * Scale shape: fingerprint postings are linear in corpus characters /
    * W; the cap bounds every join group at hotCap; pair aggregation is one
    * keyed shuffle of candidate-local rows.
    */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int, hotCap: Int): DataFrame = {
    val fp = winnowFingerprints(docs)
    val ok = fp.groupBy("fph").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= hotCap).select("fph")
    val fpo = fp.join(ok, Seq("fph"), "left_semi")
    val cnt = fpo.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val pairs = fpo.as("a")
      .join(fpo.as("b"),
        col("a.fph") === col("b.fph") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("nfp").as("n_a")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("nfp").as("n_b")), Seq("doc_b"))
      .withColumn("overlap_micro", expr("n_shared * 1000000 div least(n_a, n_b)"))
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "overlap_micro")
  }

  /** Cluster-integral train/val/test split: the 80/10/10 assignment hashes
    * the near-dup CLUSTER id ([[duplicateClusters]]'s label), not the doc
    * id — so no near-duplicate pair can straddle a split boundary. The
    * naive per-doc split (q51) leaks eval content into training whenever a
    * near-dup pair lands on both sides; splitting by connected-component
    * label is the leakage-free formulation a benchmark-grade corpus needs.
    * Emits per-split doc/cluster/char totals as the audit evidence.
    *
    * Scale shape: labeling is the q47 pointer-jumping iteration; the split
    * itself is a row-local hash of the label, and both aggregates are
    * keyed with map-side combine. The doc_id equi-join back to the corpus
    * is hash-partitioned on the key — no window, no driver state.
    */
  def leakageFreeSplit(docs: DataFrame, minEst: Double): DataFrame = {
    val b = Corpus.lcg(col("cluster_id")) % 100
    duplicateClusters(docs, minEst)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy("split", "cluster_id")
      .agg(count(lit(1)).as("nd"), sum("n_chars").as("sc"))
      .groupBy("split")
      .agg(sum("nd").as("n_docs"), count(lit(1)).as("n_clusters"),
        sum("sc").as("sum_chars"))
  }

  /** LSH (bands × rows) PARAMETER TUNER, weighted by the corpus's OWN
    * positive-pair similarity distribution — the MMDS §3.4 S-curve
    * P(candidate) = 1 − (1 − J^r)^b evaluated not on a uniform similarity
    * prior but on the EXACT set of pairs the banding must recall: every
    * pair with shingle-Jaccard ≥ t, enumerated losslessly by
    * [[ppjoinPairs]] (zero recall loss by the prefix-filter theorem), so
    * the expected-recall column is an unbiased corpus-specific number, not
    * a curve sketch. Complements q139 (empirical agreement-vs-Jaccard on
    * the CAPPED candidate population) with the analytic recall each
    * (b, r) split of the NumHashes-minhash signature would achieve —
    * including the worst single pair (the one most likely missed) and the
    * split's analytic balance point s50 = (1/b)^(1/r).
    *
    * Scale shape: q147's exchanges produce the positive pairs; the grid
    * fan-out is a row-local explode of a 4-element literal (no join); the
    * result is one keyed aggregate over exactly 4 groups. Double math
    * (power/round) is mirrored token-for-token in the oracle.
    */
  def lshParamTuner(docs: DataFrame, tMicro: Long): DataFrame = {
    val splits = (0 to 3).map(i => (1 << i, NumHashes >> i)) // b·r = 8
    val grid = typedlit(splits.map { case (b, r) => (b, r) })
    ppjoinPairs(docs, tMicro)
      .select(col("jacc_micro"), explode(grid).as("g"))
      .select(col("g._1").as("bands"), col("g._2").as("rows_per_band"),
        col("jacc_micro"),
        expr("""CAST(round(round(
          1 - power(1 - power(jacc_micro / 1000000.0, CAST(g._2 AS DOUBLE)),
                    CAST(g._1 AS DOUBLE)), 6) * 1000000.0, 0) AS BIGINT)""")
          .as("p_micro"))
      .groupBy("bands", "rows_per_band")
      .agg(count(lit(1)).as("n_true_pairs"),
        expr("sum(p_micro) div count(1)").as("exp_recall_micro"),
        min(col("p_micro")).as("worst_pair_micro"))
      .withColumn("s50_micro",
        expr("""CAST(round(round(power(1.0 / bands, 1.0 / rows_per_band), 6)
          * 1000000.0, 0) AS BIGINT)"""))
  }
}
